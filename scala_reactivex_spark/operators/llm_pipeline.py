"""Training-data preparation stages (SURVEY.md §2.10 family).

The last mile of an LLM data pipeline once documents are cleaned and
deduplicated:

- ``llm_doc_split``: deterministic train/val/test assignment by content
  hash — reproducible across engines, runs, and cluster sizes (never
  ``rand()``), with per-split stats.
- ``llm_pack_sequences``: sequence packing — documents streamed in a
  deterministic order into fixed-token-budget context windows (the
  pretraining "packing" step), as a windowed cumulative sum: no driver
  loop, one shuffle on the ordering key.
- ``llm_embed_quantize``: per-vector int8 quantization of embeddings
  (max-abs scaling) — the storage/serving compression step; pure column
  math over array HOFs, no Python.

All integer/ratio outputs follow the determinism conventions (§2.11).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from scala_reactivex_spark.functions.portable_hash import (
    kr31_duck_expr,
    kr31_spark_expr,
)
from scala_reactivex_spark.plans.memo import standing_artifact
from scala_reactivex_spark.plans.registry import register
from scala_reactivex_spark.sources.catalog import read_parquet, table

CONTEXT_TOKENS = 256  # pack budget (fixture docs are ~40-80 tokens)


@register(
    "llm_doc_split",
    tier="T3",
    doc="Deterministic train/val/test split: first md5 nibble routes "
    "~75/12.5/12.5%% of docs — content-addressed, so membership is stable "
    "under re-runs, repartitioning, and corpus growth (a doc's split "
    "never changes when OTHER docs arrive, unlike rand() or ntile).",
    oracle="""
WITH tagged AS (
  SELECT doc_id, lang,
         CASE
           WHEN substr(md5(text), 1, 1) BETWEEN '0' AND 'b' THEN 'train'
           WHEN substr(md5(text), 1, 1) IN ('c', 'd') THEN 'val'
           ELSE 'test'
         END AS split
  FROM documents
)
SELECT split, count(*) AS n_docs, count(DISTINCT lang) AS n_langs,
       min(doc_id) AS min_doc
FROM tagged GROUP BY split
""",
)
def llm_doc_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    nib = F.substring(F.md5(F.col("text").cast("binary")), 1, 1)
    split = (
        F.when(nib.between("0", "b"), "train")
        .when(nib.isin("c", "d"), "val")
        .otherwise("test")
    )
    return (
        table(spark, sf_dir, "documents")
        .withColumn("split", split)
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("lang").alias("n_langs"),
            F.min("doc_id").alias("min_doc"),
        )
    )


@register(
    "llm_pack_sequences",
    tier="T3",
    doc="Sequence packing: docs streamed in (lang, doc_id) order into "
    f"{CONTEXT_TOKENS}-token context windows — pack_id = floor(tokens-"
    "before-me / budget), the standard streaming pack-with-overflow "
    "(a straddling doc joins its starting pack).  Scale shape (two-"
    "phase, round-9): lang cardinality is tiny, so a per-lang cumsum "
    "window is a handful of corpus-wide sequential tasks — instead the "
    "prefix sum decomposes over contiguous doc_id buckets (the "
    "rel_window_funcs / zipf two-phase pattern): an in-bucket cumsum "
    "(parallel in langs × buckets) plus a corpus/2^16-row bucket-offset "
    "table.  Integers end to end; identical values.",
    oracle="""
WITH toks AS (
  SELECT doc_id, lang,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
  FROM documents
), packed AS (
  SELECT lang,
         CAST((SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
                                ROWS UNBOUNDED PRECEDING) - n_tok) // 256
              AS BIGINT) AS pack_id,
         n_tok
  FROM toks
)
SELECT lang, pack_id, count(*) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS pack_tokens
FROM packed GROUP BY lang, pack_id
""",
)
def llm_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.size(F.split("text", " ")).cast("bigint").alias("n_tok"),
    )
    toks = toks.withColumn("bk", F.expr("doc_id DIV 65536"))
    wb = (
        Window.partitionBy("lang", "bk")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    offs = (
        toks.groupBy("lang", "bk")
        .agg(F.sum("n_tok").alias("bk_tok"))
        .withColumn(
            "off",
            F.coalesce(
                F.sum("bk_tok").over(
                    Window.partitionBy("lang")
                    .orderBy("bk")
                    .rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
        .select("lang", "bk", "off")
    )
    before_me = (
        F.col("off") + F.sum("n_tok").over(wb) - F.col("n_tok")
    )
    return (
        toks.join(F.broadcast(offs), ["lang", "bk"])
        .withColumn(
            "pack_id", F.floor(before_me / CONTEXT_TOKENS).cast("bigint")
        )
        .groupBy("lang", "pack_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").alias("pack_tokens"),
        )
    )


@register(
    "llm_pack_efficiency",
    tier="T3",
    doc="Packing-efficiency audit — the acceptance gate on the "
    "llm_pack_sequences layout (round 15; the plan-consumes-artifact "
    "pattern of llm_nb_filter / llm_corpus_filter): per lang, how well "
    f"did the {CONTEXT_TOKENS}-token windows fill?  Emits pack count, "
    "doc count, token total, OVERFLOW packs (start-offset binning lets "
    "a straddling doc push its starting pack past the budget), "
    "underfull packs, mean fill (1e4 of budget) and the worst pack — "
    "the numbers that decide whether the packing order (or the budget) "
    "needs retuning before a training run is launched.  Scale shape: "
    "one bounded rollup OVER the pack layout's own output (packs ≈ "
    "corpus_tokens / budget rows, langs × packs keys) — no new "
    "corpus-scale stage beyond the graded packing itself.",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, lang,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
  FROM documents
), packed AS (
  SELECT lang,
         CAST((SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
                                ROWS UNBOUNDED PRECEDING) - n_tok)
              // {CONTEXT_TOKENS} AS BIGINT) AS pack_id,
         n_tok
  FROM toks
), packs AS (
  SELECT lang, pack_id, count(*) AS n_docs,
         CAST(SUM(n_tok) AS BIGINT) AS pack_tokens
  FROM packed GROUP BY lang, pack_id
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_packs,
       CAST(sum(n_docs) AS BIGINT) AS n_docs,
       CAST(sum(pack_tokens) AS BIGINT) AS tokens,
       CAST(count(*) FILTER (WHERE pack_tokens > {CONTEXT_TOKENS})
            AS BIGINT) AS overflow_packs,
       CAST(count(*) FILTER (WHERE pack_tokens < {CONTEXT_TOKENS})
            AS BIGINT) AS underfull_packs,
       CAST(sum(pack_tokens) * 10000
            // (count(*) * {CONTEXT_TOKENS}) AS BIGINT) AS fill_1e4,
       CAST(max(pack_tokens) AS BIGINT) AS max_pack_tokens
FROM packs GROUP BY lang
""",
)
def llm_pack_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    packs = llm_pack_sequences(spark, sf_dir)
    return packs.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_packs"),
        F.sum("n_docs").cast("bigint").alias("n_docs"),
        F.sum("pack_tokens").cast("bigint").alias("tokens"),
        F.count(F.when(F.col("pack_tokens") > CONTEXT_TOKENS, 1))
        .cast("bigint")
        .alias("overflow_packs"),
        F.count(F.when(F.col("pack_tokens") < CONTEXT_TOKENS, 1))
        .cast("bigint")
        .alias("underfull_packs"),
        F.expr(
            f"CAST(sum(pack_tokens) * 10000"
            f" DIV (count(*) * {CONTEXT_TOKENS}) AS BIGINT)"
        ).alias("fill_1e4"),
        F.max("pack_tokens").cast("bigint").alias("max_pack_tokens"),
    )


#: Max repeat factor a single source may contribute (1e4 units = 3
#: epochs): past a few repeats, repeated data stops helping and starts
#: hurting (Muennighoff et al. 2023, "Scaling Data-Constrained LMs"),
#: so the recipe caps repeats and reports the shortfall instead of
#: silently over-sampling a small source.
REPEAT_CAP_1E4 = 30_000


@register(
    "llm_repeat_plan",
    tier="T3",
    doc="Epoch repeat-factor plan — the data-recipe table a "
    "data-constrained training run is launched from (round 15): the "
    "corpus token total is shared FAIRLY across sources (target = "
    "total DIV n_sources, the equal-allocation baseline a mixture "
    "tuner then perturbs), and each source's repeat factor is its "
    "target over its actual tokens, capped at "
    f"{REPEAT_CAP_1E4 / 1e4:g} epochs (Muennighoff 2023's "
    "diminishing-returns regime).  Emits per source: docs, tokens, "
    "fair-share target, repeat_1e4, the planned token contribution "
    "under the cap, and a capped flag — sources whose flag is set "
    "cannot fill their allocation and the gap must be re-planned, "
    "never silently over-sampled.  Integer arithmetic end to end.  "
    "Scale shape: one map-side-combined per-source aggregate (sources "
    "≪ docs) + two 1-row broadcast scalar attaches — no corpus-scale "
    "join.",
    oracle=f"""
WITH src AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tokens
  FROM documents GROUP BY source
), tot AS (
  SELECT CAST(sum(tokens) AS BIGINT) AS total,
         CAST(count(*) AS BIGINT) AS n_sources
  FROM src
)
SELECT s.source, s.n_docs, s.tokens,
       CAST(t.total // t.n_sources AS BIGINT) AS target_tokens,
       CAST(least((t.total // t.n_sources) * 10000 // s.tokens,
                  {REPEAT_CAP_1E4}) AS BIGINT) AS repeat_1e4,
       CAST(s.tokens * least((t.total // t.n_sources) * 10000
                             // s.tokens, {REPEAT_CAP_1E4}) // 10000
            AS BIGINT) AS planned_tokens,
       CAST((t.total // t.n_sources) * 10000 // s.tokens
            > {REPEAT_CAP_1E4} AS INT) AS capped
FROM src s CROSS JOIN tot t
""",
)
def llm_repeat_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = (
        table(spark, sf_dir, "documents")
        .select(
            "source",
            F.size(F.split("text", " ")).cast("bigint").alias("n_tok"),
        )
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("tokens"),
        )
    )
    tot = src.agg(
        F.sum("tokens").cast("bigint").alias("total"),
        F.count("*").cast("bigint").alias("n_sources"),
    )
    raw = "(total DIV n_sources) * 10000 DIV tokens"
    return src.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "tokens",
        F.expr("CAST(total DIV n_sources AS BIGINT)").alias(
            "target_tokens"
        ),
        F.expr(
            f"CAST(least({raw}, {REPEAT_CAP_1E4}) AS BIGINT)"
        ).alias("repeat_1e4"),
        F.expr(
            f"CAST(tokens * least({raw}, {REPEAT_CAP_1E4}) DIV 10000"
            " AS BIGINT)"
        ).alias("planned_tokens"),
        F.expr(f"CAST({raw} > {REPEAT_CAP_1E4} AS INT)").alias("capped"),
    )


@register(
    "llm_embed_quantize",
    tier="T3",
    doc="Per-vector int8 quantization (max-abs scaling): q_i = "
    "round(x_i / scale * 127) with scale = max |x_i| — the embedding "
    "compression step before serving/ANN storage. Quantized values are "
    "exact integers (identical HALF-away-from-zero rounding of identical "
    "doubles both engines).  The compared row carries SCALAR summaries of "
    "the quantized vector (L1 mass, min/max, saturation count) plus the "
    "dequant error bound — never the raw array: the driver's canonicalizer "
    "sorts/hashes pandas columns and list cells are unhashable "
    "(CORRECTNESS_r02 regression).  An all-zero vector quantizes to the "
    "zero vector with zero error (scale=0 guard both engines, never 0/0).",
    oracle="""
WITH s AS (
  SELECT vec_id,
         list_max(list_transform(embedding,
                                 x -> abs(CAST(x AS DOUBLE)))) AS scale
  FROM embeddings
), q AS (
  SELECT e.vec_id, s.scale, e.embedding,
         CASE WHEN s.scale = 0
              THEN list_transform(e.embedding, x -> CAST(0 AS BIGINT))
              ELSE list_transform(e.embedding,
                  x -> CAST(round(CAST(x AS DOUBLE) / s.scale * 127)
                            AS BIGINT))
         END AS qv
  FROM embeddings e JOIN s ON e.vec_id = s.vec_id
)
SELECT vec_id,
       CAST(list_sum(list_transform(qv, v -> abs(v))) AS BIGINT) AS q_l1,
       CAST(list_min(qv) AS BIGINT) AS q_min,
       CAST(list_max(qv) AS BIGINT) AS q_max,
       CAST(len(list_filter(qv, v -> abs(v) = 127)) AS BIGINT) AS n_sat,
       CASE WHEN scale = 0 THEN CAST(0 AS BIGINT)
            ELSE CAST(floor(list_max(list_transform(
                     generate_series(1, len(qv)),
                     i -> abs(CAST(qv[i] AS DOUBLE) / 127 * scale
                              - CAST(embedding[i] AS DOUBLE))))
                 * 10000) AS BIGINT)
       END AS max_err_1e4
FROM q
""",
)
def llm_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "embeddings")
    scale = F.array_max(
        F.transform("embedding", lambda x: F.abs(x.cast("double")))
    )
    e = e.withColumn("scale", scale)
    zero = F.lit(0).cast("bigint")
    q = F.when(
        F.col("scale") == 0,
        F.transform("embedding", lambda x: zero),
    ).otherwise(
        F.transform(
            "embedding",
            lambda x: F.round(
                x.cast("double") / F.col("scale") * 127, 0
            ).cast("bigint"),
        )
    )
    e = e.withColumn("q", q)
    dequant_err = F.array_max(
        F.zip_with(
            "embedding",
            "q",
            lambda x, qq: F.abs(
                qq.cast("double") / 127 * F.col("scale") - x.cast("double")
            ),
        )
    )
    # Explicit floor both sides: DuckDB's double→BIGINT cast ROUNDS while
    # Spark's truncates — floor pins one semantic.
    return e.select(
        "vec_id",
        F.aggregate(
            F.transform("q", lambda v: F.abs(v)),
            zero,
            lambda acc, v: acc + v,
        ).alias("q_l1"),
        F.array_min("q").cast("bigint").alias("q_min"),
        F.array_max("q").cast("bigint").alias("q_max"),
        F.size(F.filter("q", lambda v: F.abs(v) == 127))
        .cast("bigint")
        .alias("n_sat"),
        F.when(F.col("scale") == 0, zero)
        .otherwise(F.floor(dequant_err * 10000).cast("bigint"))
        .alias("max_err_1e4"),
    )


STRATUM_CAP = 100  # target docs per source stratum


@register(
    "llm_stratified_sample",
    tier="T3",
    doc="Stratified source rebalancing: down-sample over-represented "
    f"sources toward {STRATUM_CAP} docs each.  A doc lands in one of 256 "
    "content-addressed buckets (first two md5 nibbles) and survives iff "
    "bucket < 256·cap/n_source — so membership is a pure function of "
    "(text, stratum size): reproducible across runs, engines, and "
    "partitionings, and NO per-stratum sort or rand() anywhere.  Scale "
    "shape: stratum sizes are one map-side-combined aggregate over a "
    "low-cardinality key, broadcast back; the keep-filter is then "
    "embarrassingly parallel over the corpus.  All-integer thresholds "
    "(DIV), no float rates.",
    oracle="""
WITH n AS (
  SELECT source, count(*) AS n_total FROM documents GROUP BY source
), b AS (
  SELECT d.source, n.n_total,
         least(256, 256 * 100 // n.n_total) AS k,
         (instr('0123456789abcdef', substr(md5(d.text), 1, 1)) - 1) * 16
         + instr('0123456789abcdef', substr(md5(d.text), 2, 1)) - 1
           AS bucket
  FROM documents d JOIN n USING (source)
)
SELECT source,
       CAST(max(n_total) AS BIGINT) AS n_total,
       CAST(max(k) AS BIGINT) AS threshold_256,
       CAST(count(*) FILTER (WHERE bucket < k) AS BIGINT) AS n_kept
FROM b GROUP BY source
""",
)
def llm_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    sizes = docs.groupBy("source").agg(F.count("*").alias("n_total"))
    hexpos = "instr('0123456789abcdef', substr(md5(cast(text as binary)), {}, 1))"
    bucket = F.expr(
        f"({hexpos.format(1)} - 1) * 16 + {hexpos.format(2)} - 1"
    )
    k = F.expr(f"least(256, (256 * {STRATUM_CAP}) DIV n_total)")
    return (
        docs.join(F.broadcast(sizes), "source")
        .withColumn("bucket", bucket)
        .withColumn("k", k)
        .groupBy("source")
        .agg(
            F.max("n_total").cast("bigint").alias("n_total"),
            F.max("k").cast("bigint").alias("threshold_256"),
            F.count(F.when(F.col("bucket") < F.col("k"), 1))
            .cast("bigint")
            .alias("n_kept"),
        )
    )


DECON_W = 4  # probe shingle width (words)


@register(
    "llm_decontaminate",
    tier="T3",
    doc="Eval-set decontamination: the held-out 'test' split (same "
    "content-hash routing as llm_doc_split) contributes its distinct "
    f"{DECON_W}-gram probe set; every train doc sharing at least one probe "
    "n-gram is flagged with its hit count and hit density — the standard "
    "benchmark-leakage sweep run before pretraining.  Scale shape: the "
    "probe set is DISTINCT n-grams of the (small) eval corpus — broadcast "
    "when it fits, hash shuffle join on the n-gram key otherwise (AQE "
    "decides); the train side streams map-side into the join, then one "
    "per-doc aggregate.  No driver collection, all-integer outputs.",
    oracle=f"""
WITH split AS (
  SELECT doc_id,
         CASE WHEN substr(md5(text), 1, 1) BETWEEN '0' AND 'b' THEN 'train'
              WHEN substr(md5(text), 1, 1) IN ('c', 'd') THEN 'val'
              ELSE 'test' END AS split,
         string_split(text, ' ') AS words
  FROM documents
), sh AS (
  SELECT doc_id, split,
         unnest(list_transform(generate_series(1, len(words) - {DECON_W - 1}),
                i -> array_to_string(words[i:i+{DECON_W - 1}], ' '))) AS s
  FROM split WHERE len(words) >= {DECON_W}
), probes AS (
  SELECT DISTINCT s FROM sh WHERE split = 'test'
)
SELECT sh.doc_id,
       CAST(count(*) AS BIGINT) AS n_hits,
       CAST(count(*) * 10000 // max(grams.n_grams) AS BIGINT) AS hit_1e4
FROM sh
JOIN probes USING (s)
JOIN (SELECT doc_id, count(*) AS n_grams FROM sh GROUP BY doc_id) grams
  USING (doc_id)
WHERE sh.split = 'train'
GROUP BY sh.doc_id
""",
)
def llm_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    nib = F.substring(F.md5(F.col("text").cast("binary")), 1, 1)
    split = (
        F.when(nib.between("0", "b"), "train")
        .when(nib.isin("c", "d"), "val")
        .otherwise("test")
    )
    w = docs.select(
        "doc_id", split.alias("split"), F.split("text", " ").alias("words")
    ).where(F.size("words") >= DECON_W)
    sh = w.select(
        "doc_id",
        "split",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("words") - (DECON_W - 1)),
                lambda i: F.concat_ws(
                    " ", F.slice(F.col("words"), i, DECON_W)
                ),
            )
        ).alias("s"),
    )
    probes = sh.where(F.col("split") == "test").select("s").distinct()
    grams = sh.groupBy("doc_id").agg(F.count("*").alias("n_grams"))
    hits = (
        sh.where(F.col("split") == "train")
        .join(probes, "s")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_hits"))
    )
    return hits.join(grams, "doc_id").select(
        "doc_id",
        "n_hits",
        F.expr("CAST(n_hits * 10000 DIV n_grams AS BIGINT)").alias(
            "hit_1e4"
        ),
    )


BLOOM_M = 65_536  # Bloom bit-space (positions mod M); load ~0.15 at sf0.01
BLOOM_K = 3  # probe positions per n-gram


def _bloom_oracle() -> str:
    from scala_reactivex_spark.functions.portable_hash import (
        P31,
        affine_seeds,
        kr31_duck_expr,
    )

    seeds = affine_seeds(BLOOM_K)
    kr = kr31_duck_expr("s")
    pos_list = ", ".join(
        f"((({a} * h) + {b}) % {P31}) % {BLOOM_M}" for a, b in seeds
    )
    return f"""
WITH split AS (
  SELECT doc_id,
         CASE WHEN substr(md5(text), 1, 1) BETWEEN '0' AND 'b' THEN 'train'
              WHEN substr(md5(text), 1, 1) IN ('c', 'd') THEN 'val'
              ELSE 'test' END AS split,
         string_split(text, ' ') AS words
  FROM documents
), sh0 AS (
  SELECT doc_id, split,
         unnest(list_transform(generate_series(1, len(words) - {DECON_W - 1}),
                i -> array_to_string(words[i:i+{DECON_W - 1}], ' '))) AS s,
         unnest(generate_series(1, len(words) - {DECON_W - 1})) AS gram_idx
  FROM split WHERE len(words) >= {DECON_W}
), sh AS (
  SELECT doc_id, split, gram_idx, s, {kr} AS h FROM sh0
), shp AS (
  SELECT doc_id, split, gram_idx, s, unnest([{pos_list}]) AS pos FROM sh
), bloom AS (
  SELECT DISTINCT pos FROM shp WHERE split = 'test'
), flagged AS (
  SELECT shp.doc_id, shp.gram_idx, shp.s
  FROM shp JOIN bloom USING (pos)
  WHERE shp.split = 'train'
  GROUP BY shp.doc_id, shp.gram_idx, shp.s
  HAVING count(*) = {BLOOM_K}
), probes AS (
  SELECT DISTINCT s FROM sh WHERE split = 'test'
), exact AS (
  SELECT f.doc_id, CAST(count(*) AS BIGINT) AS n_hits
  FROM flagged f JOIN probes USING (s) GROUP BY f.doc_id
), per_doc AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bloom_hits
  FROM flagged GROUP BY doc_id
)
SELECT p.doc_id, p.n_bloom_hits,
       CAST(COALESCE(e.n_hits, 0) AS BIGINT) AS n_hits,
       CAST(CASE WHEN COALESCE(e.n_hits, 0) = 0 THEN 1 ELSE 0 END AS INT)
           AS all_fp,
       CAST(CASE WHEN p.n_bloom_hits >= COALESCE(e.n_hits, 0)
            THEN 1 ELSE 0 END AS INT) AS no_false_neg
FROM per_doc p LEFT JOIN exact e ON p.doc_id = e.doc_id
"""



def _decon_shingles_hashed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, split, gram_idx, s, h): the split-tagged probe shingles
    with their portable Karp-Rabin hash — shared by the batch Bloom op
    and the streaming twin's Bloom build.  Session-memoized AND
    persisted: llm_decontaminate_bloom reads this frame from three
    subtrees (Bloom build, train probe, exact-check probe set) and Spark
    does not share common subplans across joins, so un-persisted the
    explode + char-fold ran three times per invocation."""
    from scala_reactivex_spark.plans.memo import disk_memo

    # Two-tier (round 11): the portable Karp-Rabin shingle hashes are
    # deterministic, so the probe-shingle frame persists as parquet —
    # the decontamination screen's standing index.
    return disk_memo(
        spark,
        sf_dir,
        "decon_shingles",
        lambda: _decon_shingles_build(spark, sf_dir).persist(),
    )


def _decon_shingles_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    from scala_reactivex_spark.functions.portable_hash import (
        kr31_spark_expr,
    )

    docs = table(spark, sf_dir, "documents")
    nib = F.substring(F.md5(F.col("text").cast("binary")), 1, 1)
    split = (
        F.when(nib.between("0", "b"), "train")
        .when(nib.isin("c", "d"), "val")
        .otherwise("test")
    )
    w = docs.select(
        "doc_id", split.alias("split"), F.split("text", " ").alias("words")
    ).where(F.size("words") >= DECON_W)
    return w.select(
        "doc_id",
        "split",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), F.size("words") - (DECON_W - 1)),
                lambda i: F.concat_ws(
                    " ", F.slice(F.col("words"), i, DECON_W)
                ),
            )
        ).alias("gram_idx", "s"),
    ).withColumn("h", F.expr(kr31_spark_expr("s")))


def _bloom_pos_cols(prefix: str = "p") -> list:
    from scala_reactivex_spark.functions.portable_hash import (
        P31,
        affine_seeds,
    )

    return [
        (((F.lit(a) * F.col("h") + F.lit(b)) % P31) % BLOOM_M).alias(
            f"{prefix}{i}"
        )
        for i, (a, b) in enumerate(affine_seeds(BLOOM_K))
    ]


def decon_bloom_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Bloom as data: distinct integer positions set by the eval
    grams — the frame a serving/streaming probe broadcasts."""
    sh = _decon_shingles_hashed(spark, sf_dir)
    return (
        sh.where(F.col("split") == "test")
        .select(*_bloom_pos_cols())
        .select(
            F.explode(
                F.array(*[F.col(f"p{i}") for i in range(BLOOM_K)])
            ).alias("pos")
        )
        .distinct()
    )


@register(
    "llm_decontaminate_bloom",
    tier="T3",
    doc="Bloom-cascade decontamination — the 100 TB shape of "
    "llm_decontaminate: the eval probe set compresses to a set of "
    f"integer Bloom positions ({BLOOM_K} portable Karp-Rabin affine "
    f"hashes mod {BLOOM_M}) that broadcasts as a few hundred KB of "
    "BIGINTs instead of the full n-gram string set; train grams probe "
    "the broadcast set and only Bloom-flagged docs pay the exact string "
    "join (the cascade). The Bloom is DETERMINISTIC integer math "
    "(functions/portable_hash.py), so the oracle replays it exactly: "
    "per flagged doc, Bloom hit count, exact hit count, and the "
    "false-positive flag are all hash-graded — including the "
    "no-false-negative invariant (bloom ≥ exact always).",
    oracle=_bloom_oracle(),
)
def llm_decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = _decon_shingles_hashed(spark, sf_dir)
    pos_cols = _bloom_pos_cols()
    # Bloom build: distinct positions of the eval grams (integer set).
    bloom = decon_bloom_positions(spark, sf_dir)
    # Probe: a train gram is Bloom-flagged iff ALL K positions are set.
    train = sh.where(F.col("split") == "train").select(
        "doc_id", "gram_idx", "s", *pos_cols
    )
    probed = train.select(
        "doc_id",
        "gram_idx",
        "s",
        F.explode(
            F.array(*[F.col(f"p{i}") for i in range(BLOOM_K)])
        ).alias("pos"),
    )
    flagged = (
        probed.join(F.broadcast(bloom), "pos")
        .groupBy("doc_id", "gram_idx", "s")
        .agg(F.count("*").alias("k_hit"))
        .where(F.col("k_hit") == BLOOM_K)
    )
    # Cascade: exact string check ONLY for Bloom-flagged grams.
    # Round-17 (guide §2.4 — don't compute things twice): `flagged`
    # fed TWO aggregations (the bloom-hit count and the exact-match
    # count) re-joined on doc_id, so the whole probe pipeline (train
    # explode ×K positions → bloom join → K-hit rollup) executed
    # twice.  A LEFT join against the distinct probe set marks exact
    # matches inline, and ONE grouped pass carries both counts
    # (count(*) ≡ the old n_bloom_hits; count(hit) counts matches,
    # 0 where none — exactly the old coalesce).
    probes = (
        sh.where(F.col("split") == "test").select("s").distinct()
    ).withColumn("hit", F.lit(1))
    return (
        flagged.join(probes, "s", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_bloom_hits"),
            F.count("hit").cast("bigint").alias("n_hits"),
        )
        .withColumn(
            "all_fp", (F.col("n_hits") == 0).cast("int")
        )
        .withColumn(
            "no_false_neg",
            (F.col("n_bloom_hits") >= F.col("n_hits")).cast("int"),
        )
    )



N_SHARDS = 16  # output shards for the training-data write


@register(
    "llm_shard_assign",
    tier="T3",
    doc=f"Deterministic output sharding: each doc routes to one of "
    f"{N_SHARDS} shards by content hash (md5 first-byte mod — the same "
    "hex-nibble bucketing as llm_stratified_sample, so membership is a "
    "pure function of content and survives any repartitioning); emits "
    "per-shard doc count, byte volume, doc_id range and load share "
    "(1e4).  The balance profile is what a 100 TB write checks before "
    "committing a shard layout — a skewed shard here is a straggler "
    "executor there.  Scale shape: one hash aggregate to "
    f"{N_SHARDS} rows; the share window runs over those {N_SHARDS} "
    "rows, never the corpus.",
    oracle=f"""
WITH b AS (
  SELECT doc_id, n_chars,
         ((instr('0123456789abcdef', substr(md5(text), 1, 1)) - 1) * 16
          + instr('0123456789abcdef', substr(md5(text), 2, 1)) - 1)
         % {N_SHARDS} AS shard
  FROM documents
), s AS (
  SELECT shard,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_chars) AS BIGINT) AS n_bytes,
         CAST(min(doc_id) AS BIGINT) AS min_doc,
         CAST(max(doc_id) AS BIGINT) AS max_doc
  FROM b GROUP BY shard
)
SELECT shard, n_docs, n_bytes, min_doc, max_doc,
       CAST(n_docs * 10000 // (sum(n_docs) OVER ()) AS BIGINT)
         AS share_1e4
FROM s
""",
)
def llm_shard_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    hexpos = (
        "instr('0123456789abcdef', substr(md5(cast(text as binary)), {}, 1))"
    )
    shard = F.expr(
        f"(({hexpos.format(1)} - 1) * 16 + {hexpos.format(2)} - 1)"
        f" % {N_SHARDS}"
    )
    s = (
        table(spark, sf_dir, "documents")
        .select(shard.alias("shard"), "doc_id", "n_chars")
        .groupBy("shard")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("n_bytes"),
            F.min("doc_id").cast("bigint").alias("min_doc"),
            F.max("doc_id").cast("bigint").alias("max_doc"),
        )
    )
    share = F.expr(
        "CAST(n_docs * 10000 DIV (sum(n_docs) OVER ()) AS BIGINT)"
    )
    return s.select(
        "shard", "n_docs", "n_bytes", "min_doc", "max_doc",
        share.alias("share_1e4"),
    )


@register(
    "llm_curriculum",
    tier="T3",
    doc="Length-curriculum phase assignment: docs are bucketed into 4 "
    "training phases at the exact token-count quartiles (discrete "
    "percentile — smallest length whose cumulative count reaches "
    "i*N/4, integer-exact in both engines); emits per-phase doc count, "
    "token volume and length range.  Scale shape: the quartile scan is "
    "a window over the LENGTH HISTOGRAM (distinct lengths — bounded, "
    "Heaps-style, never corpus rows), thresholds ride a 1-row "
    "broadcast back onto the corpus, and the phase rollup is one hash "
    "aggregate.",
    oracle="""
WITH lens AS (
  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
  FROM documents
), hist AS (
  SELECT n_tok, count(*) AS c FROM lens GROUP BY n_tok
), cum AS (
  SELECT n_tok,
         sum(c) OVER (ORDER BY n_tok
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cc,
         sum(c) OVER () AS n
  FROM hist
), thr AS (
  SELECT CAST(min(CASE WHEN cc * 4 >= n THEN n_tok END) AS BIGINT) AS q1,
         CAST(min(CASE WHEN cc * 2 >= n THEN n_tok END) AS BIGINT) AS q2,
         CAST(min(CASE WHEN cc * 4 >= 3 * n THEN n_tok END) AS BIGINT) AS q3
  FROM cum
)
SELECT CAST(1 + CAST(l.n_tok > t.q1 AS INT) + CAST(l.n_tok > t.q2 AS INT)
            + CAST(l.n_tok > t.q3 AS INT) AS BIGINT) AS phase,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(l.n_tok) AS BIGINT) AS n_tokens,
       CAST(min(l.n_tok) AS BIGINT) AS min_tok,
       CAST(max(l.n_tok) AS BIGINT) AS max_tok
FROM lens l CROSS JOIN thr t
GROUP BY 1
""",
)
def llm_curriculum(spark: SparkSession, sf_dir: str) -> DataFrame:
    lens = table(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(F.split("text", " ")).cast("bigint").alias("n_tok"),
    )
    hist = lens.groupBy("n_tok").agg(F.count("*").alias("c"))
    win = Window.orderBy("n_tok").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = hist.select(
        "n_tok",
        F.sum("c").over(win).alias("cc"),
        F.sum("c").over(Window.partitionBy()).alias("n"),
    )
    thr = cum.agg(
        F.min(F.when(F.col("cc") * 4 >= F.col("n"), F.col("n_tok")))
        .cast("bigint")
        .alias("q1"),
        F.min(F.when(F.col("cc") * 2 >= F.col("n"), F.col("n_tok")))
        .cast("bigint")
        .alias("q2"),
        F.min(F.when(F.col("cc") * 4 >= 3 * F.col("n"), F.col("n_tok")))
        .cast("bigint")
        .alias("q3"),
    )
    phase = (
        F.lit(1)
        + (F.col("n_tok") > F.col("q1")).cast("int")
        + (F.col("n_tok") > F.col("q2")).cast("int")
        + (F.col("n_tok") > F.col("q3")).cast("int")
    ).cast("bigint")
    return (
        lens.crossJoin(F.broadcast(thr))
        .groupBy(phase.alias("phase"))
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("n_tokens"),
            F.min("n_tok").cast("bigint").alias("min_tok"),
            F.max("n_tok").cast("bigint").alias("max_tok"),
        )
    )


PPL_BAND_W = 10_000  # per-token micro-log10 cost units per histogram band
PPL_TAIL = 20  # drop the 1/20 (5%) tails on each side


@register(
    "llm_ppl_filter",
    tier="T3",
    doc="CCNet-style perplexity-band filter: each doc's unigram-LM cost "
    "per token (positive micro-log10 units, integer DIV on non-negative "
    "operands only) buckets into fixed-width bands; the band histogram "
    "(BOUNDED domain — never corpus rows) yields discrete 5%/95% "
    "thresholds, and docs outside the [p05, p95] band range are dropped "
    "— the standard 'middle perplexity' keep rule that removes both "
    "gibberish (high cost) and degenerate/boilerplate text (low cost).  "
    "Scale shape: one token join + per-doc aggregate (the llm_unigram_lm "
    "plan), a cum window over the BAND histogram, thresholds ride a "
    "1-row broadcast back over the doc-score frame.",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
), freq AS (
  SELECT tok, count(*) AS c FROM toks GROUP BY tok
), t AS (
  SELECT CAST(CAST(sum(c) AS BIGINT) AS DOUBLE) AS t FROM freq
), score AS (
  SELECT toks.doc_id, count(*) AS n_tok,
         CAST(-sum(CAST(floor(log10(CAST(f.c AS DOUBLE) / t.t) * 1000000
                              + 0.5) AS BIGINT)) AS BIGINT) AS cost
  FROM toks JOIN freq f USING (tok) CROSS JOIN t
  GROUP BY toks.doc_id
), banded AS (
  SELECT doc_id, CAST(cost // n_tok AS BIGINT) AS cost_per_tok,
         CAST((cost // n_tok) // {PPL_BAND_W} AS BIGINT) AS band
  FROM score
), hist AS (
  SELECT band, count(*) AS c FROM banded GROUP BY band
), cum AS (
  SELECT band,
         sum(c) OVER (ORDER BY band
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cc,
         sum(c) OVER () AS n
  FROM hist
), thr AS (
  SELECT CAST(min(CASE WHEN cc * {PPL_TAIL} >= n THEN band END)
              AS BIGINT) AS lo,
         CAST(min(CASE WHEN cc * {PPL_TAIL} >= {PPL_TAIL - 1} * n
                       THEN band END) AS BIGINT) AS hi
  FROM cum
)
SELECT b.doc_id, b.cost_per_tok, b.band,
       CAST(b.band >= t.lo AND b.band <= t.hi AS INT) AS keep
FROM banded b CROSS JOIN thr t
""",
)
def llm_ppl_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = table(spark, sf_dir, "documents").select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    )
    freq = toks.groupBy("tok").agg(F.count("*").alias("c"))
    total = freq.agg(
        F.sum("c").cast("bigint").cast("double").alias("t")
    )
    lp = F.floor(
        F.log10(F.col("c").cast("double") / F.col("t")) * 1000000 + 0.5
    ).cast("bigint")
    score = (
        toks.join(freq, "tok")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tok"),
            (-F.sum(lp)).cast("bigint").alias("cost"),
        )
    )
    banded = score.select(
        "doc_id",
        F.expr("CAST(cost DIV n_tok AS BIGINT)").alias("cost_per_tok"),
        F.expr(
            f"CAST((cost DIV n_tok) DIV {PPL_BAND_W} AS BIGINT)"
        ).alias("band"),
    )
    hist = banded.groupBy("band").agg(F.count("*").alias("c"))
    win = Window.orderBy("band").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = hist.select(
        "band",
        F.sum("c").over(win).alias("cc"),
        F.sum("c").over(Window.partitionBy()).alias("n"),
    )
    thr = cum.agg(
        F.min(
            F.when(F.col("cc") * PPL_TAIL >= F.col("n"), F.col("band"))
        )
        .cast("bigint")
        .alias("lo"),
        F.min(
            F.when(
                F.col("cc") * PPL_TAIL >= (PPL_TAIL - 1) * F.col("n"),
                F.col("band"),
            )
        )
        .cast("bigint")
        .alias("hi"),
    )
    return banded.crossJoin(F.broadcast(thr)).select(
        "doc_id",
        "cost_per_tok",
        "band",
        (
            (F.col("band") >= F.col("lo")) & (F.col("band") <= F.col("hi"))
        )
        .cast("int")
        .alias("keep"),
    )


MIX_BUDGET = 1_000_000  # target training tokens for the mixing plan


@register(
    "llm_mix_budget",
    tier="T3",
    doc=f"Data-mixing budget plan: a {MIX_BUDGET:,}-token training run "
    "with equal per-source shares — for every source, the available "
    "token supply, its target allocation (budget DIV n_sources), and "
    "the epoch factor (target*1e4 DIV available; > 1e4 means the "
    "source must repeat — the up-sampling signal every mixing study "
    "tracks).  Scale shape: one hash aggregate to |sources| rows; the "
    "share window runs over those bounded rows.",
    oracle=f"""
WITH s AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tokens_avail
  FROM documents GROUP BY source
)
SELECT source, n_docs, tokens_avail,
       CAST({MIX_BUDGET} // (count(*) OVER ()) AS BIGINT) AS target_tokens,
       CAST(({MIX_BUDGET} // (count(*) OVER ())) * 10000 // tokens_avail
            AS BIGINT) AS epochs_1e4
FROM s
""",
)
def llm_mix_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = (
        table(spark, sf_dir, "documents")
        .select("source", F.size(F.split("text", " ")).alias("n_tok"))
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("tokens_avail"),
        )
    )
    target = F.expr(
        f"CAST({MIX_BUDGET} DIV (count(*) OVER ()) AS BIGINT)"
    )
    epochs = F.expr(
        f"CAST(({MIX_BUDGET} DIV (count(*) OVER ())) * 10000"
        " DIV tokens_avail AS BIGINT)"
    )
    return s.select(
        "source",
        "n_docs",
        "tokens_avail",
        target.alias("target_tokens"),
        epochs.alias("epochs_1e4"),
    )


DSIR_BUCKETS = 256  # hashed bigram feature space (paper uses 10k; vocab²-bounded here)
DSIR_TARGET_LANG = "en"  # the target distribution: English docs play "Wikipedia"

#: Bigram feature bucket = fold of the two TOKEN hashes, not a hash of the
#: concatenated string — each token's char-level Karp-Rabin fold runs once,
#: and the pair combine is two integer ops (measured ~2× cheaper at sf0.1).
_DSIR_FEAT_CTE = f"""
WITH hs AS (
  SELECT doc_id, lang,
         list_transform(string_split(text, ' '), t -> {{kr}}) AS h
  FROM documents
), feats AS (
  SELECT doc_id, lang,
         unnest(list_transform(
           range(1, len(h)),
           i -> ((h[i] * 1000003 + h[i + 1]) % 2147483647)
                % {DSIR_BUCKETS})) AS b
  FROM hs
), tgt AS (
  SELECT b, count(*) AS c FROM feats
  WHERE lang = '{DSIR_TARGET_LANG}' GROUP BY b
), rawc AS (
  SELECT b, count(*) AS c FROM feats GROUP BY b
), tots AS (
  SELECT (SELECT coalesce(sum(c), 0) FROM tgt) AS tt,
         (SELECT sum(c) FROM rawc) AS tr
), delta AS (
  SELECT r.b,
         CAST(floor(log10(CAST(coalesce(t.c, 0) + 1 AS DOUBLE)
                          / CAST(tots.tt + {DSIR_BUCKETS} AS DOUBLE))
                    * 1000000 + 0.5) AS BIGINT)
         - CAST(floor(log10(CAST(r.c + 1 AS DOUBLE)
                            / CAST(tots.tr + {DSIR_BUCKETS} AS DOUBLE))
                      * 1000000 + 0.5) AS BIGINT) AS d
  FROM rawc r LEFT JOIN tgt t ON r.b = t.b CROSS JOIN tots
)"""


#: The per-row bigram-bucket expression shared by the batch operator and
#: the streaming scoring twin (token-hash fold, no explode needed).
DSIR_BUCKET_ARRAY_EXPR = (
    "transform(sequence(1, size(h) - 1), "
    "i -> ((element_at(h, i) * 1000003"
    " + element_at(h, i + 1)) % 2147483647)"
    f" % {DSIR_BUCKETS})"
)


def dsir_feats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, lang, bucket) hashed-bigram feature rows, persisted —
    three consumers (target counts, raw counts, per-doc scoring) read
    the one materialization."""
    docs = table(spark, sf_dir, "documents")
    return (
        docs.where(F.size(F.split("text", " ")) >= 2)
        .select(
            "doc_id",
            "lang",
            F.expr(
                "transform(split(text, ' '), t -> "
                + kr31_spark_expr("t")
                + ")"
            ).alias("h"),
        )
        .select(
            "doc_id",
            "lang",
            F.explode(F.expr(DSIR_BUCKET_ARRAY_EXPR)).alias("b"),
        )
        .persist()
    )


def dsir_delta(feats: DataFrame) -> DataFrame:
    """(bucket, micro-log10 importance delta) — the trained DSIR model
    (a 256-row table; the serving twin broadcasts it as a MAP)."""
    tgt = (
        feats.where(F.col("lang") == DSIR_TARGET_LANG)
        .groupBy("b")
        .agg(F.count("*").alias("ct"))
    )
    rawc = feats.groupBy("b").agg(F.count("*").alias("cr"))
    tots = rawc.join(tgt, "b", "left").agg(
        F.coalesce(F.sum("ct"), F.lit(0)).alias("tt"),
        F.sum("cr").alias("tr"),
    )
    pin = (
        "CAST(floor(log10(CAST({c} + 1 AS DOUBLE)"
        f" / CAST({{t}} + {DSIR_BUCKETS} AS DOUBLE))"
        " * 1000000 + 0.5) AS BIGINT)"
    )
    return (
        rawc.join(tgt, "b", "left")
        .crossJoin(F.broadcast(tots))
        .select(
            "b",
            (
                F.expr(pin.format(c="coalesce(ct, 0)", t="tt"))
                - F.expr(pin.format(c="cr", t="tr"))
            ).alias("d"),
        )
    )


@register(
    "llm_dsir",
    tier="T3",
    doc="DSIR importance weighting (Xie et al. 2023, arXiv:2302.03169 — "
    "public paper): per-doc log importance weight "
    "log p_target(x) - log p_raw(x) under hashed-bigram bag models, "
    f"where the target distribution is the lang='{DSIR_TARGET_LANG}' "
    "slice (playing the curated corpus) and raw is the whole crawl.  "
    "Laplace-smoothed bucket probabilities pin to integer micro-log10 "
    "units PER BUCKET (bounded table), so every per-doc score is an "
    "exact integer sum — order-proof and bit-identical in the DuckDB "
    "replay.  Emits n_feat, the weight, and the keep flag (weight>0 ⇒ "
    "more target-like).  Scale shape: features hash per row into "
    f"{DSIR_BUCKETS} buckets; both LMs are {DSIR_BUCKETS}-row broadcast "
    "tables; the corpus is touched by exactly one explode + one "
    "aggregate — no pair joins, no driver state.",
    oracle=_DSIR_FEAT_CTE.format(kr=kr31_duck_expr("t"))
    + f"""
SELECT d.doc_id,
       CAST(coalesce(count(x.d), 0) AS BIGINT) AS n_feat,
       CAST(coalesce(sum(x.d), 0) AS BIGINT) AS dsir_1e6,
       CAST(coalesce(sum(x.d), 0) > 0 AS INT) AS keep
FROM documents d
LEFT JOIN (
  SELECT f.doc_id, dl.d
  FROM feats f JOIN delta dl ON f.b = dl.b
) x ON d.doc_id = x.doc_id
GROUP BY d.doc_id
""",
)
def llm_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    feats = dsir_feats(spark, sf_dir)
    delta = dsir_delta(feats)
    scored = (
        feats.join(F.broadcast(delta), "b")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_feat"),
            F.sum("d").cast("bigint").alias("dsir_1e6"),
        )
    )
    return (
        docs.select("doc_id")
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_feat", F.lit(0)).cast("bigint").alias("n_feat"),
            F.coalesce("dsir_1e6", F.lit(0))
            .cast("bigint")
            .alias("dsir_1e6"),
            (F.coalesce("dsir_1e6", F.lit(0)) > 0).cast("int").alias("keep"),
        )
    )


#: Target output-file bytes.  Fixture-scaled default; env-overridable
#: (SPARK_GRAFT_COMPACT_TARGET) because a real OPTIMIZE keeps the FILE
#: SIZE fixed as the corpus grows — so file COUNT grows linearly, and
#: a local probe at sf100 must raise the target to keep the hive
#: directory fan-out inside what one machine's FS can hold (the probe
#: measures the routing join + rewrite shuffle, which are
#: target-independent).  Read once at import; both engines' oracles
#: interpolate the same value, so the override is cross-engine
#: consistent within a process.
COMPACT_TARGET = int(
    os.environ.get("SPARK_GRAFT_COMPACT_TARGET", "2048")
)


@register(
    "llm_compaction_plan",
    tier="T3",
    doc="Small-file compaction planning — the table-maintenance OPTIMIZE "
    "step every 100 TB lakehouse runs: input fragments (one per "
    f"(shard, source), sized by payload bytes) greedily bin-pack into "
    f"~{COMPACT_TARGET}-byte output files via START-OFFSET binning "
    "(out_file = floor(start_offset / target) within each shard — one "
    "partitioned cumulative window, fully deterministic, no driver "
    "loop).  Emits per planned output file: input count, byte total and "
    "fill ratio vs target (1e4).  Scale shape: fragment stats are one "
    "hash aggregate; the window partitions per shard over "
    "fragment-count rows (bounded by shards × sources), never docs.",
    oracle=f"""
WITH frag AS (
  SELECT ((instr('0123456789abcdef', substr(md5(text), 1, 1)) - 1) * 16
          + instr('0123456789abcdef', substr(md5(text), 2, 1)) - 1)
         % {N_SHARDS} AS shard,
         source,
         CAST(sum(n_chars) AS BIGINT) AS bytes,
         CAST(count(*) AS BIGINT) AS n_docs
  FROM documents GROUP BY 1, 2
), offs AS (
  SELECT shard, source, bytes, n_docs,
         coalesce(sum(bytes) OVER (PARTITION BY shard ORDER BY source
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING), 0) AS start_off
  FROM frag
)
SELECT shard,
       CAST(start_off // {COMPACT_TARGET} AS BIGINT) AS out_file,
       CAST(count(*) AS BIGINT) AS n_inputs,
       CAST(sum(n_docs) AS BIGINT) AS n_docs,
       CAST(sum(bytes) AS BIGINT) AS bytes,
       CAST(sum(bytes) * 10000 // {COMPACT_TARGET} AS BIGINT)
         AS fill_1e4
FROM offs GROUP BY 1, 2
""",
)
def llm_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    offs = _compaction_offsets(spark, sf_dir)
    return offs.groupBy(
        "shard",
        F.expr(f"CAST(start_off DIV {COMPACT_TARGET} AS BIGINT)").alias(
            "out_file"
        ),
    ).agg(
        F.count("*").cast("bigint").alias("n_inputs"),
        F.sum("n_docs").cast("bigint").alias("n_docs"),
        F.sum("bytes").cast("bigint").alias("bytes"),
        F.expr(
            f"CAST(sum(bytes) * 10000 DIV {COMPACT_TARGET} AS BIGINT)"
        ).alias("fill_1e4"),
    )


def _compaction_shard_col():
    """First-md5-byte shard of a doc's text — shared by the plan, the
    executor's per-doc routing, and both oracles."""
    hexpos = (
        "instr('0123456789abcdef', substr(md5(cast(text as binary)), {}, 1))"
    )
    return F.expr(
        f"(({hexpos.format(1)} - 1) * 16 + {hexpos.format(2)} - 1)"
        f" % {N_SHARDS}"
    )


def _compaction_offsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(shard, source, bytes, n_docs, start_off) fragment table with
    start-offset cumulative window — THE single definition of the
    compaction binning input, shared by llm_compaction_plan and the
    round-15 llm_compaction_exec so the executed layout cannot fork
    from the plan it claims to implement."""
    frag = (
        table(spark, sf_dir, "documents")
        .select(_compaction_shard_col().alias("shard"), "source", "n_chars")
        .groupBy("shard", "source")
        .agg(
            F.sum("n_chars").cast("bigint").alias("bytes"),
            F.count("*").cast("bigint").alias("n_docs"),
        )
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("source")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return frag.withColumn(
        "start_off", F.coalesce(F.sum("bytes").over(w), F.lit(0))
    )


def _compacted_docs(spark: SparkSession, sf_dir: str) -> str:
    """Materialize (once per fixture content) the EXECUTED compaction
    layout as a standing layout: every doc routes to its fragment's
    planned (shard, out_file) and the corpus is rewritten as
    hive-partitioned parquet, one task per planned output file
    (``repartition(shard, out_file)`` before ``partitionBy`` keeps the
    writer at one file per planned file — no small-file fan-out, which
    is the entire point of OPTIMIZE).  The layout name carries the
    TARGET, so an env-overridden target (the sf100 probe) never serves
    a layout binned at a different one."""

    def write(tmp: str) -> None:
        assign = _compaction_offsets(spark, sf_dir).select(
            "shard",
            "source",
            F.expr(
                f"CAST(start_off DIV {COMPACT_TARGET} AS BIGINT)"
            ).alias("out_file"),
        )
        docs = table(spark, sf_dir, "documents").select(
            "doc_id",
            "source",
            "n_chars",
            _compaction_shard_col().alias("shard"),
        )
        (
            # Fragment table is bounded (shards × sources) — broadcast.
            docs.join(F.broadcast(assign), ["shard", "source"])
            .repartition("shard", "out_file")
            .write.partitionBy("shard", "out_file")
            .parquet(tmp)
        )

    return standing_artifact(
        sf_dir, f"docs_compact_t{COMPACT_TARGET}", write
    )


@register(
    "llm_compaction_exec",
    tier="T3",
    doc="Compaction EXECUTED (round 15) — llm_compaction_plan promoted "
    "from plan to layout, the src_zorder_read precedent: every doc is "
    "routed to its fragment's planned (shard, out_file) and the corpus "
    "is physically rewritten as hive-partitioned parquet, one writer "
    "task per planned file (_compacted_docs, written once per fixture "
    "content).  The graded query reads the WRITTEN layout back and "
    "audits it against the plan: per output file — input-fragment "
    "count, docs, bytes, and the actual parquet file count "
    "(input_file_name), which must be exactly 1; equality with the "
    "plan-side oracle proves the rewrite landed the plan bit-for-bit.  "
    "Scale shape: one broadcast fragment join + one shuffle on the "
    "output-file key for the rewrite (the OPTIMIZE job itself), then "
    "a partition-local audit scan — at 100 TB the audit prunes to any "
    "shard subset via the hive keys.",
    oracle=f"""
WITH frag AS (
  SELECT ((instr('0123456789abcdef', substr(md5(text), 1, 1)) - 1) * 16
          + instr('0123456789abcdef', substr(md5(text), 2, 1)) - 1)
         % {N_SHARDS} AS shard,
         source,
         CAST(sum(n_chars) AS BIGINT) AS bytes,
         CAST(count(*) AS BIGINT) AS n_docs
  FROM documents GROUP BY 1, 2
), offs AS (
  SELECT shard, source, bytes, n_docs,
         coalesce(sum(bytes) OVER (PARTITION BY shard ORDER BY source
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING), 0) AS start_off
  FROM frag
)
SELECT CAST(shard AS BIGINT) AS shard,
       CAST(start_off // {COMPACT_TARGET} AS BIGINT) AS out_file,
       CAST(count(*) AS BIGINT) AS n_sources,
       CAST(sum(n_docs) AS BIGINT) AS n_docs,
       CAST(sum(bytes) AS BIGINT) AS bytes,
       CAST(1 AS BIGINT) AS n_files
FROM offs GROUP BY 1, 2
""",
)
def llm_compaction_exec(spark: SparkSession, sf_dir: str) -> DataFrame:
    layout = read_parquet(spark, _compacted_docs(spark, sf_dir))
    # input_file_name() is non-deterministic to the analyzer — project
    # it BEFORE the aggregate (it is stable per scanned row).
    rows = layout.select(
        F.col("shard").cast("bigint").alias("shard"),
        F.col("out_file").cast("bigint").alias("out_file"),
        "source",
        "n_chars",
        F.input_file_name().alias("fname"),
    )
    return rows.groupBy("shard", "out_file").agg(
        F.countDistinct("source").cast("bigint").alias("n_sources"),
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("bytes"),
        F.countDistinct("fname").cast("bigint").alias("n_files"),
    )


SOFT_SAMPLE_RES = 65_536  # 16-bit content-hash uniform resolution


@register(
    "llm_soft_sample",
    tier="T3",
    doc="Quality-weighted (soft) sampling — SoftDeDup-style data "
    "reweighting realized as a deterministic keep decision: each doc "
    "draws a reproducible uniform u from 4 content-hash nibbles "
    f"(16-bit resolution) and survives iff u < quality (both sides "
    "lifted to exact 65536ths; quality is llm_quality_score's 4-dp "
    "pinned score, so the comparison is pure integer).  Identical "
    "membership on any cluster size or engine — the sampling twin of "
    "llm_doc_split's hash routing, with a per-doc acceptance "
    "probability instead of fixed split shares.  Scale shape: one "
    "projection, zero shuffles, zero state.",
    oracle=f"""
WITH q AS (
  SELECT doc_id, text,
         ROUND(CASE WHEN len(string_split(text, ' ')) BETWEEN 20 AND 80
                    THEN 1.0 ELSE 0.5 END
               * (1.0 - CAST(len(list_filter(string_split(text, ' '),
                              t -> t IN ('the', 'a'))) AS DOUBLE)
                  / len(string_split(text, ' ')))
               * (CAST(len(list_distinct(string_split(text, ' ')))
                       AS DOUBLE) / len(string_split(text, ' '))), 4)
           AS quality
  FROM documents
), u AS (
  SELECT doc_id, quality,
         ((instr('0123456789abcdef', substr(md5(text), 3, 1)) - 1) * 4096
          + (instr('0123456789abcdef', substr(md5(text), 4, 1)) - 1) * 256
          + (instr('0123456789abcdef', substr(md5(text), 5, 1)) - 1) * 16
          + instr('0123456789abcdef', substr(md5(text), 6, 1)) - 1)
           AS u16
  FROM q
)
SELECT doc_id, quality, CAST(u16 AS BIGINT) AS u16,
       CAST(u16 < CAST(floor(quality * {SOFT_SAMPLE_RES} + 0.5)
                       AS BIGINT) AS INT) AS keep
FROM u
""",
)
def llm_soft_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from scala_reactivex_spark.operators.llm_text import llm_quality_score

    hexpos = (
        "instr('0123456789abcdef', substr(md5(cast(text as binary)), {}, 1))"
    )
    u16 = F.expr(
        f"(({hexpos.format(3)} - 1) * 4096 + ({hexpos.format(4)} - 1) * 256"
        f" + ({hexpos.format(5)} - 1) * 16 + {hexpos.format(6)} - 1)"
    )
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", u16.alias("u16")
    )
    q = llm_quality_score(spark, sf_dir).select("doc_id", "quality")
    return docs.join(q, "doc_id").select(
        "doc_id",
        "quality",
        F.col("u16").cast("bigint").alias("u16"),
        (
            F.col("u16")
            < F.floor(
                F.col("quality") * SOFT_SAMPLE_RES + F.lit(0.5)
            ).cast("bigint")
        )
        .cast("int")
        .alias("keep"),
    )


@register(
    "llm_corpus_diff",
    tier="T3",
    doc="Corpus snapshot diff — the dataset-versioning report (what a "
    "Delta/Iceberg time-travel comparison renders): two deterministic "
    "content-hash-routed corpus versions (v1 = md5 nibble 3 mod 3 != 0, "
    "v2 = nibble 4 mod 3 != 0 — overlapping ~2/3 slices playing "
    "yesterday's and today's snapshot) diff by DISTINCT content hash "
    "within each source via a full outer join on (source, hash); per "
    "source: sizes, added/removed/common hashes and churn share (1e4). "
    " Scale shape: one distinct aggregate per version keyed on "
    "(source, hash) — the same shuffle the diff join then reuses — and "
    "a bounded per-source rollup.",
    oracle="""
WITH h AS (
  SELECT source, md5(text) AS th,
         (instr('0123456789abcdef', substr(md5(text), 3, 1)) - 1)
           % 3 <> 0 AS v1,
         (instr('0123456789abcdef', substr(md5(text), 4, 1)) - 1)
           % 3 <> 0 AS v2
  FROM documents
), s1 AS (
  SELECT DISTINCT source, th FROM h WHERE v1
), s2 AS (
  SELECT DISTINCT source, th FROM h WHERE v2
), d AS (
  SELECT coalesce(s1.source, s2.source) AS source,
         s1.th IS NOT NULL AS in_v1,
         s2.th IS NOT NULL AS in_v2
  FROM s1 FULL OUTER JOIN s2
    ON s1.source = s2.source AND s1.th = s2.th
)
SELECT source,
       CAST(count(*) FILTER (WHERE in_v1) AS BIGINT) AS n_v1,
       CAST(count(*) FILTER (WHERE in_v2) AS BIGINT) AS n_v2,
       CAST(count(*) FILTER (WHERE in_v2 AND NOT in_v1) AS BIGINT)
         AS n_added,
       CAST(count(*) FILTER (WHERE in_v1 AND NOT in_v2) AS BIGINT)
         AS n_removed,
       CAST(count(*) FILTER (WHERE in_v1 AND in_v2) AS BIGINT)
         AS n_common,
       CAST(count(*) FILTER (WHERE NOT (in_v1 AND in_v2)) * 10000
            // count(*) AS BIGINT) AS churn_1e4
FROM d GROUP BY source
""",
)
def llm_corpus_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    hexpos = (
        "instr('0123456789abcdef', substr(md5(cast(text as binary)), {}, 1))"
    )
    h = table(spark, sf_dir, "documents").select(
        "source",
        F.md5(F.col("text").cast("binary")).alias("th"),
        F.expr(f"({hexpos.format(3)} - 1) % 3 != 0").alias("v1"),
        F.expr(f"({hexpos.format(4)} - 1) % 3 != 0").alias("v2"),
    )
    s1 = h.where("v1").select("source", "th").distinct()
    s2 = h.where("v2").select("source", "th").distinct()
    d = s1.withColumn("in_v1", F.lit(True)).join(
        s2.withColumn("in_v2", F.lit(True)),
        ["source", "th"],
        "full_outer",
    )
    in1 = F.coalesce("in_v1", F.lit(False))
    in2 = F.coalesce("in_v2", F.lit(False))
    return d.groupBy("source").agg(
        F.count(F.when(in1, 1)).cast("bigint").alias("n_v1"),
        F.count(F.when(in2, 1)).cast("bigint").alias("n_v2"),
        F.count(F.when(in2 & ~in1, 1)).cast("bigint").alias("n_added"),
        F.count(F.when(in1 & ~in2, 1)).cast("bigint").alias("n_removed"),
        F.count(F.when(in1 & in2, 1)).cast("bigint").alias("n_common"),
        F.expr(
            "CAST(count(CASE WHEN NOT (coalesce(in_v1, false)"
            " AND coalesce(in_v2, false)) THEN 1 END) * 10000"
            " DIV count(*) AS BIGINT)"
        ).alias("churn_1e4"),
    )


@register(
    "llm_mix_temperature",
    tier="T3",
    doc="Temperature-weighted sampling shares (the multilingual "
    "exponential-smoothing rule of mBERT/XLM-R, α=1/2): per source, "
    "raw token share vs sqrt-damped share — the knob that keeps "
    "low-resource sources from vanishing at 100 TB mix time.  "
    "Determinism: sqrt(tokens) pins to integer 1e6 units PER SOURCE "
    "before the normalizing sum, so the denominator is an exact "
    "integer and every share is floor division — no float "
    "accumulation across rows, ever.  Scale shape: one hash "
    "aggregate to the bounded source key; the normalizer rides a "
    "1-row broadcast.",
    oracle="""
WITH t AS (
  SELECT source,
         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tokens
  FROM documents GROUP BY source
), w AS (
  SELECT source, tokens,
         CAST(floor(sqrt(CAST(tokens AS DOUBLE)) * 1000000 + 0.5)
              AS BIGINT) AS w1e6
  FROM t
), s AS (
  SELECT CAST(sum(tokens) AS BIGINT) AS tot,
         CAST(sum(w1e6) AS BIGINT) AS wtot
  FROM w
)
SELECT w.source, w.tokens,
       CAST(w.tokens * 10000 // s.tot AS BIGINT) AS raw_share_1e4,
       CAST(w.w1e6 * 10000 // s.wtot AS BIGINT) AS temp_share_1e4
FROM w CROSS JOIN s
""",
)
def llm_mix_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = (
        table(spark, sf_dir, "documents")
        .select("source", F.size(F.split("text", " ")).alias("n"))
        .groupBy("source")
        .agg(F.sum("n").cast("bigint").alias("tokens"))
    )
    w = t.withColumn(
        "w1e6",
        F.floor(F.sqrt(F.col("tokens").cast("double")) * 1_000_000 + 0.5)
        .cast("bigint"),
    )
    s = w.agg(
        F.sum("tokens").cast("bigint").alias("tot"),
        F.sum("w1e6").cast("bigint").alias("wtot"),
    )
    return w.crossJoin(F.broadcast(s)).select(
        "source",
        "tokens",
        F.expr("CAST(tokens * 10000 DIV tot AS BIGINT)").alias(
            "raw_share_1e4"
        ),
        F.expr("CAST(w1e6 * 10000 DIV wtot AS BIGINT)").alias(
            "temp_share_1e4"
        ),
    )


MASK_RATE_PCT = 15  # target masked-token share (T5's 15%)


@register(
    "llm_span_corruption",
    tier="T3",
    doc="Span-corruption planning (T5/UL2 denoising objective): each "
    "token position masks iff a portable position hash "
    "((doc_id·1000003 + i) mod p mod 100) falls under "
    f"{MASK_RATE_PCT}%, and adjacent masked positions merge into "
    "SPANS via per-row array math (the sentinel-token count a T5 "
    "encoder actually sees).  Fully deterministic — same plan on any "
    "engine, rerun, or cluster size; no RNG state.  Emits per doc: "
    "tokens, masked count, span count, and the masked share (1e4). "
    " Scale shape: pure per-row transforms on the token array — zero "
    "shuffles, zero joins, zero state.",
    oracle=f"""
WITH t AS (
  SELECT doc_id, len(string_split(text, ' ')) AS n_tok,
         list_transform(range(1, len(string_split(text, ' ')) + 1),
           i -> CASE WHEN ((doc_id * 1000003 + i) % 2147483647) % 100
                          < {MASK_RATE_PCT}
                     THEN 1 ELSE 0 END) AS m
  FROM documents
)
SELECT doc_id,
       CAST(n_tok AS BIGINT) AS n_tok,
       CAST(list_sum(m) AS BIGINT) AS n_masked,
       CAST(list_sum(list_transform(range(1, len(m) + 1),
              i -> CASE WHEN m[i] = 1
                         AND (i = 1 OR m[i - 1] = 0)
                    THEN 1 ELSE 0 END)) AS BIGINT) AS n_spans,
       CAST(list_sum(m) * 10000 // n_tok AS BIGINT) AS mask_share_1e4
FROM t
""",
)
def llm_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = F.expr(
        "transform(sequence(1, size(split(text, ' '))), "
        f"i -> IF(((doc_id * 1000003 + i) % 2147483647) % 100"
        f" < {MASK_RATE_PCT}, 1, 0))"
    )
    t = table(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(F.split("text", " ")).cast("bigint").alias("n_tok"),
        m.alias("m"),
    )
    n_masked = F.expr(
        "aggregate(m, CAST(0 AS BIGINT), (acc, v) -> acc + v)"
    )
    n_spans = F.expr(
        "aggregate(transform(sequence(1, size(m)), "
        "i -> IF(element_at(m, i) = 1 AND "
        "(i = 1 OR element_at(m, i - 1) = 0), 1, 0)), "
        "CAST(0 AS BIGINT), (acc, v) -> acc + v)"
    )
    return t.select(
        "doc_id",
        "n_tok",
        n_masked.alias("n_masked"),
        n_spans.alias("n_spans"),
        F.expr(
            "CAST(aggregate(m, CAST(0 AS BIGINT), (acc, v) -> acc + v)"
            " * 10000 DIV n_tok AS BIGINT)"
        ).alias("mask_share_1e4"),
    )


_SPLIT_CASE_DUCK = """CASE
  WHEN substr(md5(text), 1, 1) BETWEEN '0' AND 'b' THEN 'train'
  WHEN substr(md5(text), 1, 1) IN ('c', 'd') THEN 'val'
  ELSE 'test' END"""


@register(
    "llm_oov_rate",
    tier="T3",
    doc="Held-out OOV rates — the generalization check run before "
    "freezing a tokenizer or LM vocabulary: per content-hash split, "
    "the share of token occurrences and adjacent-bigram occurrences "
    "absent from the TRAIN split's inventories (1e4 integer rates). "
    "Train's own row is the 0/0 sanity anchor.  Scale shape: the "
    "train inventories are vocab-bounded aggregates; membership is a "
    "left anti-ish flag via left join on the token/bigram key; the "
    "rollup is three bounded rows.",
    oracle=f"""
WITH d AS (
  SELECT doc_id, {_SPLIT_CASE_DUCK} AS split,
         string_split(text, ' ') AS words
  FROM documents
), tok AS (
  SELECT split, unnest(words) AS t FROM d
), big AS (
  SELECT split,
         unnest(list_transform(generate_series(1, len(words) - 1),
                i -> words[i] || ' ' || words[i + 1])) AS g
  FROM d WHERE len(words) >= 2
), tv AS (
  SELECT DISTINCT t FROM tok WHERE split = 'train'
), bv AS (
  SELECT DISTINCT g FROM big WHERE split = 'train'
), tr AS (
  SELECT tok.split,
         count(*) AS n_tok,
         count(*) FILTER (WHERE tv.t IS NULL) AS oov_tok
  FROM tok LEFT JOIN tv ON tok.t = tv.t GROUP BY tok.split
), br AS (
  SELECT big.split,
         count(*) AS n_big,
         count(*) FILTER (WHERE bv.g IS NULL) AS oov_big
  FROM big LEFT JOIN bv ON big.g = bv.g GROUP BY big.split
)
SELECT tr.split,
       CAST(tr.n_tok AS BIGINT) AS n_tok,
       CAST(tr.oov_tok AS BIGINT) AS oov_tok,
       CAST(tr.oov_tok * 10000 // tr.n_tok AS BIGINT) AS oov_tok_1e4,
       CAST(br.n_big AS BIGINT) AS n_big,
       CAST(br.oov_big AS BIGINT) AS oov_big,
       CAST(br.oov_big * 10000 // br.n_big AS BIGINT) AS oov_big_1e4
FROM tr JOIN br ON tr.split = br.split
""",
)
def llm_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    nib = F.substring(F.md5(F.col("text").cast("binary")), 1, 1)
    split = (
        F.when(nib.between("0", "b"), "train")
        .when(nib.isin("c", "d"), "val")
        .otherwise("test")
    )
    d = table(spark, sf_dir, "documents").select(
        split.alias("split"), F.split("text", " ").alias("words")
    )
    tok = d.select("split", F.explode("words").alias("t"))
    big = d.where(F.size("words") >= 2).select(
        "split",
        F.explode(
            F.expr(
                "transform(sequence(1, size(words) - 1), "
                "i -> concat(element_at(words, i), ' ', "
                "element_at(words, i + 1)))"
            )
        ).alias("g"),
    )
    tv = (
        tok.where(F.col("split") == "train")
        .select("t")
        .distinct()
        .withColumn("seen_t", F.lit(1))
    )
    bv = (
        big.where(F.col("split") == "train")
        .select("g")
        .distinct()
        .withColumn("seen_g", F.lit(1))
    )
    tr = (
        tok.join(tv, "t", "left")
        .groupBy("split")
        .agg(
            F.count("*").cast("bigint").alias("n_tok"),
            F.count(F.when(F.col("seen_t").isNull(), 1))
            .cast("bigint")
            .alias("oov_tok"),
        )
    )
    br = (
        big.join(bv, "g", "left")
        .groupBy("split")
        .agg(
            F.count("*").cast("bigint").alias("n_big"),
            F.count(F.when(F.col("seen_g").isNull(), 1))
            .cast("bigint")
            .alias("oov_big"),
        )
    )
    return tr.join(br, "split").select(
        "split",
        "n_tok",
        "oov_tok",
        F.expr("CAST(oov_tok * 10000 DIV n_tok AS BIGINT)").alias(
            "oov_tok_1e4"
        ),
        "n_big",
        "oov_big",
        F.expr("CAST(oov_big * 10000 DIV n_big AS BIGINT)").alias(
            "oov_big_1e4"
        ),
    )


RESERVOIR_K = 20  # kept docs per stratum (the per-source audit sample)
RESERVOIR_BUCKETS = 16  # phase-1 split (first md5 nibble)


@register(
    "llm_reservoir_sample",
    tier="T3",
    doc=f"Per-stratum deterministic reservoir: exactly min({RESERVOIR_K}, "
    "n) docs per source, ranked by content hash (never rand() — "
    "membership is a pure function of the corpus, reproducible across "
    "runs/engines/partitionings).  Complements llm_stratified_sample "
    "(proportional rates) with the FIXED-SIZE sample an audit / data "
    "card / human-eval queue needs.  Scale shape (two-phase): a "
    f"corpus-wide top-{RESERVOIR_K} per stratum is first taken per "
    f"(source, md5-nibble) — {RESERVOIR_BUCKETS} bounded local sorts "
    "in parallel instead of one full-stratum sort — then re-ranked over "
    f"the ≤{RESERVOIR_BUCKETS}·{RESERVOIR_K} survivors per stratum "
    "(any stratum-top-k doc is its bucket's top-k, so phase 1 is "
    "lossless).",
    oracle=f"""
SELECT source, doc_id, CAST(rk AS BIGINT) AS rk
FROM (
  SELECT source, doc_id,
         row_number() OVER (PARTITION BY source
                            ORDER BY md5(text), doc_id) AS rk
  FROM documents
)
WHERE rk <= {RESERVOIR_K}
""",
)
def llm_reservoir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").select(
        "source",
        "doc_id",
        F.md5(F.col("text").cast("binary")).alias("h"),
    )
    nib = F.substring("h", 1, 1)
    local = Window.partitionBy("source", nib).orderBy("h", "doc_id")
    survivors = docs.withColumn(
        "lrk", F.row_number().over(local)
    ).where(F.col("lrk") <= RESERVOIR_K)
    final = Window.partitionBy("source").orderBy("h", "doc_id")
    return (
        survivors.withColumn("rk", F.row_number().over(final))
        .where(F.col("rk") <= RESERVOIR_K)
        .select("source", "doc_id", F.col("rk").cast("bigint").alias("rk"))
    )


RHO_MARGIN_U = 200_000  # keep-threshold: ≥0.2 log10 per token advantage


@register(
    "llm_rho_select",
    tier="T3",
    doc="Reference-model excess-loss selection (RHO-1-style, with the "
    "per-source unigram LM standing in for the domain reference model): "
    "each doc is costed under the CORPUS unigram LM and under its own "
    "SOURCE'S unigram LM; the per-token micro-log10 advantage "
    "(corpus cost − domain cost) ranks how much more learnable the doc "
    "is for its domain than for the population — the selection signal "
    f"targeted-data curation uses.  keep = advantage ≥ {RHO_MARGIN_U} "
    "(0.2 log10/token).  No smoothing needed: a doc's tokens are "
    "contained in its source's counts, so domain counts are ≥1.  Scale "
    "shape: two map-side-combined freq aggregates (tok, and the "
    "(source, tok) key), 1-row / per-source-bounded broadcast totals, "
    "two hash joins on the token keys, one per-doc aggregate — the "
    "llm_ppl_filter plan doubled, nothing quadratic.  Micro-log10 "
    "pinning identical to llm_ppl_filter (floor(log10·1e6 + 0.5) on "
    "identical doubles).",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, source, unnest(string_split(text, ' ')) AS tok
  FROM documents
), gfreq AS (
  SELECT tok, count(*) AS c FROM toks GROUP BY tok
), gtot AS (
  SELECT CAST(sum(c) AS DOUBLE) AS t FROM gfreq
), dfreq AS (
  SELECT source, tok, count(*) AS c FROM toks GROUP BY source, tok
), dtot AS (
  SELECT source, CAST(sum(c) AS DOUBLE) AS t FROM dfreq GROUP BY source
), costed AS (
  SELECT toks.doc_id,
         count(*) AS n_tok,
         -sum(CAST(floor(log10(CAST(gfreq.c AS DOUBLE) / gtot.t) * 1000000
                         + 0.5) AS BIGINT)) AS gcost,
         -sum(CAST(floor(log10(CAST(dfreq.c AS DOUBLE) / dtot.t) * 1000000
                         + 0.5) AS BIGINT)) AS dcost
  FROM toks
  JOIN gfreq USING (tok) CROSS JOIN gtot
  JOIN dfreq ON dfreq.source = toks.source AND dfreq.tok = toks.tok
  JOIN dtot ON dtot.source = toks.source
  GROUP BY toks.doc_id
)
SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok,
       CAST((gcost - dcost) // n_tok AS BIGINT) AS adv_per_tok_u,
       CAST(((gcost - dcost) // n_tok >= {RHO_MARGIN_U}) AS INTEGER)
         AS keep
FROM costed
WHERE gcost - dcost >= 0
""",
)
def llm_rho_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Round-13 probe-driven rewrite (sf100 read 0.98x of linear with
    # the token stream shuffled TWICE — once on tok for the corpus LM,
    # once on (source, tok) for the domain LM): both log-likelihoods
    # now pre-join into ONE (source, tok)-keyed table at VOCABULARY
    # scale (gfreq derives from dfreq, saving the second corpus-wide
    # aggregate too), so the corpus-scale token stream is shuffled and
    # joined exactly once.  Identical doubles -> identical pinning ->
    # value-identical output (re-verified green both SFs).
    toks = table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.explode(F.split("text", " ")).alias("tok")
    )
    dfreq = toks.groupBy("source", "tok").agg(F.count("*").alias("dc"))
    gfreq = dfreq.groupBy("tok").agg(F.sum("dc").alias("gc"))
    gtot = gfreq.agg(F.sum("gc").cast("double").alias("gt"))
    dtot = dfreq.groupBy("source").agg(
        F.sum("dc").cast("double").alias("dt")
    )
    glp = F.floor(
        F.log10(F.col("gc").cast("double") / F.col("gt")) * 1000000 + 0.5
    ).cast("bigint")
    dlp = F.floor(
        F.log10(F.col("dc").cast("double") / F.col("dt")) * 1000000 + 0.5
    ).cast("bigint")
    lk = (
        dfreq.join(gfreq, "tok")
        .join(F.broadcast(dtot), "source")
        .crossJoin(F.broadcast(gtot))
        .select("source", "tok", glp.alias("glp"), dlp.alias("dlp"))
    )
    costed = (
        toks.join(lk, ["source", "tok"])
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_tok"),
            (-F.sum("glp")).cast("bigint").alias("gcost"),
            (-F.sum("dlp")).cast("bigint").alias("dcost"),
        )
    )
    adv = F.col("gcost") - F.col("dcost")
    return (
        costed.where(adv >= 0)
        .select(
            "doc_id",
            "n_tok",
            F.expr("CAST((gcost - dcost) DIV n_tok AS BIGINT)").alias(
                "adv_per_tok_u"
            ),
            F.expr(
                f"CAST((gcost - dcost) DIV n_tok >= {RHO_MARGIN_U} "
                "AS INT)"
            ).alias("keep"),
        )
    )


ES_SHARDS = 64  # epoch-shuffle reader shards
ES_SALT = "e1"  # epoch tag: changing it re-derives a fresh permutation


def epoch_hash_col():
    """The salted epoch-permutation hash of doc_id — THE single
    definition of the routing recipe (batch op, serving twin and the
    equivalence test all import it, so the recipe cannot fork)."""
    return F.md5(
        F.concat(F.col("doc_id").cast("string"), F.lit(f":{ES_SALT}")).cast(
            "binary"
        )
    )


def epoch_shard_col(h: str = "h"):
    """Reader-shard id from the epoch hash column: first two hex
    nibbles mod ES_SHARDS (the llm_shard_assign hex-instr idiom)."""
    hexpos = f"instr('0123456789abcdef', substr({h}, {{}}, 1))"
    return F.expr(
        f"(({hexpos.format(1)} - 1) * 16 + {hexpos.format(2)} - 1)"
        f" % {ES_SHARDS}"
    )


@register(
    "llm_epoch_shuffle",
    tier="T3",
    doc=f"Deterministic epoch shuffle + interleave audit: every doc "
    f"routes to one of {ES_SHARDS} reader shards by salted ID hash "
    f"(md5(doc_id || ':{ES_SALT}') first two nibbles) and orders "
    "WITHIN its shard by the same hash — the distributed form of a "
    "global training-order permutation (shuffle to a random bucket, "
    "sort inside the bucket; no corpus-global sort ever "
    "materializes).  Per shard it emits the numbers an epoch layout "
    "is accepted by: doc/source counts, top-source share and the "
    "adjacent-pair same-source rate (1e4) — post-shuffle adjacency "
    "should sit near the Σshare² mixing floor, where the doc_id-ordered "
    "input (runs of same-source crawl batches) sits far above it.  "
    "Salting the ID, not the content, keeps the permutation "
    "content-independent and O(1) re-derivable per epoch.  Scale "
    "shape: one hash-partition shuffle (the epoch shuffle itself), "
    f"per-shard bounded sorts (n/{ES_SHARDS} rows), one aggregate.",
    oracle=f"""
WITH b AS (
  SELECT doc_id, source,
         md5(CAST(doc_id AS VARCHAR) || ':{ES_SALT}') AS h
  FROM documents
), s AS (
  SELECT doc_id, source, h,
         ((instr('0123456789abcdef', substr(h, 1, 1)) - 1) * 16
          + instr('0123456789abcdef', substr(h, 2, 1)) - 1)
         % {ES_SHARDS} AS shard
  FROM b
), adj AS (
  SELECT shard, source,
         CASE WHEN lag(source) OVER (PARTITION BY shard
                                     ORDER BY h, doc_id) = source
              THEN 1 ELSE 0 END AS same_src
  FROM s
), per AS (
  SELECT shard,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(count(DISTINCT source) AS BIGINT) AS n_src,
         CAST(sum(same_src) AS BIGINT) AS n_adj_same
  FROM adj GROUP BY shard
), topshare AS (
  SELECT shard, CAST(max(c) AS BIGINT) AS top_c
  FROM (SELECT shard, source, count(*) AS c FROM s GROUP BY shard, source)
  GROUP BY shard
)
SELECT p.shard, p.n_docs, p.n_src,
       CAST(t.top_c * 10000 // p.n_docs AS BIGINT) AS top_share_1e4,
       CAST(p.n_adj_same * 10000 // greatest(p.n_docs - 1, 1) AS BIGINT)
         AS adj_same_1e4
FROM per p JOIN topshare t USING (shard)
""",
)
def llm_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = (
        table(spark, sf_dir, "documents")
        .select("doc_id", "source", epoch_hash_col().alias("h"))
        .withColumn("shard", epoch_shard_col("h"))
    )
    wsh = Window.partitionBy("shard").orderBy("h", "doc_id")
    adj = s.withColumn(
        "same_src",
        F.when(F.lag("source").over(wsh) == F.col("source"), 1).otherwise(
            0
        ),
    )
    per = adj.groupBy("shard").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.countDistinct("source").cast("bigint").alias("n_src"),
        F.sum("same_src").cast("bigint").alias("n_adj_same"),
    )
    topshare = (
        s.groupBy("shard", "source")
        .agg(F.count("*").alias("c"))
        .groupBy("shard")
        .agg(F.max("c").cast("bigint").alias("top_c"))
    )
    return per.join(topshare, "shard").select(
        "shard",
        "n_docs",
        "n_src",
        F.expr("CAST(top_c * 10000 DIV n_docs AS BIGINT)").alias(
            "top_share_1e4"
        ),
        F.expr(
            "CAST(n_adj_same * 10000 DIV greatest(n_docs - 1, 1)"
            " AS BIGINT)"
        ).alias("adj_same_1e4"),
    )
