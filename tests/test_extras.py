"""Law tests for the round-7 operators (llm_extras.py).

The oracle gate pins exact values; these pin the scale-relevant
invariants — above all that the bucketed join's executed plan really is
shuffle-free on the join keys.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from scala_reactivex_spark.operators.llm_extras import (
    CHUNK_S,
    CHUNK_W,
    llm_bpe_fertility,
    llm_chunk_overlap,
    src_bucketed_join,
)
from scala_reactivex_spark.sources.catalog import table


def test_chunk_overlap_covers_every_token_exactly(spark, sf_dir):
    """Chunks tile each doc: stride spacing, full window except possibly
    the tail, first chunk at token 1, and the union of [start, start+n)
    spans covers 1..n_tok with no gap (overlap is expected)."""
    rows = llm_chunk_overlap(spark, sf_dir).collect()
    docs = {
        r["doc_id"]: r["n"]
        for r in table(spark, sf_dir, "documents")
        .select("doc_id", F.size(F.split("text", " ")).alias("n"))
        .collect()
    }
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert set(by_doc) == set(docs)
    for doc_id, chunks in by_doc.items():
        chunks.sort(key=lambda r: r["chunk_idx"])
        n = docs[doc_id]
        assert [c["chunk_idx"] for c in chunks] == list(range(len(chunks)))
        covered_to = 0
        for c in chunks:
            assert c["start_tok"] == c["chunk_idx"] * CHUNK_S + 1
            assert 1 <= c["n_tok"] <= CHUNK_W
            assert c["start_tok"] <= covered_to + 1  # no gap
            covered_to = max(covered_to, c["start_tok"] + c["n_tok"] - 1)
        assert covered_to == n  # tail reached exactly
        # every non-tail chunk is full-width
        for c in chunks[:-1]:
            assert c["n_tok"] == CHUNK_W


def test_bucketed_join_plan_has_no_join_exchange(spark, sf_dir):
    """The whole point of the bucketed layout: the executed plan merge-
    joins the two bucketed tables with ZERO Exchange below the join —
    the only shuffle is the final 5-row priority rollup."""
    df = src_bucketed_join(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan
    exchanges = [
        line for line in plan.splitlines() if "Exchange" in line
    ]
    # exactly one Exchange: hashpartitioning on o_orderpriority (rollup)
    assert len(exchanges) == 1, exchanges
    assert "o_orderpriority" in exchanges[0]
    for key in ("l_orderkey", "o_orderkey"):
        assert not any(key in e for e in exchanges), exchanges


def test_bucketed_join_matches_plain_join(spark, sf_dir):
    """Layout must not change answers: the bucketed rollup equals the
    same aggregation over a plain (shuffled) join of the raw parquet."""
    got = {
        (r["o_orderpriority"], r["n_lines"], r["n_orders"], r["revenue"])
        for r in src_bucketed_join(spark, sf_dir).collect()
    }
    from scala_reactivex_spark.functions.determinism import dsum

    li = table(spark, sf_dir, "lineitem")
    od = table(spark, sf_dir, "orders")
    want = {
        (r["o_orderpriority"], r["n_lines"], r["n_orders"], r["revenue"])
        for r in li.join(od, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").cast("bigint").alias("n_lines"),
            F.countDistinct("o_orderkey").cast("bigint").alias("n_orders"),
            dsum(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("revenue"),
        )
        .collect()
    }
    assert got == want


def test_bpe_fertility_consistent_with_per_doc_table(spark, sf_dir):
    """Per-language sums reconcile with the per-doc llm_bpe_apply table,
    and compression never inflates (merges only shorten symbols)."""
    from scala_reactivex_spark.operators.llm_subdoc import llm_bpe_apply

    rows = llm_bpe_fertility(spark, sf_dir).collect()
    per_doc = llm_bpe_apply(spark, sf_dir).collect()
    assert sum(r["n_docs"] for r in rows) == len(per_doc)
    assert sum(r["syms_before"] for r in rows) == sum(
        r["syms_before"] for r in per_doc
    )
    for r in rows:
        assert r["syms_after"] <= r["syms_before"]
        assert 0 < r["ratio_1e4"] <= 10_000


def test_twin_chunk_overlap_equals_batch(spark, sf_dir, tmp_path):
    """The streaming chunker emits exactly the batch chunk set (stateless
    projection — micro-batch boundaries cannot matter)."""
    from scala_reactivex_spark.streaming import twins

    src = str(tmp_path / "docs_src")
    table(spark, sf_dir, "documents").repartition(3).write.parquet(src)
    out = twins.run_stream_to_table(
        twins.twin_chunk_overlap(twins.docs_stream(spark, src)),
        "t_chunks",
        str(tmp_path / "ckpt"),
    )
    got = {tuple(r) for r in out.collect()}
    want = {tuple(r) for r in llm_chunk_overlap(spark, sf_dir).collect()}
    assert got == want and got


def test_chunk_retrieval_recall_shape(spark, sf_dir):
    """Eval-table laws: every test-split query gets exactly min(k, cands)
    contiguous ranks, overlap is bounded by the query width, and hit
    flags agree with the doc identity."""
    from scala_reactivex_spark.operators.llm_extras import (
        RAG_TOPK,
        llm_chunk_retrieval_recall,
    )

    rows = llm_chunk_retrieval_recall(spark, sf_dir).collect()
    assert rows
    by_q: dict[int, list] = {}
    for r in rows:
        by_q.setdefault(r["q_id"], []).append(r)
    for q_id, rs in by_q.items():
        rs.sort(key=lambda r: r["rnk"])
        assert [r["rnk"] for r in rs] == list(range(1, len(rs) + 1))
        assert len(rs) <= RAG_TOPK
        for r in rs:
            assert 1 <= r["overlap"] <= 4
            assert r["hit"] == int(r["doc_id"] == q_id)


def test_salted_join_spreads_key_and_matches_plain(spark, sf_dir):
    """Salting must (a) hash the shuffle on (key, salt) so a hot key
    spans SALT_BUCKETS partitions, and (b) not change the answer."""
    from scala_reactivex_spark.operators.llm_extras import (
        rel_join_skew_salted,
    )
    from scala_reactivex_spark.functions.determinism import dsum

    df = rel_join_skew_salted(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    join_exchanges = [
        line
        for line in plan.splitlines()
        if "Exchange hashpartitioning" in line
        and ("l_orderkey" in line or "o_orderkey" in line)
    ]
    assert join_exchanges, plan
    assert all("salt" in e for e in join_exchanges), join_exchanges

    got = {tuple(r) for r in df.collect()}
    li = table(spark, sf_dir, "lineitem")
    od = table(spark, sf_dir, "orders")
    want = {
        tuple(r)
        for r in li.join(od, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            "o_orderstatus",
            F.year("l_shipdate").cast("bigint").alias("ship_year"),
        )
        .agg(
            F.count("*").cast("bigint").alias("n_lines"),
            dsum(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("revenue"),
        )
        .collect()
    }
    assert got == want


def test_chunk_dedup_reconciles_with_chunk_table(spark, sf_dir):
    """Every reported boilerplate chunk really spans ≥2 documents, and
    its occurrence count matches the raw chunk table."""
    from collections import defaultdict

    from scala_reactivex_spark.operators.llm_extras import (
        CHUNK_DUP_MIN_DOCS,
        llm_chunk_dedup,
    )

    rows = llm_chunk_dedup(spark, sf_dir).collect()
    assert rows
    chunk_rows = llm_chunk_overlap(spark, sf_dir).collect()
    occur: dict[str, int] = defaultdict(int)
    docs: dict[str, set] = defaultdict(set)
    for c in chunk_rows:
        occur[c["chunk_md5"]] += 1
        docs[c["chunk_md5"]].add(c["doc_id"])
    for r in rows:
        assert r["n_occur"] == occur[r["chunk_md5"]]
        assert r["n_docs"] == len(docs[r["chunk_md5"]])
        assert r["n_docs"] >= CHUNK_DUP_MIN_DOCS
        assert r["example_doc"] == min(docs[r["chunk_md5"]])


def test_twin_schema_evolution_equals_batch(spark, sf_dir, tmp_path):
    """Streaming with the declared superset schema over both parquet
    generations converges to the batch mergeSchema rollup exactly."""
    from scala_reactivex_spark.operators.llm_extras import (
        _evolved_events,
        src_schema_evolution,
    )
    from scala_reactivex_spark.streaming import twins

    evolved = _evolved_events(spark, sf_dir)
    out = twins.run_stream_to_table(
        twins.twin_schema_evolution(spark, evolved),
        "t_schema_evo",
        str(tmp_path / "ckpt"),
        output_mode="complete",
    )
    got = {tuple(r) for r in twins.schema_evolution_view(out).collect()}
    want = {tuple(r) for r in src_schema_evolution(spark, sf_dir).collect()}
    assert got == want and len(got) == 2


def test_kanon_audit_flags_only_small_groups(spark, sf_dir):
    """Every flagged group is genuinely below k, and the flagged set is
    exactly the sub-k subset of the full quasi-identifier histogram."""
    from scala_reactivex_spark.operators.llm_extras import (
        KANON_BAND,
        KANON_K,
        llm_kanon_audit,
    )

    flagged = {
        (r["lang"], r["source"], r["len_band"]): r["n_docs"]
        for r in llm_kanon_audit(spark, sf_dir).collect()
    }
    full = {
        (r["lang"], r["source"], r["len_band"]): r["n"]
        for r in table(spark, sf_dir, "documents")
        .groupBy(
            "lang",
            "source",
            F.expr(f"CAST(n_chars DIV {KANON_BAND} AS BIGINT)").alias(
                "len_band"
            ),
        )
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert flagged == {k: v for k, v in full.items() if v < KANON_K}
    assert flagged  # the fixture has sub-k groups by construction


def test_cluster_purity_reconciles_with_assignment(spark, sf_dir):
    """Purity rows cover every cluster, member counts sum to the corpus,
    and the majority share is consistent (purity in (0, 1e4])."""
    from scala_reactivex_spark.operators.llm_cluster import (
        _kmeans_assignment,
    )
    from scala_reactivex_spark.operators.llm_extras import (
        llm_cluster_purity,
    )

    rows = llm_cluster_purity(spark, sf_dir).collect()
    asg = _kmeans_assignment(spark, sf_dir).collect()
    assert {r["cluster_id"] for r in rows} == {
        a["cluster_id"] for a in asg
    }
    assert sum(r["n_vecs"] for r in rows) == len(asg)
    for r in rows:
        assert 1 <= r["maj_n"] <= r["n_vecs"]
        assert r["n_labels"] >= 1
        assert 0 < r["purity_1e4"] <= 10_000
        assert r["purity_1e4"] == r["maj_n"] * 10_000 // r["n_vecs"]


def test_chunk_geometry_closed_form_tiles_any_length():
    """Property: for every doc length n, the closed-form chunk count
    yields windows that (a) start in-bounds, (b) reach exactly the last
    token, (c) never emit a fully-redundant trailing chunk (the
    second-to-last window must NOT already cover the end)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from scala_reactivex_spark.operators.llm_extras import (
        CHUNK_S,
        CHUNK_W,
    )

    @settings(max_examples=300, deadline=None)
    @given(st.integers(min_value=1, max_value=1_000_000))
    def check(n):
        if n <= CHUNK_W:
            nc = 1
        else:
            nc = 1 + (n - CHUNK_W + CHUNK_S - 1) // CHUNK_S
        last_start = (nc - 1) * CHUNK_S + 1
        assert last_start <= n  # last window starts in-bounds
        assert last_start + CHUNK_W - 1 >= n  # last window reaches the end
        if nc > 1:
            prev_end = (nc - 2) * CHUNK_S + CHUNK_W
            assert prev_end < n  # no fully-redundant trailing chunk

    check()


def test_twin_kanon_gate_equals_batch_membership(spark, sf_dir, tmp_path):
    """The streaming gate's suppress flags equal membership of each
    document's quasi-identifier tuple in the batch audit's sub-k list."""
    from scala_reactivex_spark.operators.llm_extras import (
        KANON_BAND,
        llm_kanon_audit,
    )
    from scala_reactivex_spark.streaming import twins

    src = str(tmp_path / "docs_src")
    table(spark, sf_dir, "documents").repartition(3).write.parquet(src)
    violating = llm_kanon_audit(spark, sf_dir)
    out = twins.run_stream_to_table(
        twins.twin_kanon_gate(twins.docs_stream(spark, src), violating),
        "t_kanon",
        str(tmp_path / "ckpt"),
    )
    got = {(r["doc_id"], r["suppress"]) for r in out.collect()}
    bad = {
        (r["lang"], r["source"], r["len_band"])
        for r in violating.collect()
    }
    want = {
        (r["doc_id"], int((r["lang"], r["source"], r["lb"]) in bad))
        for r in table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            "lang",
            "source",
            F.expr(f"CAST(n_chars DIV {KANON_BAND} AS BIGINT)").alias(
                "lb"
            ),
        )
        .collect()
    }
    assert got == want and any(s for _, s in got)


def test_freq_rank_offsets_matches_reference(spark, sf_dir):
    """The two-phase histogram rank (llm_text._freq_rank_offsets) must
    reproduce, for seeded random frequency multisets, exactly the
    offsets/masses a naive sorted scan computes — including duplicate
    frequencies, singletons, and power-law-ish skew."""
    import random

    from scala_reactivex_spark.operators.llm_text import (
        _freq_rank_offsets,
    )

    rng = random.Random(42)
    for case in range(6):
        n_tokens = rng.randint(1, 60)
        freqs = [
            max(1, int(rng.paretovariate(1.1))) for _ in range(n_tokens)
        ]
        vocab = spark.createDataFrame(
            [(f"t{i}", f) for i, f in enumerate(freqs)], "token string, n long"
        )
        got = {
            r["n"]: (r["cnt"], r["off"], r["mass"])
            for r in _freq_rank_offsets(vocab, "n").collect()
        }
        # reference: sort descending, walk groups
        want = {}
        off = mass = 0
        from itertools import groupby

        for f, grp in groupby(sorted(freqs, reverse=True)):
            cnt = len(list(grp))
            want[f] = (cnt, off, mass)
            off += cnt
            mass += cnt * f
        assert got == want, f"case {case}: {got} != {want}"


def test_twin_ann_ivf_serving_equals_batch(spark, sf_dir, tmp_path):
    """Streaming query vectors against the static IVF index reproduce
    the batch search exactly for the same probe set, and a replay with
    the same checkpoint commits nothing new."""
    from scala_reactivex_spark.operators.llm_similarity import (
        N_PROBES,
        llm_ann_ivf,
    )
    from scala_reactivex_spark.streaming import twins

    src = str(tmp_path / "emb_src")
    (
        table(spark, sf_dir, "embeddings")
        .where(F.col("vec_id") < N_PROBES)
        .repartition(2)
        .write.parquet(src)
    )
    out_dir = str(tmp_path / "ann")
    ckpt = str(tmp_path / "ckpt")
    got_df = twins.twin_ann_ivf(
        twins.embeddings_stream(spark, src), spark, sf_dir, out_dir, ckpt
    )
    got = {tuple(r) for r in got_df.collect()}
    want = {tuple(r) for r in llm_ann_ivf(spark, sf_dir).collect()}
    assert got == want and got
    again = twins.twin_ann_ivf(
        twins.embeddings_stream(spark, src), spark, sf_dir, out_dir, ckpt
    )
    assert {tuple(r) for r in again.collect()} == got


def test_twin_ann_ivf_crash_restart_replay(spark, sf_dir, tmp_path):
    """Checkpoint-restart replay probe for the ANN serving path (the
    twin_cdc_upsert torn-write pattern): drain a first probe batch, then
    simulate a crash that left the NEXT batch half-written (partial
    parquet, no _COMMITTED marker), deliver the remaining probes and
    restart on the same checkpoint.  The final sink state must be
    exactly the batch search over ALL probes — the torn rows gone, no
    duplicates from the replay."""
    import glob

    from scala_reactivex_spark.operators.llm_similarity import (
        N_PROBES,
        llm_ann_ivf,
    )
    from scala_reactivex_spark.streaming import twins

    src = str(tmp_path / "emb_src")
    probes = table(spark, sf_dir, "embeddings").where(
        F.col("vec_id") < N_PROBES
    )
    # First tranche of probes arrives before the crash...
    probes.where(F.col("vec_id") < 2).coalesce(1).write.mode(
        "overwrite"
    ).parquet(src)
    out_dir = str(tmp_path / "ann_cr")
    ckpt = str(tmp_path / "ckpt_cr")
    twins.twin_ann_ivf(
        twins.embeddings_stream(spark, src), spark, sf_dir, out_dir, ckpt
    )
    assert glob.glob(f"{out_dir}/batch_id=*/_COMMITTED")

    # ...then the serving job dies MID-WRITE of the next batch: partial
    # garbage under its directory, marker absent.
    torn = f"{out_dir}/batch_id=1"
    spark.range(3).selectExpr(
        "CAST(id + 900 AS BIGINT) AS probe_id",
        "CAST(id AS BIGINT) AS neighbor_id",
        "CAST(0.0 AS DOUBLE) AS cos_sim",
        "CAST(1 AS INT) AS rnk",
    ).write.mode("overwrite").parquet(torn)
    assert not glob.glob(f"{torn}/_COMMITTED")

    # The remaining probes land in the source; the job restarts on the
    # SAME checkpoint and must overwrite the torn batch, not append.
    probes.where(F.col("vec_id") >= 2).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    final = twins.twin_ann_ivf(
        twins.embeddings_stream(spark, src), spark, sf_dir, out_dir, ckpt
    )
    got = {tuple(r) for r in final.collect()}
    want = {tuple(r) for r in llm_ann_ivf(spark, sf_dir).collect()}
    assert got == want and got
    assert not any(p >= 900 for p, *_ in got)  # torn rows purged


def test_ivf_stats_reconciles_with_assignment(spark, sf_dir):
    """The health row reconciles with the raw assignment: totals match
    the corpus, the envelope brackets every bucket, and the imbalance
    factor is >= 1 by construction."""
    from scala_reactivex_spark.operators.llm_extras import llm_ivf_stats
    from scala_reactivex_spark.operators.llm_similarity import _ivf_index

    row = llm_ivf_stats(spark, sf_dir).collect()[0]
    _, _, assignment = _ivf_index(spark, sf_dir)
    sizes = [
        r["n"]
        for r in assignment.groupBy("bucket")
        .agg(F.count("*").alias("n"))
        .collect()
    ]
    assert row["n_buckets"] == len(sizes)
    assert row["n_total"] == sum(sizes)
    assert row["max_bucket"] == max(sizes)
    assert row["min_bucket"] == min(sizes)
    assert row["imbalance_1e4"] >= 10_000
    assert (
        row["imbalance_1e4"]
        == max(sizes) * len(sizes) * 10_000 // sum(sizes)
    )


def test_twin_ann_pq_serving_equals_batch(spark, sf_dir, tmp_path):
    """The streaming ADC scan over the static compressed index equals
    the batch PQ search for the same probe set."""
    from scala_reactivex_spark.operators.llm_similarity import (
        N_PROBES,
        llm_ann_pq,
    )
    from scala_reactivex_spark.streaming import twins

    src = str(tmp_path / "emb_src")
    (
        table(spark, sf_dir, "embeddings")
        .where(F.col("vec_id") < N_PROBES)
        .repartition(2)
        .write.parquet(src)
    )
    got_df = twins.twin_ann_pq(
        twins.embeddings_stream(spark, src),
        spark,
        sf_dir,
        str(tmp_path / "pq"),
        str(tmp_path / "ckpt"),
    )
    got = {tuple(r) for r in got_df.collect()}
    want = {tuple(r) for r in llm_ann_pq(spark, sf_dir).collect()}
    assert got == want and got


def test_twin_ann_pq_crash_restart_replay(spark, sf_dir, tmp_path):
    """Same checkpoint-restart replay probe as the IVF twin, for the
    compressed serving path: first tranche drains, the next batch is
    left torn (partial parquet, no marker), remaining probes arrive,
    restart on the same checkpoint → final sink equals the batch ADC
    scan over all probes with the torn rows purged."""
    import glob

    from scala_reactivex_spark.operators.llm_similarity import (
        N_PROBES,
        llm_ann_pq,
    )
    from scala_reactivex_spark.streaming import twins

    src = str(tmp_path / "emb_src")
    probes = table(spark, sf_dir, "embeddings").where(
        F.col("vec_id") < N_PROBES
    )
    probes.where(F.col("vec_id") < 2).coalesce(1).write.mode(
        "overwrite"
    ).parquet(src)
    out_dir = str(tmp_path / "pq_cr")
    ckpt = str(tmp_path / "ckpt_cr")
    twins.twin_ann_pq(
        twins.embeddings_stream(spark, src), spark, sf_dir, out_dir, ckpt
    )
    assert glob.glob(f"{out_dir}/batch_id=*/_COMMITTED")

    torn = f"{out_dir}/batch_id=1"
    spark.range(3).selectExpr(
        "CAST(id + 900 AS BIGINT) AS probe_id",
        "CAST(id AS BIGINT) AS neighbor_id",
        "CAST(0 AS BIGINT) AS adc_d2",
        "CAST(1 AS INT) AS rnk",
    ).write.mode("overwrite").parquet(torn)
    assert not glob.glob(f"{torn}/_COMMITTED")

    probes.where(F.col("vec_id") >= 2).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    final = twins.twin_ann_pq(
        twins.embeddings_stream(spark, src), spark, sf_dir, out_dir, ckpt
    )
    got = {tuple(r) for r in final.collect()}
    want = {tuple(r) for r in llm_ann_pq(spark, sf_dir).collect()}
    assert got == want and got
    assert not any(p >= 900 for p, *_ in got)


def _bucketed_lineitem_path(spark, sf_dir):
    from urllib.parse import urlparse

    from scala_reactivex_spark.operators.llm_extras import _bucketed_table

    df = _bucketed_table(spark, sf_dir, "lineitem", "l_orderkey")
    return os.path.dirname(urlparse(df.inputFiles()[0]).path)


def _layout_writer(name):
    """(writer returning the layout path, fixture tables it reads)."""
    from scala_reactivex_spark.operators import (
        creation,
        llm_extras,
        llm_pipeline,
    )

    return {
        "partitioned": (creation._partitioned_events, ("events",)),
        "zordered": (creation._zordered_events, ("events",)),
        "evolved": (llm_extras._evolved_events, ("events",)),
        "compacted": (llm_pipeline._compacted_docs, ("documents",)),
        "bucketed": (_bucketed_lineitem_path, ("lineitem",)),
    }[name]


@pytest.mark.parametrize(
    "writer", ["partitioned", "zordered", "evolved", "compacted", "bucketed"]
)
def test_fixture_cache_rebuilds_when_fixture_regenerated(
    spark, sf_dir, tmp_path, monkeypatch, writer
):
    """A REGENERATED fixture must miss every on-disk layout: the key
    carries the fixture dir's content fingerprint, so rewriting the
    source parquet keys a fresh materialization instead of silently
    serving stale rows into the graded layout queries (round-8
    verdict's only live correctness risk).  Every layout honors
    SPARK_GRAFT_LAYOUT_CACHE — nothing lands under the checkout's
    .cache — and the superseded generation is pruned once the fresh
    one is written."""
    import shutil
    import time

    from scala_reactivex_spark.plans.memo import _dir_fingerprint

    repo_cache = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        ".cache",
    )

    def listing():
        return {
            os.path.join(r, f)
            for r, ds, fs in os.walk(repo_cache)
            for f in ds + fs
        }

    before = listing()
    root = tmp_path / "layouts"
    monkeypatch.setenv("SPARK_GRAFT_LAYOUT_CACHE", str(root))
    write, tables = _layout_writer(writer)
    fix = tmp_path / "fixcopy"
    fix.mkdir()
    for tbl in tables:
        src = os.path.join(sf_dir, f"{tbl}.parquet")
        dst = str(fix / f"{tbl}.parquet")
        (shutil.copytree if os.path.isdir(src) else shutil.copyfile)(
            src, dst
        )

    fp1 = _dir_fingerprint(str(fix))
    out1 = write(spark, str(fix))
    assert out1.startswith(str(root) + os.sep)
    assert os.path.exists(os.path.join(out1, "_COMPLETE"))

    # Regenerate: same path, same bytes, NEW mtime — exactly the
    # stale-cache shape a re-run of the fixture generator produces.
    new_mtime = time.time() + 10
    for root_, _dirs, files in os.walk(fix):
        for fn in files:
            os.utime(os.path.join(root_, fn), (new_mtime, new_mtime))

    assert _dir_fingerprint(str(fix)) != fp1, (
        "fingerprint must change when the fixture does"
    )
    out2 = write(spark, str(fix))
    assert out2 != out1, "regenerated fixture must key a fresh layout"
    assert os.path.exists(os.path.join(out2, "_COMPLETE"))
    assert not os.path.exists(out1), "superseded generation not pruned"
    assert listing() == before, "layout written under the repo's .cache"


def test_twin_ann_spann_serving_equals_batch(spark, sf_dir, tmp_path):
    """Streaming query vectors against the static boundary-replicated
    SPANN index reproduce the batch search exactly for the same probe
    set — single-probe serving, recall already paid at index build —
    and a replay with the same checkpoint commits nothing new."""
    from scala_reactivex_spark.operators.llm_similarity import (
        N_PROBES,
        llm_ann_spann,
    )
    from scala_reactivex_spark.streaming import twins

    src = str(tmp_path / "emb_src")
    (
        table(spark, sf_dir, "embeddings")
        .where(F.col("vec_id") < N_PROBES)
        .repartition(2)
        .write.parquet(src)
    )
    out_dir = str(tmp_path / "spann")
    ckpt = str(tmp_path / "ckpt")
    got_df = twins.twin_ann_spann(
        twins.embeddings_stream(spark, src), spark, sf_dir, out_dir, ckpt
    )
    got = {tuple(r) for r in got_df.collect()}
    want = {tuple(r) for r in llm_ann_spann(spark, sf_dir).collect()}
    assert got == want and got
    again = twins.twin_ann_spann(
        twins.embeddings_stream(spark, src), spark, sf_dir, out_dir, ckpt
    )
    assert {tuple(r) for r in again.collect()} == got
