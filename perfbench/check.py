"""Result checks, untimed: batch keys against the DuckDB oracle, twins
against their batch laws.

The hash protocol is the engine's own gate (``scripts/verify_local.py``:
``collect_capped`` and the order-insensitive ``table_hash``); its
``main()`` is never called, because it stamps the grade fingerprints.
"""

from __future__ import annotations

import importlib.util
import os

from gen import TABLES

def _verify_module():
    """``scripts/verify_local.py`` loaded by path (it is not a package)."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = os.path.join(root, "scripts", "verify_local.py")
    spec = importlib.util.spec_from_file_location("verify_local", path)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


class Oracle:
    """DuckDB over the generated parquet files, one view per table."""

    def __init__(self, data_dir: str) -> None:
        import duckdb

        self.verify = _verify_module()
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 1")
        for t in TABLES:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"'{os.path.join(data_dir, t + '.parquet')}'"
            )

    def mismatch(self, sql: str, sdf) -> str | None:
        """None when ``sdf`` equals the oracle's rows, else why not."""
        v = self.verify
        srows = v.collect_capped(sdf)
        rel = self.con.sql(sql)
        orows = rel.fetchall()
        if len(srows) != len(orows):
            return f"rowcount {len(srows)} vs {len(orows)}"
        if sorted(sdf.columns) != sorted(rel.columns):
            return f"columns {sorted(sdf.columns)} vs {sorted(rel.columns)}"
        if v.table_hash(sdf.columns, srows) != v.table_hash(rel.columns, orows):
            return "value hash mismatch"
        return None

    def close(self) -> None:
        self.con.close()


def law_references(spark, data_dir: str) -> dict:
    """Each twin's batch law over the whole corpus, collected once:
    ``nb_filter`` {doc_id: decision} on the eval split, ``bm25`` the set
    of (q_id, doc_id, score_micro), ``dedup_incremental`` {incoming
    doc_id: (is_exact_dup, n_near, best_near)}."""
    from scala_reactivex_spark.operators.llm_dedup import llm_dedup_incremental
    from scala_reactivex_spark.operators.llm_retrieval import bm25_scored
    from scala_reactivex_spark.operators.llm_text import llm_nb_filter

    return {
        "nb_filter": {
            r["doc_id"]: (r["pred_lang"], r["band"], r["thr_band"], r["kept"])
            for r in llm_nb_filter(spark, data_dir).collect()
        },
        "bm25": {
            (r["q_id"], r["doc_id"], r["score_micro"])
            for r in bm25_scored(spark, data_dir).collect()
        },
        "dedup_incremental": {
            r["doc_id"]: (
                bool(r["is_exact_dup"]),
                r["n_near"],
                r["best_near"] if r["n_near"] else None,
            )
            for r in llm_dedup_incremental(spark, data_dir).collect()
        },
    }


def twin_law_failures(refs: dict, published: set[int], out: dict) -> list:
    """Names of the twins whose drained output (``out[twin]``: list of
    Rows) breaks its batch law (:func:`law_references`) over the
    ``published`` doc ids."""
    bad = []

    # twin_nb_filter gates every arrival; on the eval split (doc_id % 5
    # == 0) its decision equals the batch llm_nb_filter row.
    rows = out["nb_filter"]
    got = {
        r["doc_id"]: (r["pred_lang"], r["band"], r["thr_band"], r["kept"])
        for r in rows
        if r["doc_id"] % 5 == 0
    }
    want = {d: v for d, v in refs["nb_filter"].items() if d in published}
    if len(rows) != len(published) or got != want:
        bad.append("nb_filter")

    # twin_bm25 in complete mode converges to the batch scoring table.
    got = {(r["q_id"], r["doc_id"], r["score_micro"]) for r in out["bm25"]}
    if got != {t for t in refs["bm25"] if t[0] in published}:
        bad.append("bm25")

    # twin_dedup_incremental reproduces llm_dedup_incremental's flags,
    # near-match counts and best matches.
    near: dict[int, set] = {}
    exact: set[int] = set()
    for r in out["dedup_incremental"]:
        near.setdefault(r["doc_id"], set())
        if r["match_type"] == "exact":
            exact.add(r["doc_id"])
        else:
            near[r["doc_id"]].add(r["doc_ex"])
    want = {
        d: v for d, v in refs["dedup_incremental"].items() if d in published
    }
    got = {
        d: (d in exact, len(near.get(d, ())), min(near.get(d) or [None]))
        for d in want
    }
    if got != want or set(near) - set(want):
        bad.append("dedup_incremental")
    return bad
