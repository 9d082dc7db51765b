"""Catalog layer: the parquet schema resolver and widen_scan.

The schema resolver infers each path's parquet schema once per file
content and conf set; later reads pass it in and launch no Spark job.
A rewritten file and a flipped schema-affecting conf must both re-infer.

widen_scan / _est_scan_partitions (round 18 — r17 ADVICE: the
widening trigger is now a file-metadata estimate, not a planning pass).
The estimate must reproduce the old ``df.rdd.getNumPartitions()``
probe's DECISION (widen iff the scan is narrower than the session's
parallelism) on the fixture tables, and fail safe (no widening) when
file sizes are unavailable.
"""

from __future__ import annotations

import shutil
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType, LongType, StringType

from scala_reactivex_spark.sources.catalog import (
    _est_scan_partitions,
    _parquet_schema,
    _size_conf_bytes,
    table,
    widen_scan,
)

_NANOS = "spark.sql.legacy.parquet.nanosAsLong"


def _jobs_started(spark, fn):
    """Run ``fn()`` under a fresh job group; return (result, #jobs)."""
    sc = spark.sparkContext
    group = f"catalog-test-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "schema resolver test")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _nanos_events(path, extra: dict | None = None) -> None:
    """Write a two-row events file with TIMESTAMP(NANOS) ``ts`` (the
    original fixture generation, readable only under nanosAsLong)."""
    cols = {
        "event_id": pa.array([1, 2], pa.int64()),
        "ts": pa.array(
            [1704067200_000_000_001, 1704067201_500_000_000],
            pa.timestamp("ns"),
        ),
        "user_id": pa.array([7, 8], pa.int64()),
        "event_type": pa.array(["click", "view"]),
        "value": pa.array([1.5, 2.5], pa.float64()),
        "props": pa.array(['{"k":1}', '{"k":2}']),
        **(extra or {}),
    }
    pq.write_table(pa.table(cols), str(path))


def test_second_table_read_starts_no_job(spark, sf_dir, tmp_path):
    """The first read of a file content infers its schema (one footer
    job); every later table() on it starts no Spark job at all."""
    shutil.copy(f"{sf_dir}/documents.parquet", tmp_path / "documents.parquet")
    first, n_first = _jobs_started(
        spark, lambda: table(spark, str(tmp_path), "documents")
    )
    second, n_second = _jobs_started(
        spark, lambda: table(spark, str(tmp_path), "documents")
    )
    assert n_first >= 1
    assert n_second == 0
    assert second.schema == first.schema
    # Two reads are two relations: a self-join stays unambiguous.
    assert first.join(second, first.doc_id == second.doc_id).count() == (
        first.count()
    )


def test_rewritten_fixture_is_inferred_again(spark, tmp_path):
    """A fixture regenerated with an extra column must show that column
    on the next read: the cached entry is keyed by content, not path."""
    _nanos_events(tmp_path / "events.parquet")
    assert "vlen" not in table(spark, str(tmp_path), "events").columns
    _nanos_events(
        tmp_path / "events.parquet", {"vlen": pa.array([3, 4], pa.int64())}
    )
    df = table(spark, str(tmp_path), "events")
    assert "vlen" in df.columns
    assert sorted(r.vlen for r in df.collect()) == [3, 4]


def test_schema_conf_flip_is_not_served_from_cache(spark, tmp_path):
    """The schema-affecting confs are part of the key: flipping one
    re-infers under the new value instead of serving the cached schema."""
    path = str(tmp_path / "events.parquet")
    _nanos_events(path, {"blob": pa.array([b"a", b"b"], pa.binary())})
    old_nanos = spark.conf.get(_NANOS)
    old_bin = spark.conf.get("spark.sql.parquet.binaryAsString")
    try:
        spark.conf.set(_NANOS, "true")
        assert _parquet_schema(spark, path)["ts"].dataType == LongType()
        # Under nanosAsLong=false the footer is unreadable; a cached
        # bigint schema must not hide that.
        spark.conf.set(_NANOS, "false")
        with pytest.raises(Exception, match="PARQUET_TYPE_ILLEGAL"):
            _parquet_schema(spark, path)
        spark.conf.set(_NANOS, "true")
        as_binary, n_jobs = _jobs_started(
            spark, lambda: _parquet_schema(spark, path)
        )
        assert n_jobs == 0
        spark.conf.set("spark.sql.parquet.binaryAsString", "true")
        as_string = _parquet_schema(spark, path)
        assert as_binary["blob"].dataType == BinaryType()
        assert as_string["blob"].dataType == StringType()
    finally:
        spark.conf.set(_NANOS, old_nanos)
        spark.conf.set("spark.sql.parquet.binaryAsString", old_bin)


def test_bare_session_reads_events(spark, tmp_path):
    """An externally built session without the engine's confs can read a
    TIMESTAMP(NANOS) events fixture: table() applies nanosAsLong before
    it resolves the schema (PARQUET_TYPE_ILLEGAL otherwise)."""
    _nanos_events(tmp_path / "events.parquet")
    bare = SparkSession.builder.master("local[4]").getOrCreate()
    old = bare.conf.get(_NANOS)
    bare.conf.unset(_NANOS)
    try:
        rows = table(bare, str(tmp_path), "events").collect()
    finally:
        bare.conf.set(_NANOS, old)
    assert sorted(r.ts for r in rows) == [
        1704067200_000_000_001,
        1704067201_500_000_000,
    ]
    assert sorted(r.ms for r in rows) == [1704067200000, 1704067201500]


def test_size_conf_parsing(spark):
    assert _size_conf_bytes(spark, "no.such.key", 42) == 42
    spark.conf.set("x.test.size", "128MB")
    assert _size_conf_bytes(spark, "x.test.size", 0) == 128 * 1024 * 1024
    spark.conf.set("x.test.size", "4194304b")
    assert _size_conf_bytes(spark, "x.test.size", 0) == 4 * 1024 * 1024
    spark.conf.set("x.test.size", "1g")
    assert _size_conf_bytes(spark, "x.test.size", 0) == 1 << 30


def test_estimate_matches_probe_decision(spark, sf_dir):
    """The metadata estimate and the old planning probe must agree on
    the widen/no-widen decision for every fixture table at the test SF
    (all are small single files here — both must say 'narrower than
    the session parallelism')."""
    target = spark.sparkContext.defaultParallelism
    for name in ("documents", "events", "lineitem"):
        df = table(spark, sf_dir, name)
        est = _est_scan_partitions(df, spark, target)
        actual = df.rdd.getNumPartitions()
        assert est is not None
        assert (est < target) == (actual < target), (name, est, actual)


def test_widen_scan_widens_fixture_scan(spark, sf_dir):
    df = table(spark, sf_dir, "documents").select("doc_id")
    widened = widen_scan(df, spark)
    assert (
        widened.rdd.getNumPartitions()
        == spark.sparkContext.defaultParallelism
    )
    # Row-level content is untouched.
    assert widened.count() == df.count()
    assert (
        widened.agg(F.sum("doc_id")).first()[0]
        == df.agg(F.sum("doc_id")).first()[0]
    )


def test_est_none_means_no_widening(spark, sf_dir):
    """Frames that are not file scans (inputFiles() empty) estimate to
    None, and widen_scan leaves them untouched — widening is a
    file-scan fixup only."""
    df = spark.range(10)
    assert _est_scan_partitions(df, spark, 4) is None
    assert widen_scan(df, spark) is df
