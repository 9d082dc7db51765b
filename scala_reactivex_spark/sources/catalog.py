"""Catalog layer: parquet table access with canonical derived columns.

The fixture schemas are documented in FIXTURES.md; the engine never infers
beyond the parquet footer and normalizes time once, here, so every operator
downstream sees the same deterministic columns:

``events`` (the Observable[T] stand-in, SURVEY.md §1.2):
- ``ts``   bigint — raw nanosecond epoch. Parquet TIMESTAMP(NANOS) fixtures
  read as bigint under ``spark.sql.legacy.parquet.nanosAsLong=true``;
  TIMESTAMP(MICROS) fixtures read as timestamp and are converted to
  bigint ns here (``_normalize_events``). Used as the primary sort
  key together with ``event_id`` (total order — SURVEY.md §2.11.4).
- ``tsm``  timestamp — microsecond truncation (``ts div 1000``), for Spark's
  native time windowing (window / session_window / watermarks).
- ``ms``   bigint — millisecond truncation (``ts div 1_000_000``), the ONLY
  time representation ever emitted in query output (≡ DuckDB ``epoch_ms``).

Schema resolution (:func:`read_parquet`): Spark infers a parquet
schema by launching a one-task job that reads the footer, and a fixture's
schema never changes between reads.  So each path's schema is inferred
once and every later read passes it in (``spark.read.schema(s)``), which
launches no job.  The cache key is the absolute path plus the values of
the SQL confs that change what a footer reads as (``_SCHEMA_CONFS``:
``nanosAsLong``, ``binaryAsString``, ``int96AsTimestamp``,
``inferTimestampNTZ.enabled``).  The stored value is a
content fingerprint plus the schema: size and ``st_mtime_ns`` for a
file, ``memo._dir_fingerprint`` for a directory.  A regenerated fixture
has a new fingerprint, so it is inferred again and replaces the old
entry; the cache holds one entry per path and conf set and is never
stale.  Paths that are not local (object-store URIs) are inferred on
every read.  Whole DataFrames are NOT cached: two reads of
one table must keep distinct attribute IDs, or a self-join such as
``a.x == b.y`` becomes ambiguous.

Scale note: at 100 TB the same loader works over partitioned datasets —
reads are plain parquet scans, so partition pruning / predicate pushdown
apply; no collect, and at most one schema inference per file content.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from scala_reactivex_spark.plans.memo import _dir_fingerprint
from scala_reactivex_spark.session import configure_session

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: The five observed event_type values (FIXTURES.md) — derived streams.
EVENT_TYPES = ("click", "purchase", "error", "signup", "view")


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table with canonical derived columns."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    configure_session(spark)
    path = f"{sf_dir}/{name}.parquet"
    schema = _parquet_schema(spark, path)
    df = spark.read.schema(schema).parquet(path)
    if name == "events":
        df = _normalize_events(df, schema)
    elif name in _DATE_COLS:
        df = _normalize_dates(df, schema, _DATE_COLS[name])
    return df


#: SQL confs that change the schema a parquet footer reads as; their
#: values are part of the schema cache key.
_SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
)

#: (absolute path, conf values) -> (content fingerprint, schema).  A
#: racing pair of first reads may both infer and store the same entry;
#: that costs one extra footer job and is otherwise harmless.
_SCHEMAS: dict[tuple[str, tuple[str, ...]], tuple[str, StructType]] = {}


def _content_fingerprint(path: str) -> str:
    if os.path.isdir(path):
        return _dir_fingerprint(path)
    st = os.stat(path)
    return f"{st.st_size}:{st.st_mtime_ns}"


def _parquet_schema(spark: SparkSession, path: str) -> StructType:
    """The parquet schema of ``path`` under the session's current confs,
    inferred once per file content (module docstring)."""
    if not os.path.exists(path):
        # Not a local path: nothing to fingerprint, so never cache.
        return spark.read.parquet(path).schema
    key = (
        os.path.abspath(path),
        tuple(str(spark.conf.get(k)) for k in _SCHEMA_CONFS),
    )
    # Fingerprint BEFORE inferring: a file rewritten in between is
    # stored under its old fingerprint and re-inferred on the next read.
    fp = _content_fingerprint(path)
    hit = _SCHEMAS.get(key)
    if hit is not None and hit[0] == fp:
        return hit[1]
    schema = spark.read.parquet(path).schema
    _SCHEMAS[key] = (fp, schema)
    return schema


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` with the schema passed in from
    :func:`_parquet_schema`, so only the first read of a file content
    launches a footer job.  Each call is a fresh relation with its own
    attribute IDs."""
    return spark.read.schema(_parquet_schema(spark, path)).parquet(path)


#: Date-valued columns whose parquet type has changed between fixture
#: generations (events.ts did in round 6) — pin them to timestamp_ntz so
#: every operator and oracle comparison sees one type regardless of
#: whether the driver ships DATE, TIMESTAMP or TIMESTAMP_NTZ.
_DATE_COLS = {
    "orders": ("o_orderdate",),
    "lineitem": ("l_shipdate",),
}


def _simple_types(schema: StructType) -> dict[str, str]:
    return {f.name: f.dataType.simpleString() for f in schema.fields}


def _normalize_dates(
    df: DataFrame, schema: StructType, cols: tuple[str, ...]
) -> DataFrame:
    """Cast each date-ish column to timestamp_ntz (midnight for DATE,
    same wall clock for TIMESTAMP under the UTC session timezone).
    ``schema`` is ``df``'s schema, passed in so the decision costs no
    analysis round trip."""
    dtypes = _simple_types(schema)
    casts = {
        c: F.col(c).cast("timestamp_ntz")
        for c in cols
        if dtypes.get(c) != "timestamp_ntz"
    }
    return df.withColumns(casts) if casts else df


def _normalize_events(df: DataFrame, schema: StructType) -> DataFrame:
    """Derive the canonical (ts bigint-ns, tsm timestamp, ms bigint) columns.

    Fixture generations differ in the parquet type of ``ts``: TIMESTAMP(NANOS)
    arrives as bigint under ``nanosAsLong`` (the documented contract), while
    TIMESTAMP(MICROS) arrives as timestamp/timestamp_ntz.  Normalize the
    latter to bigint nanoseconds so every downstream operator (and the
    streaming twins' BIGINT state schemas) sees one representation.  The
    NTZ→instant cast happens under the UTC session timezone
    (configure_session), matching DuckDB's naive-timestamp ``epoch_ms``.
    ``schema`` is ``df``'s schema; all derived columns are one projection.
    """
    ts = "ts"
    cols = {}
    if _simple_types(schema)["ts"] != "bigint":
        ts = "CAST(unix_micros(CAST(ts AS TIMESTAMP)) * 1000 AS BIGINT)"
        cols["ts"] = F.expr(ts)
    # Integer division keeps the full int64 — ns values (~1.7e18) exceed
    # double's 53-bit mantissa, so a float path would corrupt timestamps.
    cols["tsm"] = F.expr(f"timestamp_micros(({ts}) div 1000)")
    cols["ms"] = F.expr(f"({ts}) div 1000000")
    return df.withColumns(cols)


def widen_scan(df: DataFrame, spark: SparkSession) -> DataFrame:
    """Scale-ADAPTIVE scan widening for per-row-expensive pipelines
    (optimization guide §2: derive partitioning from the input, never a
    constant).

    The fixture tables are single parquet files with one row group, so a
    scan yields 1-3 partitions and every downstream per-row stage (hash
    folds, Expand, explode, aggregate buffers) runs on ONE core of the
    local[N] box regardless of N.  At 100 TB the same scan has thousands
    of row groups and needs no help — so this helper round-robins the
    rows across ``defaultParallelism`` partitions ONLY when the scan
    itself produced fewer, and is a no-op otherwise.  The repartition is
    an explicit-N shuffle (AQE never coalesces REPARTITION_BY_NUM), and
    the caller is expected to ``select()`` down to the needed columns
    FIRST so the widening exchange moves the minimum bytes (guide §2.3).
    Because the trigger is the estimated scan partition count under the
    calling session's parallelism, the driver's lower-core bench run
    widens to ITS parallelism, keeping the core-scaling measurement
    honest.

    Round 18 (r17 ADVICE): the trigger used to probe
    ``df.rdd.getNumPartitions()``, which forces a full analysis +
    physical-planning pass plus a JVM RDD conversion boundary on EVERY
    call just to read a partition count.  The count is now ESTIMATED
    from file metadata alone (``df.inputFiles()`` sizes + the
    ``spark.sql.files.*`` split-packing formula) — no planning pass, no
    RDD conversion.  When sizes are unavailable (non-local URIs, i.e. a
    real cluster over object storage) the helper is a NO-OP: that is
    the 100 TB posture where scans are already wide and widening was
    never wanted.  Note the widened layout is frozen into any
    session-memoized / persisted consumer built through it — the first
    caller's parallelism is baked into the cached lineage (documented
    contract; within one session defaultParallelism is fixed, and the
    disk-memo tier re-applies its own layout on read-back).
    """
    target = spark.sparkContext.defaultParallelism
    est = _est_scan_partitions(df, spark, target)
    if est is not None and est < target:
        return df.repartition(target)
    return df


def _size_conf_bytes(spark: SparkSession, key: str, default: int) -> int:
    """Read a Spark size conf (values like '128MB', '4194304b') as bytes."""
    raw = str(spark.conf.get(key, str(default))).strip().lower()
    mult = 1
    for suf, m in (
        ("kb", 1 << 10), ("mb", 1 << 20), ("gb", 1 << 30),
        ("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30), ("b", 1),
    ):
        if raw.endswith(suf):
            raw = raw[: -len(suf)]
            mult = m
            break
    try:
        return int(float(raw) * mult)
    except ValueError:
        return default


def _est_scan_partitions(
    df: DataFrame, spark: SparkSession, parallelism: int
) -> int | None:
    """Estimate how many scan partitions the file source would produce,
    from file metadata only (Spark's split-packing formula: each file is
    charged ``openCostInBytes`` and sliced/packed into bins of
    ``maxSplitBytes = min(maxPartitionBytes, max(openCost,
    total/parallelism))``).  Returns None — meaning "don't widen" —
    when any input is not a stat-able local file."""
    import os
    from urllib.parse import unquote, urlparse

    try:
        files = df.inputFiles()
    except Exception:
        return None
    sizes: list[int] = []
    for uri in files:
        if uri.startswith("file:"):
            path = unquote(urlparse(uri).path)
        elif "://" not in uri:
            path = uri
        else:
            return None
        try:
            sizes.append(os.stat(path).st_size)
        except OSError:
            return None
    if not sizes:
        # Not a file scan at all (LocalRelation, range, ...): widening
        # was only ever meant for file scans — leave it alone.
        return None
    open_cost = _size_conf_bytes(
        spark, "spark.sql.files.openCostInBytes", 4 * 1024 * 1024
    )
    max_part = _size_conf_bytes(
        spark, "spark.sql.files.maxPartitionBytes", 128 * 1024 * 1024
    )
    total = sum(s + open_cost for s in sizes)
    max_split = min(max_part, max(open_cost, total // max(parallelism, 1)))
    return max(1, -(-total // max(max_split, 1)))


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view (canonical derived
    columns included), so users can drive the engine with raw
    ``spark.sql`` — the same table names the DuckDB oracles use.  Views
    are lazy: registration costs at most one footer read per table (none
    once the schemas are resolved), and Catalyst still pushes
    filters/prunes columns through them (asserted in tests/test_api.py)."""
    for name in TABLES:
        table(spark, sf_dir, name).createOrReplaceTempView(name)


def load(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load every fixture table (used by bench / exploratory sessions)."""
    return {name: table(spark, sf_dir, name) for name in TABLES}


def events_stream(spark: SparkSession, sf_dir: str, event_type: str) -> DataFrame:
    """A derived stream: ``events`` filtered to one event_type.

    These model the reference's independently subscribable Observables
    (purchases/clicks/signups/errors/views) used by combinator operators.
    """
    return table(spark, sf_dir, "events").where(F.col("event_type") == event_type)
