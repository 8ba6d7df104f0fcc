"""Fixture catalog: explicit schemas + loaders for the ten driver tables.

Explicit ``StructType`` schemas (never inferred — SURVEY.md §1.2): at 100 TB
an inference scan is a full extra read, and explicit schemas guarantee the
DuckDB-oracle sees identical types.  Schemas transcribed from FIXTURES.md
(parquet footers of /root/testdata/sf0.001, 2026-08-13).
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)


def _s(*fields: tuple) -> StructType:
    return StructType([StructField(n, t, True) for n, t in fields])


SCHEMAS: dict[str, StructType] = {
    "region": _s(("r_regionkey", IntegerType()), ("r_name", StringType())),
    "nation": _s(
        ("n_nationkey", IntegerType()),
        ("n_name", StringType()),
        ("n_regionkey", IntegerType()),
    ),
    "customer": _s(
        ("c_custkey", LongType()),
        ("c_name", StringType()),
        ("c_nationkey", IntegerType()),
        ("c_acctbal", DoubleType()),
        ("c_mktsegment", StringType()),
    ),
    "supplier": _s(
        ("s_suppkey", LongType()),
        ("s_name", StringType()),
        ("s_nationkey", IntegerType()),
        ("s_acctbal", DoubleType()),
    ),
    "part": _s(
        ("p_partkey", LongType()),
        ("p_name", StringType()),
        ("p_brand", StringType()),
        ("p_type", StringType()),
        ("p_size", IntegerType()),
        ("p_retailprice", DoubleType()),
    ),
    "orders": _s(
        ("o_orderkey", LongType()),
        ("o_custkey", LongType()),
        ("o_orderstatus", StringType()),
        ("o_totalprice", DoubleType()),
        ("o_orderdate", TimestampType()),
        ("o_orderpriority", StringType()),
    ),
    "lineitem": _s(
        ("l_orderkey", LongType()),
        ("l_partkey", LongType()),
        ("l_suppkey", LongType()),
        ("l_linenumber", IntegerType()),
        ("l_quantity", DoubleType()),
        ("l_extendedprice", DoubleType()),
        ("l_discount", DoubleType()),
        ("l_tax", DoubleType()),
        ("l_returnflag", StringType()),
        ("l_linestatus", StringType()),
        ("l_shipdate", TimestampType()),
    ),
    "events": _s(
        ("event_id", LongType()),
        ("ts", TimestampType()),
        ("user_id", LongType()),
        ("event_type", StringType()),
        ("value", DoubleType()),
        ("props", StringType()),
    ),
    "documents": _s(
        ("doc_id", LongType()),
        ("text", StringType()),
        ("lang", StringType()),
        ("source", StringType()),
        ("n_chars", LongType()),
    ),
    "embeddings": _s(
        ("vec_id", LongType()),
        ("embedding", ArrayType(FloatType())),
        ("label", IntegerType()),
    ),
}

TABLES = tuple(SCHEMAS)

#: Dimension tables small enough to always broadcast, at any scale factor
#: (region=5, nation=25 rows — and in any TPC-H-like deployment they stay
#: tiny while facts grow).  SURVEY.md §4: "dims always broadcast".
BROADCAST_TABLES = frozenset({"region", "nation"})

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

EMBEDDING_DIM = 64  # FIXTURES.md: embeddings.embedding is list<float>[64]


def table_path(sf_dir: str, table: str) -> str:
    return os.path.join(sf_dir, f"{table}.parquet")


#: Ingest-compaction cache (gitignored).  Lives inside the repo because the
#: container forbids writes elsewhere; keyed by source (size, mtime) so a
#: regenerated fixture invalidates automatically.
_INGEST_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".ingest_cache"
)


def _ingested_path(sf_dir: str, table: str) -> str:
    """Compact a single-row-group fixture file into a multi-row-group layout.

    Spark's scan parallelism is bounded by parquet ROW GROUPS: a split only
    does work if a row-group midpoint falls inside it, so a 600 k-row file
    written as one row group (every fixture table is) serializes the scan
    *and the partial aggregation above it* onto one task regardless of
    ``files.maxPartitionBytes``.  Single-node engines parallelize inside a
    row group; Spark never will (SPARK-37514: vectorized reader is
    per-group).

    A resident engine ingests data into its own layout exactly once, so we
    do the same: rewrite the table with ~16 k-row groups into a cache dir
    (atomic rename, shared across sessions and processes) and scan that.
    At the 100 TB design point this step is a no-op — distributed writers
    produce many files/row groups already, which is why the check below
    returns the source path untouched when the layout is already splittable.
    ``SPARK_GRAFT_INGEST=0`` disables (tests cover both paths).
    """
    src = table_path(sf_dir, table)
    if os.environ.get("SPARK_GRAFT_INGEST", "1") == "0":
        return src
    cached = _INGEST_PATHS.get(src)
    if cached is not None and os.path.exists(cached):
        return cached
    try:
        import pyarrow.parquet as pq

        st = os.stat(src)
        meta = pq.read_metadata(src)  # footer-only read
        n = meta.num_rows
        rows_per_group = max(4096, min(16384, n // 8))
        needed_groups = n // rows_per_group
        if needed_groups < 2 or meta.num_row_groups >= needed_groups:
            _INGEST_PATHS[src] = src
            return src  # already splittable (or too small to matter)
        dst = os.path.join(
            _INGEST_DIR, f"{table}-{st.st_size}-{st.st_mtime_ns}.parquet"
        )
        if not os.path.exists(dst):
            os.makedirs(_INGEST_DIR, exist_ok=True)
            tmp = f"{dst}.tmp{os.getpid()}"
            pq.write_table(pq.read_table(src), tmp, row_group_size=rows_per_group)
            os.replace(tmp, dst)
        _INGEST_PATHS[src] = dst
        return dst
    except Exception:
        return src  # never let the cache break a read


#: Process-local memo of resolved ingest paths (avoids per-query stat+footer).
_INGEST_PATHS: dict[str, str] = {}

#: Per-(session, sf_dir, table) memo of the resolved scan DataFrame.
#: Resolving a datasource relation costs ~50 ms of JVM round-trips per
#: table per query — pure constant overhead on a resident engine, so we
#: resolve once.  DataFrames are immutable; sharing one relation across
#: queries is semantically free, and Catalyst still applies per-query
#: pushdown/pruning on top of the shared relation.  Keyed weakly-ish by
#: the JVM applicationId so a new session never sees a stale JVM handle.
_RELATION_CACHE: dict[tuple[str, str, str], DataFrame] = {}


def load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """Load one fixture table with its explicit schema.

    ``spark.read.schema(...)`` (not inference) keeps the scan single-pass and
    the types bit-stable across engines.  Catalyst still gets full predicate
    pushdown / column pruning on top of this scan.

    ``events`` reads through the one timestamp-layout rule below
    (``events_read_schema`` + ``with_event_ts``), like every other events
    read path.
    """
    if table not in SCHEMAS:
        raise KeyError(f"unknown table {table!r}; known: {sorted(SCHEMAS)}")
    key = (spark.sparkContext.applicationId, sf_dir, table)
    hit = _RELATION_CACHE.get(key)
    if hit is not None:
        return hit
    df = _load_uncached(spark, sf_dir, table)
    _RELATION_CACHE[key] = df
    return df


def _events_ts_is_nanos(path: str) -> bool:
    """Footer-only probe: is events.ts physically TIMESTAMP(NANOS)?"""
    try:
        import pyarrow.parquet as pq

        sch = pq.read_metadata(path).schema.to_arrow_schema()
        return str(sch.field("ts").type) == "timestamp[ns]"
    except Exception:
        return False


def events_read_schema(spark: SparkSession, path: str) -> StructType:
    """Read schema for the events file at ``path``: the events ts-layout
    rule, with ``with_event_ts``.  Fixtures ship ``ts`` as TIMESTAMP(MICROS)
    or TIMESTAMP(NANOS), which Spark's parquet reader rejects; for NANOS,
    ``ts`` reads as raw nanosecond longs (``nanosAsLong``, still one
    vectorized scan) and ``with_event_ts`` converts it in the plan."""
    if not _events_ts_is_nanos(path):
        return SCHEMAS["events"]
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return StructType(
        [
            StructField("ts", LongType(), True) if f.name == "ts" else f
            for f in SCHEMAS["events"].fields
        ]
    )


def with_event_ts(df: DataFrame) -> DataFrame:
    """Turn a ``ts`` read as raw nanosecond longs (``events_read_schema``)
    back into TimestampType, truncated to the µs, in one projection
    that keeps the column order.  A TimestampType ``ts`` passes through
    untouched, so callers need no layout flag."""
    if dict(df.dtypes).get("ts") != "bigint":
        return df
    ts = F.timestamp_micros(F.expr("ts div 1000")).alias("ts")
    return df.select([ts if c == "ts" else F.col(c) for c in df.columns])


def _load_uncached(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    path = _ingested_path(sf_dir, table)
    if table != "events":
        return spark.read.schema(SCHEMAS[table]).parquet(path)
    read = spark.read.schema(events_read_schema(spark, path)).parquet(path)
    return with_event_ts(read)


def values_relation(spark: SparkSession, rows, schema: str) -> DataFrame:
    """Tiny literal dimension as a SQL ``VALUES`` LocalRelation.

    ``spark.createDataFrame(local_rows)`` parallelizes the rows into
    ``defaultParallelism`` RDD slices, so every broadcast build of such a
    dim runs a full-width job (32 near-empty tasks at local[32], measured
    ~0.3 s of pure dispatch per execution of ``partitioned_sink_dpp``
    before r14), and the embedded ``LogicalRDD`` excludes the calling
    query from the prepared-plan cache (unblessed RDD scan — see
    ``registry._PLAN_CACHE``).  A ``VALUES`` relation analyzes to a
    ``LocalRelation`` instead: the broadcast is built driver-side with no
    job at all, and the plan is cacheable.  The relation IS configuration
    (literals baked into the plan), exactly like ``_ring_points``.

    ``rows`` are tuples of Python literals (str/int/float/bool/None);
    ``schema`` is a ``"name type, ..."`` DDL string.  Every literal is
    CAST to its declared type so the result schema matches
    ``createDataFrame(rows, schema)`` exactly (modulo nullability, which
    ``VALUES`` derives from the literals).
    """
    fields = [f.strip().split(None, 1) for f in schema.split(",")]

    def lit(v, typ: str) -> str:
        if v is None:
            return f"CAST(NULL AS {typ})"
        if isinstance(v, bool):
            return f"CAST({'TRUE' if v else 'FALSE'} AS {typ})"
        if isinstance(v, str):
            esc = v.replace("\\", "\\\\").replace("'", "\\'")
            return f"CAST('{esc}' AS {typ})"
        return f"CAST({v!r} AS {typ})"

    tuples = ", ".join(
        "(" + ", ".join(lit(v, f[1]) for v, f in zip(row, fields)) + ")"
        for row in rows
    )
    cols = ", ".join(f[0] for f in fields)
    return spark.sql(f"SELECT * FROM VALUES {tuples} AS t({cols})")
