"""Table catalog over the driver's parquet test data.

The driver materializes a TPC-H-ish star schema plus `events`, `documents`
and `embeddings` at /root/testdata/sf{0.001,0.01,0.1} (see TESTDATA.md).
Loads are plain parquet scans so Catalyst gets predicate pushdown, column
pruning, and partition-level parallelism for free.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

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

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


# path → (st_mtime_ns, st_size, the parquet schema Spark inferred for that version)
_SCHEMAS: dict[str, tuple[int, int, StructType]] = {}


def _schema(spark: SparkSession, path: str) -> StructType:
    """The file's inferred schema, inferred (one Spark job) only on the
    first load of each version of the file. A rewrite changes the mtime
    or size, so it is inferred afresh. A path the local file system does
    not know (missing, or on a remote store) is inferred on every load,
    so Spark reports a missing table as it always has."""
    try:
        st = os.stat(path)
    except OSError:
        return spark.read.parquet(path).schema
    version = (st.st_mtime_ns, st.st_size)
    known = _SCHEMAS.get(path)
    if known is not None and known[:2] == version:
        return known[2]
    # concurrent first loads may both infer; they store the same schema
    schema = spark.read.parquet(path).schema
    _SCHEMAS[path] = (*version, schema)
    return schema


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one test table. Pure parquet scan — no caching, and no schema
    inference job once the file's schema is known (see `_schema`)."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    # UTC is load-bearing for oracle parity: date_trunc/to_date/timestamp
    # literals are session-TZ-sensitive in Spark while DuckDB timestamps are
    # naive. Set at runtime so externally created sessions (the driver's)
    # get the same semantics as engine-created ones (session.get_spark).
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # The driver's parquet stores naive timestamps (no isAdjustedToUTC). With
    # Spark 4's default inferTimestampNTZ they'd scan as TIMESTAMP_NTZ, which
    # rejects unix_micros/unix_timestamp and diverges from the oracle's
    # naive-as-UTC reading. Under a UTC session TZ, LTZ holds the identical
    # instant, so force the classic TIMESTAMP read.
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    if name == "events":
        # runtime-settable; applied here so externally created sessions
        # (the driver's) read the nanos file correctly too
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = spark.read.schema(_schema(spark, path)).parquet(path)
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # ts is TIMESTAMP(NANOS) in the file; with nanosAsLong it scans as
        # int64 nanos. Integer DIV (not float /: ns epochs ≈ 1.7e18 exceed
        # double precision) truncates to micros — the same truncation DuckDB
        # applies casting TIMESTAMP_NS → TIMESTAMP. Micros-encoded files
        # (e.g. test fixtures) come through as timestamps already.
        from pyspark.sql import functions as F

        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    return df


def spread_small_scan(df: DataFrame) -> DataFrame:
    """Floor the map-side parallelism of a compute-heavy pass whose input
    scan produced fewer splits than the cluster has cores (guide §6: split
    parallelism is bounded by parquet row groups — a single-row-group file
    scans as ONE task no matter the cluster size, serializing every
    downstream per-row expression until the first exchange. Measured at
    ~sf1: the documents tokenize+shingle pass runs 3.8 s on its 1-split
    scan vs 0.6 s spread across the cores).

    SCALE-ADAPTIVE, not a local[32] tune: the target is the cluster's
    defaultParallelism and the repartition fires only when the scan's own
    split count is BELOW it — at 100 TB every real table scans to thousands
    of splits and this is a plain no-op (no exchange is ever added to the
    plan). The keyless round-robin repartition is retry-safe (Spark's
    sort-before-repartition, on by default, keeps the row→partition
    assignment deterministic under task re-runs — guide §2.5) and changes
    no query's result multiset. Apply it ONLY where heavyweight per-row
    work (tokenize + md5 explodes, vector-expression scoring) follows the
    scan directly; a scan feeding a cheap projection into a shuffle gains
    nothing from the extra exchange."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)

