"""Table registry over the parquet test-data layout.

One parquet file (or directory) per table under an ``sf_dir``. At 100 TB
each table would be a partitioned parquet/Delta directory; the reader code
is identical — ``spark.read.parquet`` prunes partitions and pushes filters
either way.

``load_table`` and ``load_table_spread`` memoize their scan definitions
in the session memo tier (``caching``), which assumes the data under
``sf_dir`` does not change during the session.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .caching import memoized
from .session import scoped_conf

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

DEFAULT_SF_DIR = "/root/testdata/sf0.001"


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """The table's scan definition, memoized in the session tier
    (``caching``)."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    # Engine semantics are defined in UTC (matches the DuckDB oracle's naive
    # timestamps); pin it even when the caller's session was built elsewhere.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return memoized(
        spark, sf_dir, f"table:{name}", lambda: _read_table(spark, sf_dir, name)
    )


def _read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        # events.ts is parquet TIMESTAMP(NANOS); Spark only reads it via
        # the legacy long path, so surface it as a microsecond timestamp.
        # Floor division, NOT `div`: `div` truncates toward zero, which
        # would disagree with DuckDB's epoch_us flooring on pre-1970
        # nanos. The conf is scoped to the read (it is captured at
        # analysis time — verified: execution still succeeds) so other
        # nanos-parquet reads in the session keep default typing.
        with scoped_conf(spark, "spark.sql.legacy.parquet.nanosAsLong", "true"):
            df = spark.read.parquet(table_path(sf_dir, name))
        if isinstance(df.schema["ts"].dataType, T.LongType):
            df = df.withColumn(
                "ts",
                F.timestamp_micros(
                    F.expr("(ts - pmod(ts, 1000)) div 1000")
                ),
            )
        return _tz_normalized(df)
    return _tz_normalized(spark.read.parquet(table_path(sf_dir, name)))


def _tz_normalized(df: DataFrame) -> DataFrame:
    """Cast any TIMESTAMP_NTZ column to session-TZ TIMESTAMP.

    Parquet `timestamp[us]` with isAdjustedToUTC=false surfaces as
    TIMESTAMP_NTZ under Spark's inferTimestampNTZ; the engine (like the
    DuckDB oracle's naive timestamps) defines all time semantics in a UTC
    session, so the cast preserves wall-clock values while restoring the
    TIMESTAMP type every operator (unix_micros, watermarks, windows)
    expects.
    """
    ntz = [
        f.name
        for f in df.schema.fields
        if isinstance(f.dataType, T.TimestampNTZType)
    ]
    for c in ntz:
        df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def _input_bytes(path: str) -> int:
    if os.path.isdir(path):
        return sum(
            os.path.getsize(os.path.join(root, f))
            for root, _, files in os.walk(path)
            for f in files
        )
    return os.path.getsize(path)


def load_table_spread(
    spark: SparkSession, sf_dir: str, name: str, *keys: str
) -> DataFrame:
    """load_table + a guard against the local split deficit.

    The test parquet files are single-rowgroup, so a scan is ONE task
    and a purely map-side pipeline (shingling, embedding math, text
    scoring) serializes on one core. When the input is too small to
    yield >= parallelism splits, hash-repartition once on ``keys`` (the
    raw rows shuffle once; every derived stage stays map-side and
    parallel). On a real 100 TB input the scan already has >= cores
    splits, the guard is false, and this is a no-op — the conditional
    exists precisely so the repartition can NEVER fire as a wasteful
    full-input shuffle at scale.

    The split estimate uses on-disk bytes vs maxPartitionBytes — pure
    filesystem metadata. (Asking the DataFrame itself via
    ``df.rdd.getNumPartitions()`` costs ~1.3 s of plan-to-RDD
    conversion per call.)

    The result is memoized like the base scan (an unexecuted plan
    object), keyed also by the spread keys and by both inputs of the
    split decision, so a changed parallelism or maxPartitionBytes gets
    a fresh decision.
    """
    target = spark.sparkContext.defaultParallelism
    try:
        max_bytes = int(
            spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
            .lower()
            .removesuffix("b")
        )
    except ValueError:
        max_bytes = 128 * 1024 * 1024

    def build() -> DataFrame:
        df = load_table(spark, sf_dir, name)
        splits = max(1, _input_bytes(table_path(sf_dir, name)) // max_bytes)
        if splits < target:
            df = df.repartition(target, *[F.col(k) for k in keys])
        return df

    return memoized(
        spark, sf_dir, f"spread:{name}|{keys}|{target}|{max_bytes}", build
    )


def assert_baseline_scale(
    sf_dir: str,
    name: str,
    op: str,
    alternative: str,
    limit_bytes: int | None = None,
) -> None:
    """Refuse to run a brute-force recall BASELINE on production-sized
    input. The quadratic ops (all-pairs-by-shingle Jaccard, exhaustive
    cosine) exist to recall-check the LSH/IVF paths at small SF; at
    100 TB a skewed shingle or a fat query set would explode the join.
    File-size check only — no Spark job. Override the cap with
    $SPARK_GRAFT_BASELINE_LIMIT_MB.
    """
    if limit_bytes is None:
        limit_bytes = (
            int(os.environ.get("SPARK_GRAFT_BASELINE_LIMIT_MB", "1024"))
            * 1024
            * 1024
        )
    size = _input_bytes(table_path(sf_dir, name))
    if size > limit_bytes:
        raise ValueError(
            f"{op} is a brute-force recall baseline, not a production "
            f"path: input '{name}' is {size >> 20} MiB "
            f"(cap {limit_bytes >> 20} MiB). Use {alternative} at scale, "
            "or raise $SPARK_GRAFT_BASELINE_LIMIT_MB explicitly."
        )


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so operators can use spark.sql."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
