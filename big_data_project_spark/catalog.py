"""Table registry over the parquet test-data layout.

One parquet file (or directory) per table under an ``sf_dir``. At 100 TB
each table would be a partitioned parquet/Delta directory; the reader code
is identical — ``spark.read.parquet`` prunes partitions and pushes filters
either way.

Every batch parquet read of the package goes through ``read_parquet``,
which resolves a table's schema on the driver, with no Spark job:

- it reads one footer, the one Spark's non-merge inference picks: the
  path itself if it is a file, else the root's ``_common_metadata``,
  then its ``_metadata``, then the first data file in path order (names
  starting with ``_`` or ``.`` are not data files);
- it converts that footer with Spark's own converter
  (``ParquetFileFormat.readSchemaFromFooter`` over a
  ``ParquetToSparkSchemaConverter`` of the session's SQLConf), so the
  schema equals what ``spark.read.parquet`` infers;
- a ``merge_schema`` read keeps Spark's parallel all-footer merge job,
  the right plan once files of one table may differ.

``load_table`` and ``load_table_spread`` memoize their scan definitions
in the session memo tier (``caching``), which assumes the data under
``sf_dir`` does not change during the session.
"""

from __future__ import annotations

import functools
import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .caching import memoized

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
    if name != "events":
        return _tz_normalized(read_parquet(spark, table_path(sf_dir, name)))
    # events.ts may be parquet TIMESTAMP(NANOS), which Spark reads only
    # as a long; surface it as a microsecond timestamp. Floor division,
    # NOT `div`: `div` truncates toward zero, which would disagree with
    # DuckDB's epoch_us flooring on pre-1970 nanos.
    df = read_parquet(spark, table_path(sf_dir, name), nanos_as_long=True)
    if isinstance(df.schema["ts"].dataType, T.LongType):
        df = df.withColumn(
            "ts", F.timestamp_micros(F.expr("(ts - pmod(ts, 1000)) div 1000"))
        )
    return _tz_normalized(df)


def read_parquet(
    spark: SparkSession,
    path: str,
    merge_schema: bool = False,
    *,
    nanos_as_long: bool = False,
    partition_types: dict[str, T.DataType] | None = None,
) -> DataFrame:
    """``spark.read.parquet(path)`` with the schema read on the driver
    (the contract is in the module docstring). Spark's own inference
    reads the same single footer, but as a one-task job.

    The read gets the footer's schema explicitly; partition discovery
    still appends the partition columns. ``nanos_as_long`` converts
    parquet TIMESTAMP(NANOS) columns to LongType through a private copy
    of the session's SQLConf, so the session conf is never written. A
    path with no data file goes to Spark's inference, which raises its
    usual ``AnalysisException``.

    ``partition_types`` types the named partition columns through the
    reader schema: partition discovery casts each directory string to
    the given type without inference, so a string type reads ``k=01``
    as ``"01"`` (inference would read INT 1) and an all-NULL partition
    as a NULL string (inference would read VOID). With ``merge_schema``
    the merged schema is resolved first and the table read again under
    it, retyped.
    """
    if merge_schema:
        df = spark.read.option("mergeSchema", "true").parquet(path)
        if not partition_types:
            return df
        schema = df.schema
    else:
        status = _footer_file(spark, path)
        if status is None:
            return spark.read.parquet(path)
        schema = _footer_schema(spark, status, nanos_as_long)
    if partition_types:
        schema = T.StructType(
            [f for f in schema.fields if f.name not in partition_types]
            + [T.StructField(c, t) for c, t in partition_types.items()]
        )
    return spark.read.schema(schema).parquet(path)


# The parquet summary files. Spark's listing keeps them and drops every
# other name starting with "_" (unless it holds "=", as a partition
# directory may) or "." and in-flight copies
# (HadoopFSUtils.shouldFilterOutPathName).
_SUMMARY_FILES = ("_common_metadata", "_metadata")


def _listed(name: str) -> bool:
    hidden = (
        (name.startswith("_") and "=" not in name)
        or name.startswith(".")
        or name.endswith("._COPYING_")
    )
    return not hidden or name.startswith(_SUMMARY_FILES)


def _footer_file(spark: SparkSession, path: str):
    """The Hadoop FileStatus whose footer Spark's non-merge inference
    reads (``ParquetUtils.inferSchema``), or None when ``path`` does not
    exist or holds no data file: ``path`` itself if it is a file, else
    the root's ``_common_metadata``, then its ``_metadata``, then the
    first data file in full-path order. Summary files are looked for at
    the root only, where parquet's committer writes them. Listing goes
    through the Hadoop FS API, so s3a:// and hdfs:// paths work."""
    root = _jclass(spark, "org.apache.hadoop.fs.Path")(path)
    fs = root.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(root):
        return None

    def first(dir_path, at_root: bool):
        entries = {}
        for st in fs.listStatus(dir_path):
            name = st.getPath().getName()
            if _listed(name):
                # every file under a directory sorts after "<name>/", so
                # walking entries in key order visits files in full-path
                # order
                entries[name + "/" if st.isDirectory() else name] = st
        if at_root:
            for summary in _SUMMARY_FILES:
                if summary in entries:
                    return entries[summary]
        for key in sorted(entries):
            if key.endswith("/"):
                found = first(entries[key].getPath(), False)
                if found is not None:
                    return found
            elif key not in _SUMMARY_FILES:
                return entries[key]
        return None

    return first(root, True)


def _footer_schema(spark: SparkSession, status, nanos_as_long: bool):
    """The Spark schema of one parquet file's footer, as inference
    derives it: ``ParquetFileFormat.readSchemaFromFooter`` (the schema a
    Spark writer stored in the footer, else the converted parquet
    schema) with a ``ParquetToSparkSchemaConverter`` over the session's
    SQLConf."""
    j = functools.partial(_jclass, spark)
    parquet = "org.apache.parquet."
    spark_pq = "org.apache.spark.sql.execution.datasources.parquet."
    conf = spark._jsparkSession.sessionState().conf()
    if nanos_as_long:
        conf = conf.clone()
        conf.setConfString("spark.sql.legacy.parquet.nanosAsLong", "true")
    converter = j(parquet + "format.converter.ParquetMetadataConverter")
    meta = j(spark_pq + "ParquetFooterReader").readFooter(
        j(parquet + "hadoop.util.HadoopInputFile").fromStatus(
            status, spark._jsc.hadoopConfiguration()
        ),
        converter.SKIP_ROW_GROUPS,
    )
    schema = j(spark_pq + "ParquetFileFormat").readSchemaFromFooter(
        j(parquet + "hadoop.Footer")(status.getPath(), meta),
        j(spark_pq + "ParquetToSparkSchemaConverter")(conf),
    )
    return T.StructType.fromJson(json.loads(schema.json()))


# (JVM view, {class name: handle}) of the last view _jclass served
_JCLASSES: tuple = (None, {})


def _jclass(spark: SparkSession, name: str):
    """The JVM class ``name``, looked up once per JVM view: each package
    step of ``spark._jvm.org.apache...`` is a py4j round trip. Keyed on
    the view, so a relaunched gateway never gets a stale handle."""
    global _JCLASSES
    jvm, classes = _JCLASSES
    if jvm is not spark._jvm:
        jvm, classes = _JCLASSES = (spark._jvm, {})
    if name not in classes:
        classes[name] = functools.reduce(getattr, name.split("."), jvm)
    return classes[name]


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
