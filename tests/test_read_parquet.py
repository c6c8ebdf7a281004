"""catalog.read_parquet: the schema read from one footer on the driver
equals Spark's inferred schema, and resolving a table launches no Spark
job."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

import pytest
from pyspark.sql import functions as F

from big_data_project_spark.catalog import (
    TABLES,
    load_table,
    read_parquet,
    table_path,
)
from big_data_project_spark.session import scoped_conf
from big_data_project_spark.streaming import pipeline
from tests.conftest import SF_DIR, count_spark_jobs

NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"


@pytest.mark.parametrize("nanos_as_long", ["false", "true"])
@pytest.mark.parametrize("sf_dir", [SF_DIR, "/root/testdata/sf0.1"])
def test_footer_schema_equals_inferred(spark, sf_dir, nanos_as_long):
    if not os.path.isdir(sf_dir):
        pytest.skip(f"{sf_dir} not generated")
    with scoped_conf(spark, NANOS_AS_LONG, nanos_as_long):
        for name in TABLES:
            path = table_path(sf_dir, name)
            got = read_parquet(spark, path).schema
            assert got == spark.read.parquet(path).schema, name


@pytest.mark.parametrize(
    "partition_cols", [["hour_date"], ["amount", "hour_ts", "hour_date"]]
)
def test_footer_schema_of_partitioned_dir(spark, tmp_path, partition_cols):
    """A Spark-written hive-partitioned directory that also holds
    ``_SUCCESS``, a staging marker and ``.crc`` files: the footer schema
    plus the discovered partition columns equal the inferred schema."""
    path = str(tmp_path / "served")
    hour = F.timestamp_seconds(F.col("id") * 3600)
    spark.range(60).select(
        F.col("id").cast("string").alias("route_id"),
        (F.col("id") / 7).cast("decimal(28,6)").alias("amount"),
        hour.alias("hour_ts"),
        F.to_date(hour).alias("hour_date"),
    ).write.partitionBy(*partition_cols).parquet(path)
    open(os.path.join(path, "_STAGED_PART_OK"), "w").close()
    names = os.listdir(path)
    assert "_SUCCESS" in names and any(n.endswith(".crc") for n in names)
    got = read_parquet(spark, path).schema
    assert got == spark.read.parquet(path).schema
    assert got.names[-len(partition_cols):] == partition_cols


def test_footer_file_is_first_in_full_path_order(spark, tmp_path):
    """Spark's inference reads the first data file by full path, where
    ``k=a-b/...`` sorts before ``k=a/...``; the two files' schemas
    differ, so reading the other one would show."""
    path = str(tmp_path / "t")
    spark.range(2).select(F.col("id").alias("x")).write.parquet(
        os.path.join(path, "k=a")
    )
    spark.range(2).select(F.col("id").alias("y")).write.parquet(
        os.path.join(path, "k=a-b")
    )
    want = spark.read.parquet(path).schema
    assert want.names == ["y", "k"]
    assert read_parquet(spark, path).schema == want


def test_nanos_events_read_like_micros(spark, nanos_events_dir):
    """A TIMESTAMP(NANOS) ``ts`` loads as the floored microsecond
    timestamps of the MICROS copy, and the session conf is unchanged."""
    conf = spark.conf.getAll
    nanos = load_table(spark, nanos_events_dir, "events")
    micros = load_table(spark, SF_DIR, "events")
    assert nanos.schema == micros.schema
    assert nanos.exceptAll(micros).count() == 0
    assert micros.exceptAll(nanos).count() == 0
    assert spark.conf.getAll == conf


def test_table_resolution_launches_no_job(spark, tmp_path):
    """Resolving every table launches no Spark job. A new directory name
    is a new memo key, so every table resolves afresh."""
    sf_dir = str(tmp_path / "sf")
    os.symlink(SF_DIR, sf_dir)

    def resolve():
        for name in TABLES:
            load_table(spark, sf_dir, name).schema

    assert count_spark_jobs(spark, resolve) == 0


def test_materialize_hourly_batch_infers_no_schema(spark, tmp_path):
    """A micro-batch that merges into an existing served table reads
    that table and its staging copy with driver-side schemas: 6 jobs,
    where two more one-task schema-inference jobs used to run."""
    src = str(tmp_path / "src")
    target = str(tmp_path / "target")
    ckpt = str(tmp_path / "ckpt")
    events = load_table(spark, SF_DIR, "events")
    events.filter("event_id % 2 = 0").write.parquet(src)
    pipeline.materialize_hourly(spark, src, target, ckpt)
    events.filter("event_id % 2 = 1").write.mode("append").parquet(src)
    jobs = count_spark_jobs(
        spark, lambda: pipeline.materialize_hourly(spark, src, target, ckpt)
    )
    assert jobs <= 6


def test_read_parquet_after_session_restart():
    """``spark.stop()`` then ``get_spark()`` in one process (a benchmark
    set-up does it between repeats): the memoized JVM class handles
    still serve ``read_parquet``, which returns the inferred schema. Its
    own process, so the shared test session stays up."""
    code = textwrap.dedent(
        f"""
        from big_data_project_spark import catalog
        from big_data_project_spark.session import get_spark

        path = catalog.table_path({SF_DIR!r}, "lineitem")
        for _ in range(2):
            spark = get_spark("restart")
            got = catalog.read_parquet(spark, path).schema
            assert got == spark.read.parquet(path).schema
            assert catalog._JCLASSES[0] is spark._jvm
            spark.stop()
        """
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {**os.environ, "SPARK_GRAFT_CPUS": "1", "SPARK_GRAFT_MEM": "1g"}
    proc = subprocess.run(
        [sys.executable, "-c", code],
        cwd=root,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
