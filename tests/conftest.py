from __future__ import annotations

import uuid

import duckdb
import pytest

from big_data_project_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"
SF_DIR_MED = "/root/testdata/sf0.01"


def count_spark_jobs(spark, fn) -> int:
    """The number of Spark jobs ``fn()`` launches, from this thread and
    from every thread it starts.

    The jobs carry a fresh job tag, which a thread started meanwhile
    inherits with the other local properties. A job group would miss the
    jobs of a streaming query: its execution thread replaces the group
    with the query's run id."""
    sc = spark.sparkContext
    tag = f"count-{uuid.uuid4().hex}"
    sc.addJobTag(tag)
    try:
        fn()
    finally:
        sc.removeJobTag(tag)
    return len(sc._jsc.sc().statusTracker().getJobIdsForTag(tag))


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("tests")
    yield spark
    from big_data_project_spark.caching import release_caches

    release_caches()
    spark.stop()


@pytest.fixture(scope="session")
def duck():
    """DuckDB connection with every test table registered as a view —
    mirrors the driver's oracle setup."""
    con = duckdb.connect()
    from big_data_project_spark.catalog import TABLES, table_path

    for name in TABLES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM '{table_path(SF_DIR, name)}'"
        )
    yield con
    con.close()


# event_id strides at which the null_events_dir copy of the sf0.001
# events table holds a NULL
NULL_STRIDES = {"user_id": 7, "event_type": 11, "value": 13}


@pytest.fixture(scope="session")
def null_events_dir(spark, tmp_path_factory):
    """An sf dir holding only ``events``: the sf0.001 table with NULL
    ``user_id``, ``event_type`` and ``value`` at the NULL_STRIDES
    event_id strides. The generated data has no NULLs."""
    from pyspark.sql import functions as F

    from big_data_project_spark.catalog import load_table, table_path

    sf_dir = str(tmp_path_factory.mktemp("null_sf"))
    ev = load_table(spark, SF_DIR, "events")
    for col, stride in NULL_STRIDES.items():
        ev = ev.withColumn(
            col, F.when(F.col("event_id") % stride != 0, F.col(col))
        )
    ev.coalesce(1).write.parquet(table_path(sf_dir, "events"))
    return sf_dir


# doc_id strides at which the blank_docs_dir copy of the sf0.001
# documents table holds an empty, a whitespace-only and a NULL text
BLANK_TEXT_STRIDES = ((17, ""), (19, "  \t "), (23, None))


def _docs_copy(tmp_path_factory, strides) -> str:
    """A copy of sf0.001 whose ``documents.text`` is replaced at the
    (stride, text) doc_id strides (the first stride that divides a
    doc_id wins), with ``n_chars`` its length (NULL for a NULL text).
    The other tables are symlinks."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from big_data_project_spark.catalog import TABLES, table_path

    sf_dir = str(tmp_path_factory.mktemp("docs_sf"))
    for name in TABLES:
        if name != "documents":
            os.symlink(table_path(SF_DIR, name), table_path(sf_dir, name))
    tbl = pq.read_table(table_path(SF_DIR, "documents"))
    texts = []
    for doc_id, text in zip(
        tbl.column("doc_id").to_pylist(), tbl.column("text").to_pylist()
    ):
        for stride, blank in strides:
            if doc_id % stride == 0:
                text = blank
                break
        texts.append(text)
    n_chars = [None if t is None else len(t) for t in texts]
    for name, values in (("text", texts), ("n_chars", n_chars)):
        i = tbl.schema.get_field_index(name)
        field = tbl.schema.field(i)
        tbl = tbl.set_column(i, field, pa.array(values, field.type))
    pq.write_table(tbl, table_path(sf_dir, "documents"))
    return sf_dir


@pytest.fixture(scope="session")
def blank_docs_dir(tmp_path_factory):
    """sf0.001 with ``''``, ``'  \\t '`` and NULL texts at the
    BLANK_TEXT_STRIDES. The generated data has no blank or NULL text."""
    return _docs_copy(tmp_path_factory, BLANK_TEXT_STRIDES)


@pytest.fixture(scope="session")
def null_docs_dir(tmp_path_factory):
    """sf0.001 with NULL texts only, at BLANK_TEXT_STRIDES' NULL stride:
    a source whose NULL docs sit beside blank ones can hide a NULL text
    that one engine reads as ``''``."""
    return _docs_copy(tmp_path_factory, BLANK_TEXT_STRIDES[2:])


@pytest.fixture(scope="session")
def nanos_events_dir(tmp_path_factory):
    """An sf dir holding only ``events``: the sf0.001 table with ``ts``
    stored as parquet TIMESTAMP(NANOS), each value 999 ns past the
    original microsecond. Every generated ``events.parquet`` is MICROS."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from big_data_project_spark.catalog import table_path

    tbl = pq.read_table(table_path(SF_DIR, "events"))
    micros = tbl.column("ts").cast(pa.int64())
    nanos = pc.add(pc.multiply(micros, 1000), 999).cast(pa.timestamp("ns"))
    i = tbl.schema.get_field_index("ts")
    tbl = tbl.set_column(i, pa.field("ts", pa.timestamp("ns")), nanos)
    sf_dir = str(tmp_path_factory.mktemp("nanos_sf"))
    pq.write_table(tbl, table_path(sf_dir, "events"), version="2.6")
    return sf_dir
