"""The contract shared by the six mergeable-state serving sinks
(streaming/pipeline.py ``serve_*_foreach_batch``): every source goes
through events_source/docs_source, each micro-batch's source rows
execute once, and the served state keeps its on-disk schema so a state
written by an earlier build resumes."""

from __future__ import annotations

import pytest

from big_data_project_spark.catalog import load_table
from big_data_project_spark.streaming import pipeline as sp

from tests.conftest import SF_DIR

# sink name -> (serve function, feed table, source schema, extra args,
# served state schema)
SINKS = {
    "qbins": (
        sp.serve_quantile_bins_foreach_batch, "events", sp.EVENTS_SCHEMA,
        (0.0, 400.0), "route_id:string,bin:int,c:bigint,last_batch:bigint",
    ),
    "kmv": (
        sp.serve_kmv_foreach_batch, "events", sp.EVENTS_SCHEMA, (),
        "route_id:string,user_id:bigint,u:double,last_batch:bigint",
    ),
    "ams": (
        sp.serve_ams_foreach_batch, "events", sp.EVENTS_SCHEMA, (),
        "route_id:string,r:int,z:bigint,last_batch:bigint",
    ),
    "lc": (
        sp.serve_linear_counting_foreach_batch, "events", sp.EVENTS_SCHEMA,
        (), "route_id:string,bucket:bigint,last_batch:bigint",
    ),
    "cm": (
        sp.serve_countmin_foreach_batch, "documents", sp.DOCS_SCHEMA, (),
        "d:int,bucket:bigint,c:bigint,last_batch:bigint",
    ),
    "wrs": (
        sp.serve_weighted_sample_foreach_batch, "documents", sp.DOCS_SCHEMA,
        (), "rank:int,doc_id:bigint,weight:bigint,skey:double",
    ),
}


@pytest.mark.parametrize("sink", sorted(SINKS))
def test_sink_rejects_static_source(spark, tmp_path, sink):
    serve, table, _schema, extra, _state = SINKS[sink]
    static = load_table(spark, SF_DIR, table)
    with pytest.raises(
        ValueError, match="injected source must be a streaming DataFrame"
    ):
        serve(
            spark, static, str(tmp_path / "state"), str(tmp_path / "ckpt"),
            *extra,
        )


@pytest.mark.parametrize("sink", sorted(SINKS))
def test_sink_executes_each_source_row_once(spark, tmp_path, sink):
    """Three files under maxFilesPerTrigger=1 are three micro-batches.
    An identity mapInPandas on the source logs the rows it executes: a
    merge step that ran a second action on the batch (an isEmpty()
    probe, a count) would log them twice. The log is a local file, not
    an accumulator, because a task cut short by a limit (isEmpty) never
    reports its accumulator updates. The served state keeps the schema
    it had before the sinks shared one merge step, so an older state
    resumes."""
    serve, table, schema, extra, state_schema = SINKS[sink]
    feed = load_table(spark, SF_DIR, table)
    src = str(tmp_path / "feed")
    feed.repartition(3).write.parquet(src)
    log = tmp_path / "executed"

    def count_rows(batches):
        for pdf in batches:
            with open(log, "a") as fh:
                fh.write(f"{len(pdf)}\n")
            yield pdf

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .mapInPandas(count_rows, schema)
    )
    state = str(tmp_path / "state")
    serve(spark, stream, state, str(tmp_path / "ckpt"), *extra)

    executed = sum(int(n) for n in log.read_text().split())
    assert executed == feed.count() > 0
    got = ",".join(
        f"{f.name}:{f.dataType.simpleString()}"
        for f in spark.read.parquet(state).schema
    )
    assert got == state_schema
