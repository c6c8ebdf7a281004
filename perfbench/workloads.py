"""The benchmark's workloads. Each drives the engine only through its
public functions and verifies every operation against the oracles.

A workload has ``prepare`` (untimed), ``op(i)`` (one timed operation,
returning the items it processed and what ``verify`` needs),
``verify(i, payload)`` (untimed oracle check) and ``finish``.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import time

import pyarrow.parquet as pq

from . import gen
from .oracle import StreamOracle


class Workload:
    name = ""
    warmup_ops = 0
    min_ops = 1
    op_unit = "op"

    def __init__(self, bench) -> None:
        self.b = bench

    def prepare(self) -> None:
        pass

    def finish(self) -> None:
        pass


class HourlyDag(Workload):
    """One full reference_hourly_dag run per operation, after the cache
    tiers are released, from a fresh session for the first run."""

    name = "hourly_dag"
    op_unit = "dag run"
    CHECKED = (
        "kpi_hourly", "suggestions", "passenger_flow_sim",
        "referential_filter", "weather_hourly", "routes_geo",
    )

    def op(self, i: int):
        from big_data_project_spark.caching import release_caches
        from big_data_project_spark.plans.dag import Job, reference_hourly_dag, run_dag

        b = self.b
        b.release_caches_checked(release_caches)
        b.spark.catalog.clearCache()
        out_dir = os.path.join(b.run_dir, f"dag{i}")
        jobs = reference_hourly_dag(b.sf_dir, out_dir)
        if b.tracer is not None:
            jobs = [Job(j.name, b.tracer_job(j.name, j.fn), j.deps) for j in jobs]
        t0 = time.perf_counter()
        report = run_dag(b.spark, jobs)
        b.mark_op_end(t0, job_s={r["name"]: r["seconds"] for r in report})
        return b.manifest["rows"]["events"], (out_dir, report)

    def verify(self, i: int, payload) -> list[str]:
        out_dir, report = payload
        bad = [f"{r['name']}: {r['status']} {r['error']}" for r in report if r["status"] != "success"]
        for key in self.CHECKED:
            if not self.b.oracle.check_parquet(key, f"{out_dir}/{key}"):
                bad.append(f"{key}: output differs from the oracle")
        rf = pq.ParquetDataset(f"{out_dir}/rf_demand_predictions").read().num_rows
        if rf == 0:
            bad.append("rf_demand_predictions: no rows")
        exports = os.path.join(out_dir, "exports")
        files = sorted(os.listdir(exports)) if os.path.isdir(exports) else []
        if len(files) != 6:
            bad.append(f"exports: expected 6 files, found {files}")
        for f in files:
            with open(os.path.join(exports, f)) as fh:
                json.load(fh)
        shutil.rmtree(out_dir, ignore_errors=True)
        return bad


class RealtimeIngest(Workload):
    """Closed loop of polls: decode the poll's FeedMessages and append
    them to a parquet table, then drain the poll's events file into the
    served hourly rollup (one checkpoint and target for the run)."""

    name = "realtime_ingest"
    warmup_ops = 1
    min_ops = 5
    op_unit = "poll"

    def prepare(self) -> None:
        d = self.b.run_dir
        self.stream_dir = os.path.join(d, "stream")
        self.decoded = os.path.join(d, "decoded")
        self.served = os.path.join(d, "served")
        self.ckpt = os.path.join(d, "checkpoint")
        os.makedirs(self.stream_dir)
        self.delivered: list[str] = []
        self.stream_oracle = StreamOracle()

    def op(self, i: int):
        from big_data_project_spark.sources.protofeed import decode_feed_messages
        from big_data_project_spark.streaming.pipeline import materialize_hourly

        b = self.b
        if i >= gen.RT_POLLS:
            raise RuntimeError(f"out of generated polls ({gen.RT_POLLS})")
        src = os.path.join(b.rt_dir, f"poll{i:04d}")
        poll = pq.read_table(src + ".parquet", columns=["ts", "event_type"]).to_pandas()
        touched = len(poll.assign(h=poll["ts"].dt.floor("h")).groupby(["event_type", "h"]))
        t0 = time.perf_counter()
        with b.span("protofeed.decode"):
            feed = b.spark.read.parquet(src + ".feed.parquet")
            decode_feed_messages(feed).write.mode("append").parquet(self.decoded)
        # the poller drops the poll's events file into the stream source
        # (written under a hidden name, then renamed into place)
        dst = os.path.join(self.stream_dir, f"poll{i:04d}.parquet")
        shutil.copyfile(src + ".parquet", os.path.join(self.stream_dir, f".{i}.tmp"))
        os.replace(os.path.join(self.stream_dir, f".{i}.tmp"), dst)
        with b.span("streaming.materialize_hourly"):
            materialize_hourly(b.spark, self.stream_dir, self.served, self.ckpt)
        b.mark_op_end(t0, touched_groups=touched)
        self.delivered.append(dst)
        return len(poll), None

    def verify(self, i: int, payload) -> list[str]:
        if self.b.corrupt and i == 0:
            # self-test hook: one served file written twice (duplicate rows)
            part = sorted(glob.glob(f"{self.served}/*/*.parquet"))[0]
            shutil.copyfile(part, os.path.join(os.path.dirname(part), "corrupt-copy.parquet"))
        bad = []
        if not self.stream_oracle.served_matches(self.delivered, self.served):
            bad.append(f"poll {i}: served rollup differs from the batch oracle")
        if not self.stream_oracle.decoded_matches(self.delivered, self.decoded):
            bad.append(f"poll {i}: decoded entities differ from the oracle")
        return bad

    def finish(self) -> None:
        self.stream_oracle.close()


WORKLOADS = {w.name: w for w in (HourlyDag, RealtimeIngest)}
