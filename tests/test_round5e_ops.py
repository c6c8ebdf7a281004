"""Round-5 fifth batch: linear multi-touch attribution, the cohort-LTV
triangle, and the sorted-layout data-skipping sink.

Semantics are checked against independent pandas replications (the
DuckDB oracles run in the driver gate); the sink test verifies the
physical layout claim — disjoint file ranges + tight row-group
statistics — by reading parquet footers with pyarrow, and that a
filtered Spark scan actually prunes files.
"""

from __future__ import annotations

import pandas as pd
import pytest

from pyspark.sql import functions as F

from big_data_project_spark.catalog import load_table, table_path
from big_data_project_spark.operators.behavior import attribution_linear
from big_data_project_spark.operators.warehouse import cohort_ltv_triangle
from big_data_project_spark.plans.sinks import write_sorted

from tests.conftest import SF_DIR


def _pd(name):
    return pd.read_parquet(table_path(SF_DIR, name))


def test_attribution_linear_mass_conservation(spark):
    out = attribution_linear(spark, SF_DIR).collect()
    ev = _pd("events")
    pur = ev[ev["event_type"] == "purchase"]
    # every purchase's full value is credited exactly once (split
    # across touches or 'direct'), so totals match to rounding grain
    total_credit = sum(r.attributed_value for r in out)
    assert total_credit == pytest.approx(float(pur["value"].sum()), abs=0.5)
    # purchase events never credit themselves
    assert all(r.channel != "purchase" for r in out)


def test_attribution_linear_pandas_replication(spark):
    out = {r.channel: r for r in attribution_linear(spark, SF_DIR).collect()}
    ev = _pd("events").sort_values(["user_id", "ts", "event_id"])
    credits: dict[str, float] = {}
    counts: dict[str, int] = {}
    for _, g in ev.groupby("user_id"):
        touches: list[str] = []
        for _, row in g.iterrows():
            if row["event_type"] == "purchase":
                if touches:
                    share = row["value"] / len(touches)
                    for ch in touches:
                        credits[ch] = credits.get(ch, 0.0) + share
                        counts[ch] = counts.get(ch, 0) + 1
                else:
                    credits["direct"] = credits.get(
                        "direct", 0.0
                    ) + row["value"]
                    counts["direct"] = counts.get("direct", 0) + 1
                touches = []
            else:
                touches.append(row["event_type"])
    assert set(out) == set(credits)
    for ch, r in out.items():
        assert r.n_credits == counts[ch]
        assert r.attributed_value == pytest.approx(credits[ch], abs=0.05)


def test_cohort_ltv_triangle_shape_and_mass(spark):
    rows = cohort_ltv_triangle(spark, SF_DIR).collect()
    o = _pd("orders")
    # age-0 cell of each cohort contains every cohort customer's first
    # order, so age-0 n_customers sums to the distinct customer count
    age0 = [r for r in rows if r.age_months == 0]
    assert sum(r.n_customers for r in age0) == o["o_custkey"].nunique()
    # total revenue over the triangle equals total order revenue
    total = sum(r.revenue for r in rows)
    assert total == pytest.approx(float(o["o_totalprice"].sum()), rel=1e-6)
    # cumulative revenue is non-decreasing within each cohort and ends
    # at the cohort's total
    by_cohort: dict = {}
    for r in rows:
        by_cohort.setdefault(r.cohort_month, []).append(r)
    for cells in by_cohort.values():
        cells.sort(key=lambda r: r.age_months)
        cum = 0.0
        for c in cells:
            cum += c.revenue
            assert c.cum_revenue == pytest.approx(cum, abs=0.05)
        assert all(a.age_months >= 0 for a in cells)


def test_write_sorted_layout_skips(spark, tmp_path):
    import pyarrow.parquet as pq

    ev = load_table(spark, SF_DIR, "events")
    path = str(tmp_path / "sorted_events")
    write_sorted(
        ev, path, ["ts", "event_id"], n_files=4, small_row_groups=True
    )
    back = spark.read.parquet(path)
    assert back.count() == ev.count()

    import glob

    files = sorted(glob.glob(f"{path}/part-*.parquet"))
    assert len(files) >= 2
    # file-level ranges are disjoint (range partitioning) and
    # row-group stats are tight and ordered (sortWithinPartitions)
    file_ranges = []
    total_rgs = 0
    for f in files:
        md = pq.ParquetFile(f).metadata
        ts_idx = next(
            i for i in range(len(md.schema))
            if md.schema.column(i).name == "ts"
        )
        rg_ranges = []
        for g in range(md.num_row_groups):
            st = md.row_group(g).column(ts_idx).statistics
            assert st is not None and st.has_min_max
            rg_ranges.append((st.min, st.max))
        total_rgs += md.num_row_groups
        for (lo1, hi1), (lo2, hi2) in zip(rg_ranges, rg_ranges[1:]):
            assert hi1 <= lo2  # sorted => row groups don't interleave
        file_ranges.append((rg_ranges[0][0], rg_ranges[-1][1]))
    assert total_rgs > len(files)  # small_row_groups took effect
    file_ranges.sort()
    for (_, hi1), (lo2, _) in zip(file_ranges, file_ranges[1:]):
        assert hi1 <= lo2  # disjoint file ranges => file-level skipping
    # a narrow time-range scan reads fewer rows than the corpus: the
    # pushed predicate plus tight stats keep the scan to 1-2 files
    lo = ev.agg(F.min("ts")).collect()[0][0]
    hi = ev.agg(F.max("ts")).collect()[0][0]
    cut = lo + (hi - lo) / 10
    narrow = back.filter(F.col("ts") <= F.lit(cut))
    plan = narrow._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(ts), LessThanOrEqual(ts" in plan
    assert narrow.count() == ev.filter(F.col("ts") <= F.lit(cut)).count()


def test_stream_attribution_equals_batch(spark, tmp_path):
    """Draining the events table through the stateful attributor and
    summing the per-batch pre-aggregates reproduces the batch
    last-touch attribution exactly."""
    from big_data_project_spark.operators.behavior import (
        attribution_last_touch,
    )
    from big_data_project_spark.streaming import pipeline

    src = str(tmp_path / "attrib_src")
    load_table(spark, SF_DIR, "events").write.parquet(src)
    out = pipeline.run_available_now(
        pipeline.stream_attribution(spark, src),
        "attrib_out",
        output_mode="append",
    ).collect()
    streamed: dict = {}
    for r in out:
        n, v = streamed.get(r.attributed_type, (0, 0.0))
        streamed[r.attributed_type] = (
            n + r.n_purchases,
            v + r.value_sum,
        )
    batch = {
        r.attributed_type: r
        for r in attribution_last_touch(spark, SF_DIR).collect()
    }
    assert set(streamed) == set(batch)
    for ch, (n, v) in streamed.items():
        assert n == batch[ch].n_purchases
        assert v == pytest.approx(batch[ch].total_value, abs=0.02)


def test_stream_attribution_state_across_batches():
    """The last-touch state survives the batch boundary and purchases
    do not reset it (matching the batch IGNORE-NULLS window)."""
    from big_data_project_spark.streaming.pipeline import _attrib_fn

    class FakeState:
        def __init__(self):
            self.exists = False
            self._v = None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = v
            self.exists = True

    def batch(rows):
        pdf = pd.DataFrame(
            rows, columns=["event_id", "ts", "event_type", "value"]
        )
        pdf["ts"] = pd.to_datetime(pdf["ts"])
        return pdf

    st = FakeState()
    # batch 1: a purchase with no prior touch -> direct; then a view
    out1 = list(
        _attrib_fn(
            (7,),
            iter([batch([
                (1, "2026-01-01 09:00:00", "purchase", 10.0),
                (2, "2026-01-01 10:00:00", "view", None),
            ])]),
            st,
        )
    )
    assert len(out1) == 1
    r1 = out1[0].iloc[0]
    assert (r1.attributed_type, r1.n_purchases, r1.value_sum) == (
        "direct", 1, 10.0,
    )
    # batch 2: two purchases — both credit the batch-1 view (the first
    # purchase does not reset the touch); NULL value adds 0 to the sum
    out2 = list(
        _attrib_fn(
            (7,),
            iter([batch([
                (3, "2026-01-01 11:00:00", "purchase", 5.0),
                (4, "2026-01-01 12:00:00", "purchase", None),
            ])]),
            st,
        )
    )
    assert len(out2) == 1
    r2 = out2[0].iloc[0]
    assert (r2.attributed_type, r2.n_purchases, r2.value_sum) == (
        "view", 2, 5.0,
    )
    # batch 3: a NULL event_type is neither a purchase nor a touch —
    # the following purchase still credits the batch-1 view, exactly
    # as the batch twin's IGNORE-NULLS window skips the NULL the
    # non-purchase CASE maps it to
    out3 = list(
        _attrib_fn(
            (7,),
            iter([batch([
                (5, "2026-01-01 13:00:00", None, None),
                (6, "2026-01-01 14:00:00", "purchase", 2.0),
            ])]),
            st,
        )
    )
    assert len(out3) == 1
    r3 = out3[0].iloc[0]
    assert (r3.attributed_type, r3.n_purchases, r3.value_sum) == (
        "view", 1, 2.0,
    )
    assert st.get == ("view",)
