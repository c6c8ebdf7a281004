"""The session memo tier: the one owner of state memoized across queries.

Two kinds of entry live here, both built on first use and then reused by
every later query of the same application:

- **Scan definitions** (``catalog.load_table`` / ``load_table_spread``):
  the unexecuted scan DataFrame of a table — its resolved file listing
  and schema, the metastore role. Nothing is computed or persisted; every
  query still reads the parquet bytes. It saves the 25-65 ms of
  Spark-driver time a fresh scan definition costs at sf0.1 in a warm
  JVM (4 cores, ``local[4]``): a file listing, one footer read and
  the relation's resolution. The memo assumes the data under
  ``sf_dir`` does not change during the session.
- **Persisted rollups** (``rollups.shared_rollup``): relations with many
  consumers across queries — the (route, hour) KPI tier, the LSH
  candidate list, the k-means fit — built once, persisted
  MEMORY_AND_DISK, and memoized so every consumer gets the same handle.

Separately, ``persisted(df)`` persists a relation one plan consumes more
than once. Spark re-executes a shared subplan per consumer (no automatic
CTE materialization), so such relations are persisted at the point of
reuse. Every persisted frame, memoized or not, is tracked.

AQE chooses a persisted relation's partition count
(``spark.sql.optimizer.canChangeCachedPlanOutputPartitioning`` is on in
``session.get_spark``): a KB-sized tier is coalesced to a few partitions
instead of keeping every shuffle partition. A consumer that needs a
fixed layout pins it with ``repartition(n, key)``, which AQE never
coalesces, cached or not: ``nmf_topic_rounds`` persists its pinned
``v_doc``/``v_tok`` copies, and ``catalog.load_table_spread`` pins the
scans it spreads.

``release_caches()`` unpersists every tracked frame and drops the memo
entries whose value is one of them, so a released rollup is rebuilt (and
re-persisted) by its next consumer. Scan-definition entries are kept:
they hold no data, and dropping them would make the next query pay every
file listing again. ``__spark_entry__`` and ``bench.py`` run fine
without calling it (caches spill to disk past memory); a long-lived
session running many registry queries should call it between queries to
bound the cache footprint.

The memo key is ``(applicationId, sf_dir, name)``. ``applicationId``
changes when the SparkContext restarts, so a memo entry can never hand
out a DataFrame bound to a dead JVM context.

One ``RLock`` guards the tier, held across a build, so two threads asking
for the same cold entry build it once. It must be re-entrant because
builds nest: ``kpi_hourly`` builds the (route, hour) tier of
operators/hourly.py — ``demand_hourly``, whose build reads
``vehicle_hour_base``, whose build calls ``load_table``.
"""

from __future__ import annotations

import threading
from collections.abc import Callable

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession

_MEMO: dict[tuple[str, str, str], DataFrame] = {}
_TRACKED: list[DataFrame] = []
_LOCK = threading.RLock()


def memoized(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    build: Callable[[], DataFrame],
) -> DataFrame:
    """The memo entry for ``name`` under ``sf_dir``, built by ``build()``
    on the first call of this application."""
    key = (spark.sparkContext.applicationId, sf_dir, name)
    with _LOCK:
        df = _MEMO.get(key)
        if df is None:
            df = _MEMO[key] = build()
        return df


def persisted(df: DataFrame) -> DataFrame:
    """MEMORY_AND_DISK-persist ``df`` and track it for later release.
    At cluster scale this is the step you'd persist or checkpoint to
    the shuffle store anyway.

    AQE picks the cached relation's partition count. Pass
    ``df.repartition(n, key)`` to keep exactly ``n`` hash partitions on
    ``key``, so consumers grouping or joining on ``key`` plan no
    exchange above the cached scan."""
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    with _LOCK:
        _TRACKED.append(df)
    return df


def release_caches() -> int:
    """Unpersist every tracked relation and drop the memo entries that
    hold one. Idempotent: unpersisting an already-released or
    never-materialized frame is a no-op. Returns the number of distinct
    relations released."""
    with _LOCK:
        # newest first: a frame built on an older one goes before it, so
        # uncaching never makes Spark re-plan a dependent still cached
        released = {id(df): df for df in reversed(_TRACKED)}
        _TRACKED.clear()
        for key in [k for k, df in _MEMO.items() if id(df) in released]:
            del _MEMO[key]
    for df in released.values():
        try:
            df.unpersist()
        except Exception:
            pass  # context already stopped; nothing to release
    return len(released)
