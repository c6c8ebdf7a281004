"""SparkSession factory tuned for this engine.

Local mode is a single JVM; the same config flags (AQE, shuffle
partitions, Arrow) are the ones that matter on a 1000-executor cluster —
AQE handles runtime coalescing and skew joins, UTC keeps timestamp
semantics identical to the oracle engine.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import SparkSession


def get_spark(app_name: str = "big_data_project_spark") -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # local-mode driver hosts all executor threads; the 1g default
        # heap GC-thrashes under 32 concurrent tasks (takes effect only
        # when this process starts the JVM, which is the normal path)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_MEM", "8g"))
        .config(
            "spark.sql.shuffle.partitions",
            os.environ.get("SPARK_GRAFT_SHUFFLE", "32"),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Let AQE coalesce a persisted relation's output like any other
        # shuffle. The default (false) builds every persist()ed plan with
        # final-stage coalescing off, so each (route, hour)-sized tier
        # kept all shuffle partitions: built in 32 tasks, scanned in 32
        # tasks by each consumer, written as 32 part files. Partitions
        # only merge below the 1 MB minPartitionSize, so large relations
        # keep their parallelism; a consumer that needs a fixed layout
        # pins it with repartition(n, key) (see caching.persisted).
        # Hourly DAG at size 0.01 on local[4] (4-core host): median run
        # 24.7 -> 19.8 s over 10 alternating pairs; traced seed 7: 983
        # -> 81 tasks, executor run time 23.6 -> 14.3 s; outputs equal.
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        # Join strategy (guide §3.1/§9): preferSortMergeJoin=false lets
        # the planner pick shuffled-hash joins (no sort) when its size
        # conditions hold, and the AQE threshold converts sort-merge to
        # shuffled-hash at runtime when every post-shuffle partition is
        # under the limit — measured −20-25% on the SMJ-heavy
        # corpus-factor joins (nmf_topic_rounds, semdedup_prune;
        # OPTIMIZATION_r09.md). Safe beyond local mode: both paths are
        # size-guarded (the planner's build-side condition / the 64m
        # per-partition AQE bound), so a build side that could OOM
        # falls back to SMJ.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "64m")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


@contextmanager
def scoped_conf(spark: SparkSession, key: str, value: str):
    """Set a SQL conf for the duration of the block, then restore the
    prior value, or unset the key if it was not set, even when the block
    raises. This is the one way the package changes a session conf.

    The scope is session-wide: a query running concurrently on the same
    SparkSession sees the value while the block runs. Callers assume one
    query at a time per session. Every stream start
    (``streaming.pipeline._await_available_now``) is such a toggle: it
    caps ``spark.sql.shuffle.partitions`` at the cores while
    ``start()`` runs, so a query planned on the session meanwhile takes
    the capped count."""
    prior = spark.conf.get(key, None)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if prior is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prior)
