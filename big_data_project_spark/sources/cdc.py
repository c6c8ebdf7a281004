"""Change-data-capture seam: debezium-style changelog envelope encode /
decode plus MERGE-with-delete application, batch and streaming.

The reference's serving loop is ingest-and-upsert into Postgres
(src/db-ingestion-service/ingestor.py:34-137 — per-row ON CONFLICT
upserts keyed by entity id; deletions happen by TTL cleanup jobs). The
lakehouse twin of that loop is a CDC changelog: every source mutation
arrives as an envelope ``{op, ts, seq, key, after}`` (Debezium's public
wire shape, ops c/u/d) and the sink folds it into latest-row-per-key
state WITH deletes — the full MERGE semantics ``upsert_parquet``
deliberately stops short of.

Wire format is JSON over the Kafka envelope (see sources/kafka.py for
why the envelope makes this broker-free): ``to_json``/``from_json``,
JVM-side, microsecond-pinned timestamps. The changelog here derives
DETERMINISTICALLY from the events table (signup -> c, error -> d,
else u) so the whole encode -> decode -> apply pipeline sits inside the
DuckDB oracle contract: the oracle recomputes final state straight from
the rows, and any lossiness in the round trip breaks the hash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import load_table_spread, read_parquet
from ..functions.portable import pround, sql_pround

QUERIES: dict = {}
ORACLES: dict = {}

# After-image of the tracked entity (a "user profile" row).
CDC_AFTER_SCHEMA = "user_id long, event_type string, value double"
CDC_PAYLOAD_SCHEMA = (
    "op string, ts timestamp, seq long, key long, "
    f"after struct<{CDC_AFTER_SCHEMA}>"
)

# Shared envelope machinery: the microsecond-pinned timestamp format
# and the malformed/tombstone routing contract live in sources/kafka.py
# so the two JSON envelope decoders cannot silently diverge.
from .kafka import _TS_OPTS, dead_letter_col, is_json_object  # noqa: E402

def _op_col():
    # built lazily: Column construction needs an active SparkContext
    return (
        F.when(F.col("event_type") == "signup", "c")
        .when(F.col("event_type") == "error", "d")
        .otherwise("u")
    )


def encode_cdc_log(events: DataFrame) -> DataFrame:
    """events rows -> Kafka-envelope changelog frame (``key`` binary,
    ``value`` binary). The Kafka key is the ENTITY key (user_id) so a
    real topic partitions by key and preserves per-key order — the
    invariant every CDC consumer depends on. Deletes carry a NULL
    after-image (to_json omits it; from_json restores the NULL struct).

    Map-side only: one projection, JVM json, no shuffle."""
    op = _op_col()
    after = F.when(
        op != "d",
        F.struct(
            F.col("user_id"),
            F.col("event_type"),
            F.col("value"),
        ),
    )
    payload = F.struct(
        op.alias("op"),
        F.col("ts"),
        F.col("event_id").alias("seq"),
        F.col("user_id").alias("key"),
        after.alias("after"),
    )
    return events.select(
        F.col("user_id").cast("string").cast("binary").alias("key"),
        F.to_json(payload, _TS_OPTS).cast("binary").alias("value"),
    )


def decode_cdc_envelope(
    raw: DataFrame, drop_malformed: bool = False
) -> DataFrame:
    """Kafka-envelope changelog frame -> typed CDC columns. Same
    static/streaming duality and malformed-routing contract as
    ``decode_events_envelope``: malformed payloads keep their original
    bytes in ``corrupt_payload`` (tombstones keep empty bytes) unless
    ``drop_malformed``."""
    parsed = raw.select(
        F.from_json(
            F.col("value").cast("string"), CDC_PAYLOAD_SCHEMA, _TS_OPTS
        ).alias("c"),
        F.col("value").alias("__raw"),
    )
    is_object = is_json_object(F.col("__raw"))
    if drop_malformed:
        return parsed.filter(is_object).select("c.*")
    return parsed.select(
        "c.*",
        dead_letter_col(is_object, F.col("__raw")),
    )


def apply_cdc_log(log: DataFrame, keep_deletes: bool = False) -> DataFrame:
    """Fold a decoded changelog into latest-state-per-key: the op with
    the highest (ts, seq) wins; keys whose winning op is a delete drop
    out (or surface as tombstone rows with ``keep_deletes``, for merge
    sinks that must propagate the delete downstream).

    ONE shuffle on the entity key; the window is per-key."""
    w = Window.partitionBy("key").orderBy(
        F.col("ts").desc(), F.col("seq").desc()
    )
    latest = (
        log.withColumn("__rn", F.row_number().over(w))
        .withColumn(
            "n_ops", F.count(F.lit(1)).over(Window.partitionBy("key"))
        )
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    if not keep_deletes:
        latest = latest.filter(F.col("op") != "d")
    return latest


def cdc_latest_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest surviving state per entity AFTER the full wire round trip:
    encode the events-derived changelog to JSON envelopes, decode it
    back, fold latest-op-wins with deletes — the oracle recomputes the
    same state straight from the rows, so envelope lossiness (timestamp
    precision, double round-trip, NULL after-images) breaks the hash.

    Scale: encode/decode are map-side projections in one codegen stage;
    apply is ONE shuffle on the entity key."""
    ev = load_table_spread(spark, sf_dir, "events", "event_id")
    decoded = decode_cdc_envelope(encode_cdc_log(ev), drop_malformed=True)
    state = apply_cdc_log(decoded)
    return state.select(
        F.col("key").alias("user_id"),
        "n_ops",
        F.col("ts").alias("last_ts"),
        F.col("seq").alias("last_seq"),
        F.col("op").alias("last_op"),
        F.col("after.event_type").alias("last_event_type"),
        pround(F.col("after.value"), 4).alias("last_value"),
    ).orderBy("user_id")


QUERIES["cdc_latest_state"] = cdc_latest_state

ORACLES["cdc_latest_state"] = f"""
    WITH log AS (
      SELECT user_id, ts, event_id AS seq,
             CASE WHEN event_type = 'signup' THEN 'c'
                  WHEN event_type = 'error' THEN 'd'
                  ELSE 'u' END AS op,
             event_type, value
      FROM events
    ),
    ranked AS (
      SELECT *,
             row_number() OVER (
               PARTITION BY user_id ORDER BY ts DESC, seq DESC) AS rn,
             CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT)
               AS n_ops
      FROM log
    )
    SELECT user_id, n_ops, ts AS last_ts, seq AS last_seq, op AS last_op,
           event_type AS last_event_type,
           {sql_pround("value", 4)} AS last_value
    FROM ranked
    WHERE rn = 1 AND op <> 'd'
    ORDER BY user_id
"""


def merge_cdc_parquet(
    spark: SparkSession,
    target_path: str,
    log_batch: DataFrame,
    state_cols: list[str] | None = None,
) -> DataFrame:
    """Full-MERGE application of one decoded changelog batch into the
    parquet serving table at ``target_path``: newer versions replace,
    deletes REMOVE the key (ingestor.py's ON CONFLICT plus the delete
    arm Postgres MERGE would add), stale redeliveries are no-ops.

    The table keeps the winning version per key (``__ts``, ``__seq``)
    so idempotence survives restarts and out-of-order redelivery: a
    key's row changes only when the batch carries a STRICTLY newer
    version. Ties favor the existing row (a redelivered envelope is a
    no-op, not a rewrite).

    Deletes persist as TOMBSTONE rows (op='d', NULL state) rather than
    physical removal — without the marker, a redelivered STALE update
    arriving after the delete would see no row and resurrect the key
    (the classic CDC resurrection bug; Delta/Hudi keep delete markers
    for the same reason). Live state is the ``op <> 'd'`` slice — use
    :func:`read_cdc_state`; :func:`compact_cdc_tombstones` physically
    drops tombstones older than the redelivery horizon.

    Scale: the batch folds to one row per touched key BEFORE touching
    the table (apply_cdc_log, tombstones kept); the merge is one
    key-window over current ∪ winners, committed by
    ``stage_swap_parquet`` like the unpartitioned upsert_parquet (a
    crash is repaired by ``recover_staging`` on the next read or
    write). With hive partitioning needs, route through the
    same partition-pruned shape as upsert_parquet; the serving tables
    this mirrors (the reference's per-entity tables) are key-grain and
    small relative to the corpus."""
    from ..plans.sinks import _read_or_none, stage_swap_parquet

    cols = state_cols or ["event_type", "value"]
    winners = apply_cdc_log(log_batch, keep_deletes=True).select(
        "key",
        "op",
        F.col("ts").alias("__ts"),
        F.col("seq").alias("__seq"),
        *[F.col(f"after.{c}").alias(c) for c in cols],
    )
    current = _read_or_none(spark, target_path)
    if current is None:
        unioned = winners.withColumn("__src", F.lit(1))
    else:
        unioned = current.select(
            "key", "op", "__ts", "__seq", *cols
        ).withColumn("__src", F.lit(0)).unionByName(
            winners.withColumn("__src", F.lit(1))
        )
    w = Window.partitionBy("key").orderBy(
        F.col("__ts").desc(), F.col("__seq").desc(), F.col("__src").asc()
    )
    merged = (
        unioned.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("key", "op", "__ts", "__seq", *cols)
    )
    stage_swap_parquet(spark, merged, target_path)
    return read_cdc_state(spark, target_path)


def read_cdc_state(spark: SparkSession, target_path: str) -> DataFrame:
    """Live state of a merge_cdc_parquet table: the non-tombstone slice
    (tombstones stay on disk so stale redeliveries cannot resurrect
    deleted keys). Like every sink read helper it first repairs an
    interrupted commit."""
    from ..plans.sinks import recover_staging

    recover_staging(spark, target_path)
    return read_parquet(spark, target_path).filter(F.col("op") != "d")


def cdc_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 history reconstructed from the changelog: one interval row
    per op, valid from its own timestamp until the key's next op
    (NULL = still current). Deletes appear as closed intervals with a
    NULL state — the audit trail ingestor-style upserts destroy and the
    reason warehouses land CDC as SCD2 instead.

    Runs AFTER the wire round trip (like cdc_latest_state) so interval
    edges are oracle-checked against the raw rows.

    Scale: ONE shuffle on the entity key; lead() is per-key."""
    ev = load_table_spread(spark, sf_dir, "events", "event_id")
    log = decode_cdc_envelope(encode_cdc_log(ev), drop_malformed=True)
    return (
        log.select(
            "key",
            "op",
            F.col("ts").alias("valid_from"),
            "seq",
            F.col("after.event_type").alias("event_type"),
            pround(F.col("after.value"), 4).alias("value"),
        )
        .withColumn("valid_to", F.lead("valid_from").over(
            Window.partitionBy("key").orderBy("valid_from", "seq")
        ))
        .withColumn(
            "is_current",
            (F.col("valid_to").isNull() & (F.col("op") != "d"))
            .cast("int"),
        )
        .orderBy("key", "valid_from", "seq")
    )


QUERIES["cdc_scd2_history"] = cdc_scd2_history

ORACLES["cdc_scd2_history"] = f"""
    WITH log AS (
      SELECT user_id AS key, ts, event_id AS seq,
             CASE WHEN event_type = 'signup' THEN 'c'
                  WHEN event_type = 'error' THEN 'd'
                  ELSE 'u' END AS op,
             event_type, value
      FROM events
    )
    SELECT key, op, ts AS valid_from, seq,
           CASE WHEN op = 'd' THEN NULL ELSE event_type END
             AS event_type,
           CASE WHEN op = 'd' THEN NULL
                ELSE {sql_pround("value", 4)} END AS value,
           lead(ts) OVER (PARTITION BY key ORDER BY ts, seq) AS valid_to,
           (CASE WHEN lead(ts) OVER (PARTITION BY key ORDER BY ts, seq)
                      IS NULL AND op <> 'd'
                 THEN 1 ELSE 0 END)::INT AS is_current
    FROM log
    ORDER BY key, valid_from, seq
"""


def compact_cdc_tombstones(
    spark: SparkSession, target_path: str, horizon_ts
) -> DataFrame:
    """TTL compaction for merge_cdc_parquet tables: physically drop
    tombstone rows whose version is older than ``horizon_ts`` (the
    redelivery horizon — once the changelog source can no longer replay
    ops that old, the resurrection guard is moot and the marker is pure
    storage). Live rows are never touched. Committed by
    ``stage_swap_parquet`` like the merge itself; an interrupted commit
    is repaired BEFORE the read, or the rewrite would drop the merge it
    completes."""
    from ..plans.sinks import recover_staging, stage_swap_parquet

    recover_staging(spark, target_path)
    cur = read_parquet(spark, target_path)
    kept = cur.filter(
        (F.col("op") != "d") | (F.col("__ts") >= F.lit(horizon_ts))
    )
    return stage_swap_parquet(spark, kept, target_path)
