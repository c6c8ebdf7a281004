"""Bloom-filter membership audit for incremental-ingest dedup: the
O(bits) structure that answers "have I already ingested this content?"
at 100 TB without joining the full corpus hash list.

The reference's ingestion dedups by primary-key conflict (ON CONFLICT
DO NOTHING — src/db-ingestion-service/ingestor.py:71,100,128), which is
an exact-membership probe against the whole table; a Bloom filter is
the standard constant-memory stand-in a distributed pipeline broadcasts
to every executor instead. This op builds a deterministic Bloom filter
over the BASE corpus content hashes (the dedup_incremental split:
doc_id % INC_MOD != INC_REM), probes every INCOMING-batch document, and
reports the confusion audit — bloom positives vs exact membership, the
false-positive rate, and the bit-array fill ratio that predicts it
(fp ≈ fill^K). A Bloom filter has NO false negatives by construction;
the unit test asserts that, and the driver oracle checks every number.

M_BITS is deliberately small enough that the measured false positives
are real at test scale (same policy as sketches.countmin_heavy_hitters:
an audit of an exact-looking sketch proves nothing); production sizing
is m ≈ 1.44·log2(1/ε)·n bits for target ε.

Scale design: content hashing and the K probe positions are map-side;
the bit set is ≤ M_BITS distinct rows, BROADCAST to the probe join (in
a real deployment it is packed into an m-bit bitmap broadcast variable
— the join-on-position formulation is semantically identical and keeps
the op fully oracle-checkable). The only corpus-scale relation is the
exact-membership side, which exists purely to GRADE the filter; the
production probe path never touches it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..caching import persisted
from ..catalog import load_table_spread
from ..functions.portable import (
    SQL_NORM,
    hash60,
    norm,
    pround,
    sql_hash60,
    sql_pround,
)
from .corpus import INC_MOD, INC_REM

M_BITS = 4096  # bit-array size: small enough to measure real FPs
K_HASH = 3  # probes per key


def _probe_positions(h):
    """Array of K_HASH bit positions for one content hash — K
    independent md5-derived hashes mod M_BITS, all map-side."""
    return F.array(
        *[
            hash60(F.concat(h, F.lit(f":{i}"))) % M_BITS
            for i in range(K_HASH)
        ]
    )


def bloom_dedup_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row confusion audit of the base-corpus Bloom filter probed
    with the incoming batch: batch size, exact members, bloom
    positives, false positives, the FP rate among true non-members,
    and the filter's bit fill ratio. ``fp_rate ~ fill_ratio^K`` — when
    fill approaches 1 the filter is saturated and must be resized."""
    docs = load_table_spread(spark, sf_dir, "documents", "doc_id")
    hashed = persisted(docs.select("doc_id", F.md5(norm("text")).alias("h")))
    is_batch = (F.col("doc_id") % INC_MOD) == INC_REM
    base = hashed.filter(~is_batch)
    batch = hashed.filter(is_batch)

    pos = F.explode(_probe_positions(F.col("h"))).alias("pos")
    # ≤ M_BITS rows, but derived from a corpus-scale explode+distinct
    # — persisted so its two consumers (the fill count and the
    # broadcast probe join) run that distinct once
    base_bits = persisted(base.select(pos).distinct())
    n_bits = base_bits.agg(F.count(F.lit(1)).alias("n_bits_set"))

    probes = batch.select("doc_id", "h", pos)
    per_doc = (
        probes.join(
            F.broadcast(base_bits.withColumn("hit", F.lit(1))),
            "pos",
            "left",
        )
        .groupBy("doc_id", "h")
        .agg(
            (F.sum(F.coalesce(F.col("hit"), F.lit(0))) == K_HASH).alias(
                "bloom_positive"
            )
        )
    )
    members = base.select("h").distinct().withColumn(
        "is_member", F.lit(True)
    )
    graded = per_doc.join(members, "h", "left").select(
        "doc_id",
        "bloom_positive",
        F.coalesce(F.col("is_member"), F.lit(False)).alias("is_member"),
    )
    agg = graded.agg(
        F.count(F.lit(1)).alias("n_batch"),
        F.sum(F.when(F.col("is_member"), 1).otherwise(0)).alias(
            "n_true_member"
        ),
        F.sum(F.when(F.col("bloom_positive"), 1).otherwise(0)).alias(
            "n_bloom_positive"
        ),
        F.sum(
            F.when(F.col("bloom_positive") & ~F.col("is_member"), 1)
            .otherwise(0)
        ).alias("n_false_positive"),
    )
    non_member = F.col("n_batch") - F.col("n_true_member")
    return agg.crossJoin(F.broadcast(n_bits)).select(
        "n_batch",
        "n_true_member",
        "n_bloom_positive",
        "n_false_positive",
        "n_bits_set",
        pround(F.col("n_bits_set") / F.lit(float(M_BITS)), 6).alias(
            "fill_ratio"
        ),
        pround(
            F.when(
                non_member > 0,
                F.col("n_false_positive").cast("double") / non_member,
            ),
            6,
        ).alias("fp_rate"),
    )


QUERIES = {
    "bloom_dedup_audit": bloom_dedup_audit,
}

_SQL_POSITIONS = " UNION ALL ".join(
    f"""SELECT doc_id, h,
        {sql_hash60(f"h || ':{i}'")} % {M_BITS} AS pos FROM h"""
    for i in range(K_HASH)
)

ORACLES = {
    "bloom_dedup_audit": f"""
        WITH h AS (
          SELECT doc_id, md5({SQL_NORM}) AS h FROM documents
        ),
        pos AS ({_SQL_POSITIONS}),
        base_bits AS (
          SELECT DISTINCT pos FROM pos
          WHERE doc_id % {INC_MOD} != {INC_REM}
        ),
        nb AS (SELECT count(*) AS n_bits_set FROM base_bits),
        per_doc AS (
          SELECT p.doc_id, p.h,
                 count(bb.pos) = {K_HASH} AS bloom_positive
          FROM pos p
          LEFT JOIN base_bits bb ON p.pos = bb.pos
          WHERE p.doc_id % {INC_MOD} = {INC_REM}
          GROUP BY p.doc_id, p.h
        ),
        members AS (
          SELECT DISTINCT h FROM h
          WHERE doc_id % {INC_MOD} != {INC_REM}
        ),
        graded AS (
          SELECT per_doc.doc_id, bloom_positive,
                 members.h IS NOT NULL AS is_member
          FROM per_doc LEFT JOIN members ON per_doc.h = members.h
        ),
        agg AS (
          SELECT count(*) AS n_batch,
                 count(*) FILTER (WHERE is_member) AS n_true_member,
                 count(*) FILTER (WHERE bloom_positive)
                   AS n_bloom_positive,
                 count(*) FILTER (WHERE bloom_positive AND NOT is_member)
                   AS n_false_positive
          FROM graded
        )
        SELECT n_batch, n_true_member, n_bloom_positive,
               n_false_positive, n_bits_set,
               {sql_pround(f'n_bits_set / {float(M_BITS)}', 6)}
                 AS fill_ratio,
               CASE WHEN n_batch - n_true_member > 0 THEN
                 {sql_pround(
                     'n_false_positive::DOUBLE '
                     '/ (n_batch - n_true_member)', 6)}
               END AS fp_rate
        FROM agg CROSS JOIN nb
    """,
}
