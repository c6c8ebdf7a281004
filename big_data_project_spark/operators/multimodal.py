"""Multimodal-column plumbing: opaque binary payloads with typed
metadata, processed by an Arrow-batched ``mapInPandas`` decode stage.

The reference pipeline is text/numeric only (GTFS CSVs, JSON weather —
src/dag/*.py); this module adds the image/audio/video column handling a
training-data pipeline needs. The container has no image/audio codecs,
so the DECODE step is a deterministic stub (sha256 + derived fake
dimensions) behind ``_decode_payload``; the Spark-side plumbing —
binary column, metadata struct, mapInPandas batch iteration, output
schema — is real and oracle-checked.

Scale: mapInPandas streams Arrow record batches through Python once,
map-side only (no shuffle); at 100 TB the payload column stays columnar
end-to-end and per-batch memory is bounded by
spark.sql.execution.arrow.maxRecordsPerBatch.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table

MODALITIES = ("image", "audio", "video")

_OUT_SCHEMA = (
    "doc_id bigint, modality string, byte_len bigint, "
    "payload_sha256 string, fake_width int, fake_height int"
)


def _decode_payload(payload: bytes | None) -> dict:
    """Stub decoder: real codecs (PIL/ffmpeg) are not in this container.
    Deterministic so the DuckDB oracle can reproduce it; a production
    build swaps this body for the actual decode and keeps the plumbing.
    A NULL payload (a NULL ``documents.text``) decodes to NULL stats.
    """
    if payload is None:
        return dict.fromkeys(
            ("byte_len", "payload_sha256", "fake_width", "fake_height")
        )
    n = len(payload)
    return {
        "byte_len": n,
        "payload_sha256": hashlib.sha256(payload).hexdigest(),
        "fake_width": 16 + n % 64,
        "fake_height": 16 + (n * 7) % 64,
    }


def _decode_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        decoded = pdf["payload"].map(_decode_payload)
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "modality": pdf["modality"],
                "byte_len": decoded.map(lambda d: d["byte_len"]),
                "payload_sha256": decoded.map(lambda d: d["payload_sha256"]),
                "fake_width": decoded.map(lambda d: d["fake_width"]),
                "fake_height": decoded.map(lambda d: d["fake_height"]),
            }
        )


def multimodal_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents re-typed as a multimodal table: binary payload + typed
    metadata struct (modality assigned deterministically per doc)."""
    docs = load_table(spark, sf_dir, "documents")
    modality = F.element_at(
        F.array(*[F.lit(m) for m in MODALITIES]),
        (F.col("doc_id") % 3 + 1).cast("int"),
    )
    return docs.select(
        "doc_id",
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        F.struct(
            modality.alias("modality"),
            F.col("source").alias("origin"),
            F.col("n_chars").alias("content_hint"),
        ).alias("meta"),
    )


def multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode-stub pass over the multimodal table via mapInPandas."""
    mm = multimodal_table(spark, sf_dir).select(
        "doc_id", "payload", F.col("meta.modality").alias("modality")
    )
    return mm.mapInPandas(_decode_batches, schema=_OUT_SCHEMA)


_FEAT_SCHEMA = (
    "doc_id bigint, modality string, byte_len bigint, n_distinct_bytes int, "
    "mean_byte double, frame_offsets array<int>"
)

FRAME_SAMPLE_N = 4


def _frame_step(payload: bytes | None) -> int:
    """Byte stride of the FRAME_SAMPLE_N-point frame grid. A NULL
    payload has no length; the grid then steps by 1, as the oracles'
    ``greatest(1, NULL // n)`` does."""
    return 1 if payload is None else max(1, len(payload) // FRAME_SAMPLE_N)


def _feature_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """Feature-extract + frame-sample stub: byte-level statistics stand
    in for codec-derived features (no PIL/ffmpeg in this container);
    frame offsets are the deterministic sample grid a video decoder
    would read. The Arrow batch shape, schema, and partition behavior
    are the production plumbing."""
    for pdf in batches:
        feats = []
        for doc_id, modality, payload in zip(
            pdf["doc_id"], pdf["modality"], pdf["payload"]
        ):
            null = payload is None
            n = None if null else len(payload)
            step = _frame_step(payload)
            feats.append(
                {
                    "doc_id": doc_id,
                    "modality": modality,
                    "byte_len": n,
                    "n_distinct_bytes": None if null else len(set(payload)),
                    "mean_byte": (
                        None if null else (sum(payload) / n) if n else 0.0
                    ),
                    "frame_offsets": (
                        [i * step for i in range(FRAME_SAMPLE_N)]
                        if modality == "video"
                        else []
                    ),
                }
            )
        yield pd.DataFrame(feats)


def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-extraction pass (byte stats + frame-sample offsets) over
    the multimodal table via mapInPandas; rows-only entry (byte-level
    loops are not expressible in the oracle dialect)."""
    mm = multimodal_table(spark, sf_dir).select(
        "doc_id", "payload", F.col("meta.modality").alias("modality")
    )
    return mm.mapInPandas(_feature_batches, schema=_FEAT_SCHEMA).select(
        "doc_id",
        "modality",
        "byte_len",
        "n_distinct_bytes",
        F.round("mean_byte", 4).alias("mean_byte"),
        F.size("frame_offsets").alias("n_frames"),
    )


# documents.text is ASCII (asserted in tests), so the oracle's per-char
# statistics equal the stub's per-byte ones.
_SQL_FEATURES = """
    SELECT doc_id,
           CASE doc_id % 3
             WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video'
           END AS modality,
           strlen(text)::BIGINT AS byte_len,
           (CASE WHEN strlen(text) = 0 THEN 0
                 ELSE len(list_distinct(string_split(text, '')))
            END)::INT AS n_distinct_bytes,
           CASE WHEN strlen(text) = 0 THEN 0.0
                ELSE round(list_avg(list_transform(string_split(text, ''),
                                                   c -> ascii(c))), 4)
           END AS mean_byte,
           (CASE WHEN doc_id % 3 = 2 THEN 4 ELSE 0 END)::INT AS n_frames
    FROM documents
"""


FRAME_BYTES = 16  # bytes per sampled frame window
_FRAME_P = 1_000_003

_FRAME_SCHEMA = (
    "doc_id bigint, frame_idx int, frame_offset bigint, "
    "win_len int, win_checksum bigint"
)


def _frame_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """Frame-extraction stub with the REAL production batch shape: each
    input row fans out to FRAME_SAMPLE_N output rows (a video decoder
    emits one row per sampled frame). The "frame" is a FRAME_BYTES-byte
    window at the sample offset, summarized by a modular byte checksum
    so the stub stays fully oracle-checkable."""
    for pdf in batches:
        rows = []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            step = _frame_step(payload)
            for i in range(FRAME_SAMPLE_N):
                off = i * step
                win = (
                    None
                    if payload is None
                    else payload[off : off + FRAME_BYTES]
                )
                rows.append(
                    {
                        "doc_id": doc_id,
                        "frame_idx": i,
                        "frame_offset": off,
                        "win_len": None if win is None else len(win),
                        "win_checksum": (
                            None if win is None else sum(win) % _FRAME_P
                        ),
                    }
                )
        yield pd.DataFrame(rows)


def multimodal_frame_checksums(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Frame-sample pass over the VIDEO rows of the multimodal table:
    one output row per sampled frame (mapInPandas fan-out — the
    resize/frame-extract batch shape), each carrying its byte-window
    checksum. The modality filter is pushed BEFORE the Python stage so
    only video payloads cross the Arrow boundary."""
    mm = multimodal_table(spark, sf_dir).select(
        "doc_id", "payload", F.col("meta.modality").alias("modality")
    ).filter(F.col("modality") == "video")
    out = mm.select("doc_id", "payload").mapInPandas(
        _frame_batches, schema=_FRAME_SCHEMA
    )
    return out.orderBy("doc_id", "frame_idx")


QUERIES = {
    "multimodal_meta": multimodal_meta,
    "multimodal_features": multimodal_features,
    "multimodal_frame_checksums": multimodal_frame_checksums,
}

# strlen() = bytes (documents.text is UTF-8; payload = encode(text)).
ORACLES = {
    "multimodal_features": _SQL_FEATURES,
    "multimodal_meta": """
        SELECT doc_id,
               CASE doc_id % 3
                 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video'
               END AS modality,
               strlen(text)::BIGINT AS byte_len,
               sha256(text) AS payload_sha256,
               (16 + strlen(text) % 64)::INT AS fake_width,
               (16 + (strlen(text) * 7) % 64)::INT AS fake_height
        FROM documents
    """,
}

# Frame windows are byte slices; documents.text is ASCII (asserted in
# tests), so substr/ascii reproduce the byte math exactly. Offsets are
# 0-based in the stub, substr is 1-based.
ORACLES["multimodal_frame_checksums"] = f"""
    WITH v AS (
      SELECT doc_id, text, strlen(text) AS n,
             greatest(1, strlen(text) // {FRAME_SAMPLE_N}) AS step
      FROM documents
      WHERE doc_id % 3 = 2
    ),
    frames AS (
      SELECT doc_id, i AS frame_idx, (i * step)::BIGINT AS frame_offset,
             substr(text, (i * step)::INT + 1, {FRAME_BYTES}) AS win
      FROM v CROSS JOIN (
        SELECT unnest(range(0, {FRAME_SAMPLE_N})) AS i
      ) g
    )
    SELECT doc_id, frame_idx::INT AS frame_idx, frame_offset,
           strlen(win)::INT AS win_len,
           CAST(
             list_sum(list_transform(string_split(win, ''),
                                     c -> ascii(c))) % {_FRAME_P}
             AS BIGINT) AS win_checksum
    FROM frames
    ORDER BY doc_id, frame_idx
"""


AUDIO_WIN = 32  # bytes per analysis window
AUDIO_HOP = 16  # hop between window starts (50% overlap)

_AUDIO_SCHEMA = (
    "doc_id bigint, win_idx int, win_start bigint, "
    "win_len int, energy bigint, peak_byte int"
)


def _audio_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """Audio-framing stub with the REAL STFT-style batch shape: each
    payload fans out to overlapping AUDIO_WIN-byte windows at AUDIO_HOP
    stride (a real feature extractor computes per-window spectra; the
    stub's per-window byte energy/peak keep it oracle-checkable). The
    variable per-row fan-out (longer clip -> more frames) is the shape
    that distinguishes audio framing from the fixed-N video sampler."""
    for pdf in batches:
        rows = []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            # a NULL payload has no windows (the oracle's range(0, NULL))
            n = 0 if payload is None else len(payload)
            idx = 0
            off = 0
            while off < n:
                win = payload[off : off + AUDIO_WIN]
                rows.append(
                    {
                        "doc_id": doc_id,
                        "win_idx": idx,
                        "win_start": off,
                        "win_len": len(win),
                        "energy": sum(b * b for b in win),
                        "peak_byte": max(win),
                    }
                )
                idx += 1
                off += AUDIO_HOP
        yield pd.DataFrame(rows)


def multimodal_audio_windows(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Overlapping-window feature pass over the AUDIO rows of the
    multimodal table — one output row per analysis window (variable
    fan-out: clip length / AUDIO_HOP), each with its byte-energy and
    peak stub features. The modality filter is pushed before the Arrow
    boundary, so only audio payloads cross into Python; the windowing
    itself is embarrassingly parallel (no shuffle until the output
    sort)."""
    mm = multimodal_table(spark, sf_dir).select(
        "doc_id", "payload", F.col("meta.modality").alias("modality")
    ).filter(F.col("modality") == "audio")
    out = mm.select("doc_id", "payload").mapInPandas(
        _audio_batches, schema=_AUDIO_SCHEMA
    )
    return out.orderBy("doc_id", "win_idx")


QUERIES["multimodal_audio_windows"] = multimodal_audio_windows

# Window slices are byte ranges; documents.text is ASCII (asserted in
# tests), so substr/ascii reproduce the byte math. Offsets 0-based in
# the stub, substr 1-based. Window count = ceil(n / HOP) (off < n).
ORACLES["multimodal_audio_windows"] = f"""
    WITH a AS (
      SELECT doc_id, text, strlen(text) AS n
      FROM documents
      WHERE doc_id % 3 = 1
    ),
    idx AS (
      SELECT doc_id, text,
             unnest(range(0, (n + {AUDIO_HOP} - 1) // {AUDIO_HOP})) AS i
      FROM a
    ),
    w AS (
      SELECT doc_id, i AS win_idx,
             (i * {AUDIO_HOP})::BIGINT AS win_start,
             substr(text, (i * {AUDIO_HOP})::INT + 1, {AUDIO_WIN}) AS win
      FROM idx
    )
    SELECT doc_id, win_idx::INT AS win_idx, win_start,
           strlen(win)::INT AS win_len,
           CAST(list_sum(list_transform(string_split(win, ''),
                                        c -> ascii(c) * ascii(c)))
                AS BIGINT) AS energy,
           CAST(list_max(list_transform(string_split(win, ''),
                                        c -> ascii(c))) AS INT)
             AS peak_byte
    FROM w
    ORDER BY doc_id, win_idx
"""


def multimodal_payload_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact payload-level dedup audit per modality: md5 over the raw
    BINARY column (JVM-side, before any decode), counting payloads vs
    distinct payloads — the first pass a multimodal ingest runs, since
    re-encoded/duplicated media is far cheaper to drop by byte hash
    than after feature extraction. One corpus-scale hash aggregate."""
    from ..functions.portable import pround

    mm = multimodal_table(spark, sf_dir).select(
        F.col("meta.modality").alias("modality"),
        F.md5(F.col("payload")).alias("h"),
    )
    return (
        mm.groupBy("modality")
        .agg(
            F.count(F.lit(1)).alias("n_payloads"),
            F.countDistinct("h").alias("n_distinct_payloads"),
        )
        .select(
            "modality",
            "n_payloads",
            "n_distinct_payloads",
            pround(
                1.0
                - F.col("n_distinct_payloads") / F.col("n_payloads"),
                6,
            ).alias("dup_rate"),
        )
        .orderBy("modality")
    )


QUERIES["multimodal_payload_dedup"] = multimodal_payload_dedup

# payload = encode(text, UTF-8), so md5(payload) == DuckDB md5(text).
ORACLES["multimodal_payload_dedup"] = """
    WITH h AS (
      SELECT CASE doc_id % 3
               WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video'
             END AS modality,
             md5(text) AS h
      FROM documents
    )
    SELECT modality, count(*) AS n_payloads,
           count(DISTINCT h) AS n_distinct_payloads,
           floor((1.0 - count(DISTINCT h)::DOUBLE / count(*))
                 * 1000000.0 + 0.5) / 1000000.0 AS dup_rate
    FROM h
    GROUP BY modality
    ORDER BY modality
"""
