"""Multimodal column handling (SURVEY.md §2B E28).

Media are opaque ``binary`` payload columns with a typed metadata struct —
the lakehouse-native layout for image/audio/video at 100 TB (payload stays
columnar-compressed; metadata prunes without touching bytes).

The decode/feature step runs as ``mapInPandas`` (Arrow-batched, streaming
per-partition — never materializes a partition in driver memory).  The
actual codec is STUBBED (no image/audio libs in this container): the
``fake_decoder`` computes deterministic features from the raw bytes so the
Spark-side plumbing — schema, batch iteration, partition streaming — is
real and oracle-checked end-to-end.  Swap ``fake_decoder`` for a PIL/ffmpeg
call in production.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from airflow_postgres_to_s3_pipeline_spark.catalog import table

ORACLES: dict[str, str] = {}


def _oracle(name: str, sql: str):
    ORACLES[name] = sql


DECODED_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("media_type", StringType()),
        StructField("payload_size", IntegerType()),
        StructField("first_byte", IntegerType()),
        StructField("last_byte", IntegerType()),
    ]
)


def real_decoder(payload: bytes) -> dict:
    """Placeholder for a real media decode (PIL / torchaudio / ffmpeg).

    Deliberately not implemented in this container — see ``fake_decoder``
    for the deterministic stand-in that exercises identical plumbing.
    """
    raise NotImplementedError(
        "media codecs are not available in this environment; "
        "use fake_decoder (deterministic) or install PIL/ffmpeg in prod"
    )


def fake_decoder(payload: bytes) -> dict:
    """Deterministic stand-in decode: byte-level features only."""
    return {
        "payload_size": len(payload),
        "first_byte": payload[0] if payload else -1,
        "last_byte": payload[-1] if payload else -1,
    }


def attach_payload(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Build the multimodal layout: binary payload + typed metadata struct."""
    return df.select(
        "doc_id",
        F.col(text_col).cast("binary").alias("payload"),
        F.struct(
            F.lit("text/plain").alias("mime"),
            F.col("lang").alias("lang"),
            F.col("source").alias("source"),
            F.col("n_chars").alias("n_chars"),
        ).alias("meta"),
    )


def decode_features(payloads: DataFrame) -> DataFrame:
    """Arrow-batched decode over the payload column via mapInPandas.

    Batches stream through the Python worker partition-by-partition; each
    output row carries the decoded features.  This is the exact shape a real
    image-resize / audio-frame-sample job uses.
    """

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = pdf["payload"].map(fake_decoder)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_type": pdf["meta"].map(lambda m: m["mime"]),
                    "payload_size": feats.map(lambda f: f["payload_size"]),
                    "first_byte": feats.map(lambda f: f["first_byte"]),
                    "last_byte": feats.map(lambda f: f["last_byte"]),
                }
            )

    return payloads.mapInPandas(decode, DECODED_SCHEMA)


def multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> binary payload + metadata -> stubbed decode features.

    Oracle-checked: the fake decode features are byte-exact SQL expressions
    (ascii texts, so octet length == char length).
    """
    # Spread the single local parquet file across Python workers; a real
    # corpus arrives pre-split, so this repartition is local-bench-only
    # parallelism, not an extra production shuffle.  Capped at 8 (here and
    # at the three other multimodal sites): each partition is one Arrow
    # Python task with a fixed cost of ~60ms under the engine daemon.  The
    # cap was set when that cost was ~310ms (docs/SCALE.md "Python-worker
    # task start"); moving it needs its own A/B.
    d = table(spark, sf_dir, "documents").repartition(
        min(spark.sparkContext.defaultParallelism, 8)
    )
    return decode_features(attach_payload(d))


_oracle(
    "multimodal_decode",
    """
    SELECT doc_id,
           'text/plain' AS media_type,
           CAST(octet_length(CAST(text AS BLOB)) AS INTEGER) AS payload_size,
           CAST(CASE WHEN LENGTH(text) > 0 THEN ascii(SUBSTRING(text, 1, 1)) ELSE -1 END AS INTEGER) AS first_byte,
           CAST(CASE WHEN LENGTH(text) > 0
                     THEN ascii(SUBSTRING(text, LENGTH(text), 1)) ELSE -1 END AS INTEGER) AS last_byte
    FROM documents
    """,
)


RESIZED_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("orig_bytes", IntegerType()),
        StructField("resized_bytes", IntegerType()),
        StructField("resized_md5", StringType()),
    ]
)


def multimodal_resize(spark: SparkSession, sf_dir: str,
                      target_bytes: int = 128) -> DataFrame:
    """Resize stage stub over binary payloads via mapInPandas.

    A real deployment runs PIL ``Image.resize`` here; the container has no
    image codecs, so the deterministic stand-in truncates the payload to
    ``target_bytes`` and fingerprints the result — identical Arrow batch
    shape, partition streaming, and output schema to a real thumbnailer.
    Oracle-checked byte-exactly (ascii payloads, so the truncation mirrors
    SQL SUBSTRING).
    """
    import hashlib

    def resize(batches):
        for pdf in batches:
            payloads = pdf["payload"]
            resized = payloads.map(lambda b: bytes(b)[:target_bytes])
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "orig_bytes": payloads.map(len),
                    "resized_bytes": resized.map(len),
                    "resized_md5": resized.map(
                        lambda b: hashlib.md5(b).hexdigest()
                    ),
                }
            )

    d = table(spark, sf_dir, "documents").repartition(
        min(spark.sparkContext.defaultParallelism, 8)
    )
    return attach_payload(d).mapInPandas(resize, RESIZED_SCHEMA)


_oracle(
    "multimodal_resize",
    """
    SELECT doc_id,
           CAST(LENGTH(text) AS INTEGER) AS orig_bytes,
           CAST(LEAST(LENGTH(text), 128) AS INTEGER) AS resized_bytes,
           md5(SUBSTRING(text, 1, 128)) AS resized_md5
    FROM documents
    """,
)


def multimodal_frame_sample(spark: SparkSession, sf_dir: str,
                            frame_bytes: int = 64, every: int = 4) -> DataFrame:
    """Frame-sampling over binary payloads: split each payload into
    fixed-size chunks ("frames"), keep every Nth, fingerprint each.

    The video-pipeline shape (decode -> sample frames -> per-frame feature)
    with the codec stubbed to byte-chunking: chunk extraction is a row-local
    ``sequence`` + ``transform`` + ``posexplode`` (rows expand in place, no
    shuffle), so a 100 TB corpus streams through the scan stage.  A real
    deployment swaps the substring for an ffmpeg keyframe call inside
    mapInPandas (see decode_features).
    """
    d = table(spark, sf_dir, "documents")
    payload = F.col("text").cast("binary")
    n_frames = F.ceil(F.length(payload) / F.lit(frame_bytes)).cast("int")
    # Empty payload => n_frames = 0, and sequence(0, -1) would produce a
    # DESCENDING [0, -1] (Spark's sequence walks toward the stop value),
    # emitting a spurious frame_idx=0 row — guard to an empty array.
    frame_idx_range = F.when(
        n_frames > 0, F.sequence(F.lit(0), n_frames - 1)
    ).otherwise(F.array().cast("array<int>"))
    sampled_idx = F.filter(frame_idx_range, lambda i: i % every == 0)
    frames = F.transform(
        sampled_idx,
        lambda i: F.struct(
            i.alias("frame_idx"),
            F.md5(F.substring(payload, i * frame_bytes + 1, frame_bytes)).alias(
                "frame_hash"
            ),
        ),
    )
    return (
        d.select("doc_id", F.explode(frames).alias("f"))
        .select(
            "doc_id",
            F.col("f.frame_idx").alias("frame_idx"),
            F.col("f.frame_hash").alias("frame_hash"),
        )
    )


_oracle(
    "multimodal_frame_sample",
    """
    -- payloads are ascii documents, so VARCHAR substring == byte substring
    WITH frames AS (
        SELECT doc_id, text,
               UNNEST(list_filter(
                   generate_series(0, CAST(CEIL(LENGTH(text) / 64.0)
                                           AS INTEGER) - 1),
                   i -> i % 4 = 0)) AS frame_idx
        FROM documents
    )
    SELECT doc_id,
           CAST(frame_idx AS INTEGER) AS frame_idx,
           md5(substring(text, CAST(frame_idx * 64 + 1 AS INTEGER), 64)) AS frame_hash
    FROM frames
    """,
)


def multimodal_partition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate decoded features per media shard — the downstream shape
    (decode once, aggregate metadata without re-touching payload bytes)."""
    decoded = multimodal_decode(spark, sf_dir)
    return decoded.groupBy("media_type").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("payload_size").cast("long")).alias("total_bytes"),
        F.min("payload_size").alias("min_bytes"),
        F.max("payload_size").alias("max_bytes"),
    )


_oracle(
    "multimodal_partition_stats",
    """
    SELECT 'text/plain' AS media_type,
           COUNT(*) AS n_docs,
           CAST(SUM(octet_length(CAST(text AS BLOB))) AS BIGINT) AS total_bytes,
           CAST(MIN(octet_length(CAST(text AS BLOB))) AS INTEGER) AS min_bytes,
           CAST(MAX(octet_length(CAST(text AS BLOB))) AS INTEGER) AS max_bytes
    FROM documents
    """,
)


AUDIO_FRAME = 32

AUDIO_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("frame_idx", IntegerType()),
        StructField("n_samples", IntegerType()),
        StructField("sum_sq", LongType()),
        StructField("rms", DoubleType()),
    ]
)


def audio_frame_energy(payloads: DataFrame,
                       frame: int = AUDIO_FRAME) -> DataFrame:
    """Windowed RMS energy over the payload interpreted as unsigned 8-bit
    PCM — the audio analog of ``decode_features``: a real deployment swaps
    the np.frombuffer for torchaudio/ffmpeg decode, the Arrow batch shape
    and per-frame output contract stay identical.

    Determinism: per-frame energy is an exact int64 sum of squares;
    rms = sqrt(sum_sq / n) is a single division + IEEE-correctly-rounded
    sqrt, bit-identical on any engine.  Empty payloads emit no frames
    (the sequence-guard rule).
    """
    import numpy as np

    def energies(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_doc, out_idx, out_n, out_sq = [], [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                buf = np.frombuffer(payload or b"", dtype=np.uint8)
                for i in range(0, len(buf), frame):
                    w = buf[i:i + frame].astype(np.int64)
                    out_doc.append(doc_id)
                    out_idx.append(i // frame)
                    out_n.append(len(w))
                    out_sq.append(int((w * w).sum()))
            sq = pd.Series(out_sq, dtype="int64")
            n = pd.Series(out_n, dtype="int64")
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(out_doc, dtype="int64"),
                    "frame_idx": pd.Series(out_idx, dtype="int32"),
                    "n_samples": n.astype("int32"),
                    "sum_sq": sq,
                    "rms": np.sqrt(sq.to_numpy(dtype="float64")
                                   / n.to_numpy(dtype="float64")),
                }
            )

    return payloads.mapInPandas(energies, AUDIO_SCHEMA)


def multimodal_audio_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> binary payload -> per-frame PCM RMS energy (E28 audio
    tier; oracle mirrors the byte math via ascii codepoints)."""
    d = table(spark, sf_dir, "documents").repartition(
        min(spark.sparkContext.defaultParallelism, 8)
    )
    return audio_frame_energy(attach_payload(d))


_oracle(
    "multimodal_audio_energy",
    f"""
    WITH b AS (
        SELECT doc_id, text, LENGTH(text) AS n FROM documents
    ), f AS (
        SELECT doc_id, text, n,
               UNNEST(range(0, (n + {AUDIO_FRAME} - 1) // {AUDIO_FRAME}))
                   AS frame_idx
        FROM b WHERE n > 0
    ), s AS (
        SELECT doc_id, frame_idx,
               list_transform(
                   range(frame_idx * {AUDIO_FRAME} + 1,
                         LEAST(frame_idx * {AUDIO_FRAME} + {AUDIO_FRAME}, n)
                             + 1),
                   i -> ascii(substring(text, CAST(i AS INTEGER), 1))
               ) AS samples
        FROM f
    )
    SELECT doc_id,
           CAST(frame_idx AS INTEGER) AS frame_idx,
           CAST(len(samples) AS INTEGER) AS n_samples,
           CAST(list_sum(list_transform(samples, x -> x * x)) AS BIGINT)
               AS sum_sq,
           sqrt(CAST(list_sum(list_transform(samples, x -> x * x))
                     AS DOUBLE) / len(samples)) AS rms
    FROM s
    """,
)


# ---------------------------------------------------------------------------
# Container-header parsing (r12 verdict task 8): REAL binary layouts —
# PNG signature + IHDR chunk with a genuine CRC-32, and RIFF/WAVE fmt
# chunk — synthesized and parsed from raw bytes with struct/zlib only
# (no codec needed).  This upgrades the E28 stub from byte statistics to
# structured metadata extraction: magic sniffing, big-endian vs
# little-endian field decode, chunk CRC validation, and format-consistency
# checks are all exactly what a production media-ingest pipeline runs
# before it ever decodes a pixel.
# ---------------------------------------------------------------------------

PNG_SIG = b"\x89PNG\r\n\x1a\n"

HEADER_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("container", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("bit_depth", IntegerType()),
        StructField("channels", IntegerType()),
        StructField("sample_rate", IntegerType()),
        StructField("payload_bytes", IntegerType()),
    ]
)


def synth_container(doc_id: int, text: bytes) -> bytes:
    """Deterministically wrap a document in a REAL container layout.

    doc_id % 17 == 0 -> junk bytes (no valid magic); else even doc_ids
    become a spec-correct PNG signature + IHDR chunk (big-endian fields,
    real zlib CRC-32 over chunk type + data), odd doc_ids a RIFF/WAVE
    header (little-endian fmt fields, consistent byte_rate/block_align)
    carrying the first 16 payload bytes as the data chunk.
    """
    import struct
    import zlib

    if doc_id % 17 == 0:
        return b"JUNK" + text[:12]
    if doc_id % 2 == 0:
        width = doc_id % 1917 + 1
        height = doc_id % 1080 + 1
        depth = 16 if doc_id % 3 == 0 else 8
        chunk = b"IHDR" + struct.pack(">II5B", width, height, depth, 6, 0, 0, 0)
        return (
            PNG_SIG
            + struct.pack(">I", 13)
            + chunk
            + struct.pack(">I", zlib.crc32(chunk))
        )
    channels = (doc_id // 2) % 2 + 1
    sample_rate = 8000 + (doc_id % 5) * 4000
    bits = 16
    data = text[:16]
    return (
        b"RIFF"
        + struct.pack("<I", 36 + len(data))
        + b"WAVEfmt "
        + struct.pack(
            "<IHHIIHH",
            16,
            1,
            channels,
            sample_rate,
            sample_rate * channels * (bits // 8),
            channels * (bits // 8),
            bits,
        )
        + b"data"
        + struct.pack("<I", len(data))
        + data
    )


def parse_media_header(payload: bytes) -> dict:
    """Structural header parse: magic sniff -> per-format field decode.

    PNG: validates the 8-byte signature, IHDR chunk type/length, AND the
    chunk's CRC-32 (a flipped bit anywhere in the header demotes the row
    to 'unknown' — the corrupt-input path a real ingest must handle).
    WAV: validates RIFF/WAVE magic, fmt chunk tag, PCM audio format, and
    byte_rate == sample_rate * channels * bits/8 consistency.
    Anything failing a check parses as container='unknown' with NULL
    fields — never an exception, so one corrupt object cannot kill a
    100 TB scan stage.
    """
    import struct
    import zlib

    out = {
        "container": "unknown",
        "width": None,
        "height": None,
        "bit_depth": None,
        "channels": None,
        "sample_rate": None,
        "payload_bytes": len(payload),
    }
    if payload[:8] == PNG_SIG and len(payload) >= 33:
        (length,) = struct.unpack_from(">I", payload, 8)
        chunk = payload[12:16 + length]
        if chunk[:4] == b"IHDR" and length == 13:
            (crc,) = struct.unpack_from(">I", payload, 16 + length)
            if zlib.crc32(chunk) == crc:
                width, height, depth = struct.unpack_from(">IIB", payload, 16)
                out.update(
                    container="png", width=width, height=height,
                    bit_depth=depth,
                )
    elif (payload[:4] == b"RIFF" and payload[8:12] == b"WAVE"
            and len(payload) >= 44 and payload[12:16] == b"fmt "):
        fmt_len, audio_fmt, channels, sample_rate, byte_rate, _align, bits = (
            struct.unpack_from("<IHHIIHH", payload, 16)
        )
        if (fmt_len == 16 and audio_fmt == 1 and bits % 8 == 0
                and byte_rate == sample_rate * channels * (bits // 8)):
            out.update(
                container="wav", channels=channels,
                sample_rate=sample_rate, bit_depth=bits,
            )
    return out


def multimodal_header_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> real container bytes (synth) -> structural header parse.

    Both stages run in ONE mapInPandas pass (row-local, shuffle-free: the
    scan stage streams Arrow batches through the Python worker and emits
    thin metadata rows — payload bytes never shuffle).  The oracle
    recomputes the expected metadata directly from doc_id/n_chars, so any
    endianness slip, offset error, or CRC mishandling in the parser (or a
    malformed layout from the synthesizer) diverges from DuckDB.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                payload = synth_container(
                    int(doc_id), (text or "").encode("utf-8")
                )
                rec = parse_media_header(payload)
                rec["doc_id"] = doc_id
                rows.append(rec)
            out = pd.DataFrame(rows)
            yield pd.DataFrame(
                {
                    "doc_id": out["doc_id"].astype("int64"),
                    "container": out["container"],
                    "width": out["width"].astype("Int32"),
                    "height": out["height"].astype("Int32"),
                    "bit_depth": out["bit_depth"].astype("Int32"),
                    "channels": out["channels"].astype("Int32"),
                    "sample_rate": out["sample_rate"].astype("Int32"),
                    "payload_bytes": out["payload_bytes"].astype("Int32"),
                }
            )

    d = (
        table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(min(spark.sparkContext.defaultParallelism, 8))
    )
    return d.mapInPandas(run, HEADER_SCHEMA)


_oracle(
    "multimodal_header_parse",
    """
    -- expected metadata recomputed from the synthesis rule: the Spark
    -- side must round-trip it through REAL container bytes (pack+parse)
    SELECT doc_id,
           CASE WHEN doc_id % 17 = 0 THEN 'unknown'
                WHEN doc_id % 2 = 0 THEN 'png'
                ELSE 'wav' END AS container,
           CAST(CASE WHEN doc_id % 17 <> 0 AND doc_id % 2 = 0
                     THEN doc_id % 1917 + 1 END AS INTEGER) AS width,
           CAST(CASE WHEN doc_id % 17 <> 0 AND doc_id % 2 = 0
                     THEN doc_id % 1080 + 1 END AS INTEGER) AS height,
           CAST(CASE WHEN doc_id % 17 = 0 THEN NULL
                     WHEN doc_id % 2 <> 0 THEN 16
                     WHEN doc_id % 3 = 0 THEN 16
                     ELSE 8 END AS INTEGER) AS bit_depth,
           CAST(CASE WHEN doc_id % 17 <> 0 AND doc_id % 2 <> 0
                     THEN (doc_id // 2) % 2 + 1 END AS INTEGER) AS channels,
           CAST(CASE WHEN doc_id % 17 <> 0 AND doc_id % 2 <> 0
                     THEN 8000 + (doc_id % 5) * 4000 END AS INTEGER)
               AS sample_rate,
           CAST(CASE WHEN doc_id % 17 = 0
                          THEN 4 + LEAST(octet_length(CAST(text AS BLOB)), 12)
                     WHEN doc_id % 2 = 0 THEN 33
                     ELSE 44 + LEAST(octet_length(CAST(text AS BLOB)), 16)
                END AS INTEGER) AS payload_bytes
    FROM documents
    """,
)


# Tile-fingerprint near-dup: 8 x 16-byte tiles cover the leading 128 bytes
# (the synthetic payload size); MIN_MATCH=2 separates near-dups from
# single-tile coincidences.  A hot (tile_idx, hash) bucket — e.g. a shared
# letterbox/watermark tile at corpus scale — is the skew case; buckets above
# MAX_TILE_BUCKET are dropped (their pairs surface via their OTHER tiles),
# the same stop-key bound entity.MAX_BLOCK applies to ER blocking.
# MEASURED (docs/SCALE.md): on a low-entropy 2M-doc corpus cap=200 is 3x
# faster than cap=10,000 (22.2s vs 63.9s warm) — tiles shared by hundreds
# of payloads are boilerplate, not near-dup signal; tune the cap DOWN on
# repetitive corpora.
TILE_BYTES = 16
N_TILES = 8
MIN_MATCH = 2
MAX_TILE_BUCKET = 10_000


def multimodal_tile_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Visual near-duplicate pairs via per-tile fingerprint banding — the
    image-dedup shape (PDQ/pHash tile banding) over opaque binary payloads.

    A real pipeline decodes pixels and fingerprints spatial tiles
    (resize -> grid -> per-tile perceptual hash); the codec is stubbed to
    byte-range tiles (see fake_decoder), which keeps every downstream
    stage — banding, candidate join, match-count verification — the real
    distributed shape, oracle-checked end-to-end:

    1. Row-local: explode each payload into (tile_idx, md5(tile)) thin
       rows, skipping tiles past the payload end (an empty-tile hash would
       "match" every other short image at that index).
    2. Candidates: equi-join on (tile_idx, tile_hash) with doc_a < doc_b —
       pigeonhole banding, never an all-pairs product.  Bucket sizes are
       capped (MAX_TILE_BUCKET) to bound the worst-case hot tile.
    3. Verify: one groupBy over candidate pairs counts matching tiles;
       pairs with >= MIN_MATCH matches survive.  The aggregate doubles as
       the pair-dedup, so the chain is two shuffles total (band join +
       pair count) regardless of corpus size.
    """
    payload = F.col("text").cast("binary")
    d = table(spark, sf_dir, "documents").select("doc_id", payload.alias("p"))
    idx = F.filter(
        F.sequence(F.lit(0), F.lit(N_TILES - 1)),
        lambda i: i * TILE_BYTES < F.length(F.col("p")),
    )
    tiles = d.select(
        "doc_id",
        F.explode(
            F.transform(
                idx,
                lambda i: F.struct(
                    i.alias("tile_idx"),
                    F.md5(
                        F.substring(
                            F.col("p"), i * TILE_BYTES + 1, TILE_BYTES
                        )
                    ).alias("tile_hash"),
                ),
            )
        ).alias("t"),
    ).select("doc_id", "t.tile_idx", "t.tile_hash")
    sizes = tiles.groupBy("tile_idx", "tile_hash").agg(
        F.count(F.lit(1)).alias("bsz")
    )
    capped = (
        tiles.join(sizes, ["tile_idx", "tile_hash"])
        .filter(F.col("bsz") <= MAX_TILE_BUCKET)
        .drop("bsz")
    )
    a = capped.select(
        "tile_idx", "tile_hash", F.col("doc_id").alias("doc_a")
    )
    b = capped.select(
        "tile_idx", "tile_hash", F.col("doc_id").alias("doc_b")
    )
    return (
        a.join(b, ["tile_idx", "tile_hash"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_match_tiles"))
        .filter(F.col("n_match_tiles") >= MIN_MATCH)
    )


_oracle(
    "multimodal_tile_near_dup",
    f"""
    -- ascii payloads: VARCHAR substring == byte substring
    WITH tiles AS (
        SELECT doc_id, i AS tile_idx,
               md5(substring(text, i*{TILE_BYTES} + 1, {TILE_BYTES}))
                   AS tile_hash
        FROM documents, UNNEST(generate_series(0, {N_TILES - 1})) AS t(i)
        WHERE i*{TILE_BYTES} < LENGTH(text)
    ), capped AS (
        SELECT doc_id, tile_idx, tile_hash
        FROM (
            SELECT *, COUNT(*) OVER (PARTITION BY tile_idx, tile_hash) AS bsz
            FROM tiles
        ) WHERE bsz <= {MAX_TILE_BUCKET}
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           COUNT(*) AS n_match_tiles
    FROM capped a JOIN capped b
      ON a.tile_idx = b.tile_idx AND a.tile_hash = b.tile_hash
     AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    HAVING COUNT(*) >= {MIN_MATCH}
    """,
)
