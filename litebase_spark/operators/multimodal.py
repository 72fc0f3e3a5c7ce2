"""Multimodal column convention + processing plumbing (north-star op).

Convention: media travels as an opaque ``binary`` column plus a typed
metadata struct (modality, mime, width/height/duration, byte size) — the
BLOB storage class is the reference's only media answer
(pkg/sqlite3/constants.go:52 SQLITE_BLOB); we add the typed envelope and
the distributed processing shape.

The decode/feature-extract stage runs as Arrow-batched ``mapInPandas``
(the only place Python touches the data; everything around it is JVM).
The image/audio codecs are NOT in this container, so the decoder is a
deterministic stub behind an import-try (SURVEY north-star instruction);
the Spark-side plumbing — schema, batch shape, partitioning — is real and
tested.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from litebase_spark.catalog import load, query

MEDIA_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("media", BinaryType()),
        StructField(
            "meta",
            StructType(
                [
                    StructField("modality", StringType()),
                    StructField("mime", StringType()),
                    StructField("n_bytes", LongType()),
                    StructField("source", StringType()),
                ]
            ),
        ),
    ]
)

FEATURE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("modality", StringType()),
        StructField("n_bytes", LongType()),
        StructField("feat_mean", DoubleType()),
        StructField("feat_entropy_proxy", DoubleType()),
    ]
)


def attach_media(docs: DataFrame) -> DataFrame:
    """Build the multimodal frame from documents: utf-8 bytes stand in for
    media payloads (fixtures carry no real media), with the typed metadata
    envelope the convention requires."""
    media = F.encode("text", "utf-8")
    return docs.select(
        "doc_id",
        media.alias("media"),
        F.struct(
            F.lit("text").alias("modality"),
            F.lit("text/plain;charset=utf-8").alias("mime"),
            F.octet_length(media).cast("long").alias("n_bytes"),
            F.col("source").alias("source"),
        ).alias("meta"),
    )


# -- pluggable decoder registry ----------------------------------------------
#
# Decoders are plain callables bytes -> bytes keyed by modality. The
# deterministic defaults ship here; a deployment with real codecs
# registers its own (or relies on the PIL auto-probe below). The stage
# functions snapshot the registry into their mapInPandas closures, so a
# driver-side register_decoder() call serializes with the task and is
# visible on every executor's Python worker — module-level lookups
# would re-import this module worker-side and silently drop runtime
# registrations.

_DECODERS: dict = {"text": lambda payload: payload}


def register_decoder(modality: str, fn) -> None:
    """Install a bytes->bytes decoder for a modality (production hook)."""
    _DECODERS[modality] = fn


def _pil_image_decoder():
    """PIL-backed image decoder (bytes -> raw RGB bytes), or None when
    PIL is not importable (this container). Auto-registered on first
    'image' lookup so the operator is production-shaped without making
    PIL a dependency."""
    try:
        import io

        from PIL import Image
    except ImportError:
        return None

    def decode(payload: bytes) -> bytes:
        return Image.open(io.BytesIO(payload)).convert("RGB").tobytes()

    return decode


def get_decoder(modality: str):
    """Resolve a decoder or raise NotImplementedError (the honest stub
    contract for codecs absent in this environment)."""
    fn = _DECODERS.get(modality)
    if fn is not None:
        return fn
    if modality == "image":
        fn = _pil_image_decoder()
        if fn is not None:
            _DECODERS["image"] = fn
            return fn
    raise NotImplementedError(
        f"decoder for modality {modality!r} requires media codecs not "
        "present in this environment (register_decoder() installs one)"
    )


def _decode_media(payload: bytes, modality: str, decoders: dict) -> bytes:
    fn = decoders.get(modality)
    if fn is None:
        raise NotImplementedError(
            f"decoder for modality {modality!r} requires media codecs "
            "not present in this environment (register_decoder() "
            "installs one)"
        )
    return fn(payload)


def _decoder_snapshot() -> dict:
    """Registry snapshot for closure capture, with the PIL auto-probe
    resolved driver-side (the probe itself must not run per-batch)."""
    snap = dict(_DECODERS)
    if "image" not in snap:
        pil = _pil_image_decoder()
        if pil is not None:
            snap["image"] = pil
    return snap


def extract_features(media_df: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction over the media column.

    mapInPandas keeps the binary payloads inside executor-local Arrow
    batches — no collect, no per-row Python overhead. Deterministic
    byte-statistics stand in for model features."""

    decoders = _decoder_snapshot()

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = [
                _decode_media(m, meta["modality"], decoders)
                for m, meta in zip(pdf["media"], pdf["meta"])
            ]
            means, entropies = [], []
            for p in payloads:
                if len(p) == 0:
                    means.append(0.0)
                    entropies.append(0.0)
                    continue
                # exact int sum then ONE double division — bit-identical to
                # the oracle's CAST(SUM(byte) AS DOUBLE) / n
                means.append(float(sum(p)) / len(p))
                # distinct-byte ratio as a cheap entropy proxy (/256 is a
                # power of two: exact in both engines)
                entropies.append(len(set(p)) / 256.0)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "modality": [m["modality"] for m in pdf["meta"]],
                    "n_bytes": [m["n_bytes"] for m in pdf["meta"]],
                    "feat_mean": means,
                    "feat_entropy_proxy": entropies,
                }
            )

    return media_df.mapInPandas(compute, schema=FEATURE_SCHEMA)


RESIZED_SCHEMA = StructType(
    MEDIA_SCHEMA.fields[:2]
    + [
        StructField(
            "meta",
            StructType(
                MEDIA_SCHEMA["meta"].dataType.fields  # type: ignore[union-attr]
                + [
                    StructField("target_w", LongType()),
                    StructField("target_h", LongType()),
                ]
            ),
        )
    ]
)

FRAME_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("frame_index", LongType()),
        StructField("frame", BinaryType()),
        StructField("n_bytes", LongType()),
    ]
)


def _pil_resizer(width: int, height: int):
    """PIL-backed image resize (encoded image bytes -> raw RGB bytes at
    width x height, NEAREST for determinism), or None when PIL is not
    importable."""
    try:
        import io

        from PIL import Image
    except ImportError:
        return None

    def resize(payload: bytes) -> bytes:
        img = Image.open(io.BytesIO(payload)).convert("RGB")
        return img.resize((width, height), Image.NEAREST).tobytes()

    return resize


def resize_media(media_df: DataFrame, width: int, height: int) -> DataFrame:
    """Resize stage: 1:1 Arrow-batched transform. With PIL importable,
    'image' payloads take the REAL path: decode + NEAREST resample to
    width x height raw RGB (3 bytes/pixel). Without codecs (this
    container) the transform is a DETERMINISTIC FAKE (truncate/cycle
    payload to w*h bytes) behind the same batch shape — schema,
    partitioning, and the 1-in-1-out mapInPandas contract are the real,
    tested plumbing either way."""

    decoders = _decoder_snapshot()
    pil_resize = _pil_resizer(width, height)  # driver-side probe

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        target = width * height
        for pdf in batches:
            resized, metas = [], []
            for payload, meta in zip(pdf["media"], pdf["meta"]):
                if meta["modality"] == "image" and pil_resize is not None:
                    out = pil_resize(payload)
                else:
                    body = _decode_media(
                        payload, meta["modality"], decoders
                    )
                    out = (body * (target // max(len(body), 1) + 1))[
                        :target
                    ]
                resized.append(out)
                metas.append(
                    {
                        **meta,
                        "n_bytes": len(out),
                        "target_w": width,
                        "target_h": height,
                    }
                )
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "media": resized, "meta": metas}
            )

    return media_df.mapInPandas(compute, schema=RESIZED_SCHEMA)


def sample_frames(media_df: DataFrame, n_frames: int = 4) -> DataFrame:
    """Frame-sampling stage: 1:N Arrow-batched explode. Real deployments
    pull keyframes with pyav; here each payload is split into n_frames
    equal byte slices (deterministic fake decode), demonstrating the
    row-expanding mapInPandas shape a video pipeline needs. Output is
    partition-local — no shuffle until a downstream op asks for one."""

    decoders = _decoder_snapshot()

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, frames = [], [], []
            for doc_id, payload, meta in zip(
                pdf["doc_id"], pdf["media"], pdf["meta"]
            ):
                body = _decode_media(payload, meta["modality"], decoders)
                step = max(len(body) // n_frames, 1)
                for i in range(n_frames):
                    ids.append(doc_id)
                    idxs.append(i)
                    frames.append(body[i * step : (i + 1) * step])
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "frame_index": idxs,
                    "frame": frames,
                    "n_bytes": [len(x) for x in frames],
                }
            )

    return media_df.mapInPandas(compute, schema=FRAME_SCHEMA)


@query(
    "multimodal_ingest",
    oracle="""
    SELECT source AS media_source,
           COUNT(*) AS n_items,
           CAST(SUM(octet_length(encode(text))) AS BIGINT) AS total_bytes,
           CAST(MAX(octet_length(encode(text))) AS BIGINT) AS max_bytes
    FROM documents
    GROUP BY source
    """,
    description="Multimodal ingest accounting: binary payload + typed "
    "metadata struct, aggregated per source. Verifies the envelope "
    "(byte sizes) against the oracle.",
    tags=("multimodal",),
)
def multimodal_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = attach_media(load(spark, sf_dir, "documents"))
    return m.groupBy(F.col("meta.source").alias("media_source")).agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum("meta.n_bytes").alias("total_bytes"),
        F.max("meta.n_bytes").alias("max_bytes"),
    )


@query(
    "multimodal_resize",
    oracle="""
    SELECT doc_id,
           CAST(1024 AS BIGINT) AS n_bytes,
           CAST(32 AS BIGINT) AS target_w,
           CAST(32 AS BIGINT) AS target_h,
           octet_length(encode(text)) > 0 AS had_payload
    FROM documents
    """,
    description="1:1 media resize stage over mapInPandas (decode is a "
    "deterministic fake — codecs absent in this container; the Arrow "
    "batch shape, schema evolution to target_w/target_h metadata, and "
    "1-in-1-out contract are the real plumbing). Oracle checks the "
    "envelope: every row survives with the target byte budget.",
    tags=("multimodal", "pandas_udf"),
)
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = attach_media(load(spark, sf_dir, "documents"))
    out = resize_media(m, width=32, height=32)
    return out.select(
        "doc_id",
        F.col("meta.n_bytes").alias("n_bytes"),
        F.col("meta.target_w").alias("target_w"),
        F.col("meta.target_h").alias("target_h"),
        (F.length("media") > 0).alias("had_payload"),
    )


@query(
    "multimodal_features",
    # The pandas-UDF byte statistics ARE replayable in SQL: hex() the
    # payload and parse two hex chars per byte (fixtures guarantee
    # non-empty text, so the UNNEST never drops a doc). This promoted the
    # last rows-only query to oracle-exact.
    oracle="""
    WITH h AS (
      SELECT doc_id, hex(encode(text)) AS hx,
             octet_length(encode(text)) AS n
      FROM documents
    ),
    bytes AS (
      SELECT doc_id, n,
        (strpos('0123456789ABCDEF', substr(hx, j*2+1, 1)) - 1) * 16 +
        (strpos('0123456789ABCDEF', substr(hx, j*2+2, 1)) - 1) AS byte
      FROM h, UNNEST(range(0, n)) AS t(j)
    )
    SELECT doc_id, 'text' AS modality, CAST(n AS BIGINT) AS n_bytes,
           CAST(SUM(byte) AS DOUBLE) / n AS feat_mean,
           CAST(COUNT(DISTINCT byte) AS DOUBLE) / 256 AS feat_entropy_proxy
    FROM bytes GROUP BY doc_id, n
    """,
    description="mapInPandas feature extraction over binary media "
    "(Arrow-batched; decode stubbed for non-text modalities — codecs "
    "absent in this container). Per-item byte-statistics features, "
    "oracle-replayed byte-by-byte from the hex encoding.",
    tags=("multimodal", "pandas_udf"),
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = attach_media(load(spark, sf_dir, "documents"))
    # set-semantic result (driver compare sorts rows) — no global sort
    return extract_features(m)


@query(
    "multimodal_frame_sample",
    oracle="""
    SELECT doc_id, u.frame_index,
           CAST(octet_length(encode(text)) // 4 AS BIGINT) AS n_bytes
    FROM documents, UNNEST([0, 1, 2, 3]) AS u(frame_index)
    WHERE octet_length(encode(text)) >= 4
    """,
    description="1:N frame sampling over binary media via mapInPandas "
    "(video keyframe-pull shape; decode is a deterministic fake — codecs "
    "absent). Oracle checks the expansion arity and per-frame byte "
    "counts, which are deterministic functions of payload size.",
    tags=("multimodal", "pandas_udf"),
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = attach_media(load(spark, sf_dir, "documents"))
    frames = sample_frames(m, n_frames=4)
    # no final ORDER BY: set-semantic result (driver compare sorts rows);
    # a global sort of the 4x-expanded frames is a wasted shuffle.
    return frames.filter(F.col("n_bytes") > 0).select(
        "doc_id", "frame_index", "n_bytes"
    )


# -- perceptual-hash dedup ---------------------------------------------------

PHASH_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_bytes", LongType()),
        StructField("phash", LongType()),
    ]
)


def perceptual_hash(media_df: DataFrame) -> DataFrame:
    """64-bit average-hash over the DECODED payload, computed inside the
    same Arrow decode stage the other media ops use (decode -> hash in
    one Python pass; nothing but (doc_id, 8-byte hash) leaves the
    executor — at 100 TB of images the shuffle carries 16 bytes/item
    regardless of media size).

    aHash recipe (deterministic, engine-replayable): split the decoded
    byte stream into 64 contiguous chunks (chunk(i) = i*64//n), bit j =
    1 iff chunk j's mean exceeds the global mean, compared exactly via
    integer cross-multiplication (chunk_sum * n > total_sum * chunk_len
    — no floats, so the DuckDB oracle reproduces it bit-for-bit from
    hex(payload)). Payloads under 64 bytes are dropped (no meaningful
    regions). Real pHash swaps the decoder stub for PIL + DCT; the
    banding/verify relational shape downstream is unchanged.
    """
    import numpy as np

    decoders = _decoder_snapshot()

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, sizes, hashes = [], [], []
            for doc_id, payload, meta in zip(
                pdf["doc_id"], pdf["media"], pdf["meta"]
            ):
                data = _decode_media(
                    bytes(payload), meta["modality"], decoders
                )
                n = len(data)
                if n < 64:
                    continue
                arr = np.frombuffer(data, dtype=np.uint8).astype(np.int64)
                total = int(arr.sum())
                # byte i -> chunk i*64//n (the oracle's assignment), so
                # chunk j starts at ceil(j*n/64); n >= 64 guarantees
                # every chunk is non-empty
                bounds = [(j * n + 63) // 64 for j in range(64)]
                sums = np.add.reduceat(arr, bounds)
                lens = np.diff(bounds + [n])
                h = 0
                for j in range(64):
                    h <<= 1
                    if int(sums[j]) * n > total * int(lens[j]):
                        h |= 1
                if h >= 1 << 63:  # two's-complement into int64
                    h -= 1 << 64
                ids.append(doc_id)
                sizes.append(n)
                hashes.append(h)
            yield pd.DataFrame(
                {"doc_id": ids, "n_bytes": sizes, "phash": hashes}
            )

    return media_df.mapInPandas(compute, PHASH_SCHEMA)


# DuckDB replay of the aHash, shared by the oracle below: bytes from
# hex(), chunk sums grouped by i*64//n, bit string assembled in chunk
# order (bit j of the Spark long = string position j+1).
_PHASH_BITS_SQL = """
    h AS (
      SELECT doc_id, hex(encode(text)) AS hx,
             octet_length(encode(text)) AS n
      FROM documents
      WHERE octet_length(encode(text)) >= 64
    ),
    bytes AS (
      SELECT doc_id, n, (j * 64) // n AS chunk,
        (strpos('0123456789ABCDEF', substr(hx, j*2+1, 1)) - 1) * 16 +
        (strpos('0123456789ABCDEF', substr(hx, j*2+2, 1)) - 1) AS byte
      FROM h, UNNEST(range(0, n)) AS t(j)
    ),
    ch AS (
      SELECT doc_id, n, chunk,
             SUM(byte) AS csum, COUNT(*) AS clen
      FROM bytes GROUP BY doc_id, n, chunk
    ),
    tot AS (
      SELECT doc_id, SUM(csum) AS total FROM ch GROUP BY doc_id
    ),
    bits AS (
      SELECT c.doc_id,
             string_agg(
               CASE WHEN c.csum * c.n > t.total * c.clen
                    THEN '1' ELSE '0' END, '' ORDER BY c.chunk) AS b
      FROM ch c JOIN tot t ON c.doc_id = t.doc_id
      GROUP BY c.doc_id
    )
"""


@query(
    "multimodal_phash_dedup",
    oracle=f"""
    WITH {_PHASH_BITS_SQL},
    bands AS (
      SELECT doc_id, b, k AS band_idx, substr(b, k*16 + 1, 16) AS band
      FROM bits, UNNEST([0, 1, 2, 3]) AS u(k)
    ),
    cand AS (
      SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
             x.b AS ba, y.b AS bb
      FROM bands x JOIN bands y
        ON x.band_idx = y.band_idx AND x.band = y.band
       AND x.doc_id < y.doc_id
    )
    SELECT doc_a, doc_b,
           CAST(hamming(ba, bb) AS BIGINT) AS hamming_dist
    FROM cand
    WHERE hamming(ba, bb) <= 6
    """,
    description="Near-duplicate MEDIA detection: 64-bit perceptual hash "
    "(aHash over the decoded byte stream — integer-exact, so the "
    "DuckDB oracle replays it bit-for-bit from hex(payload)) computed "
    "inside the Arrow decode stage, then Hamming-LSH banding: 4 bands "
    "of 16 bits, candidates must collide in >=1 band (a pair within "
    "Hamming distance 6 of 64 bits escapes all 4 bands only if its "
    "differing bits spread 2-2-1-1+, so recall on near-dups is high "
    "and NOTHING is all-pairs), verify = bit_count(XOR) on the two "
    "longs, keep pairs <= 6. The image-pipeline shape (CLIP-era corpus "
    "dedup runs exactly this with a DCT pHash): shuffle carries 16 "
    "bytes per item, candidate work is bounded by band-bucket "
    "occupancy, the verify is one JVM instruction per pair.",
    tags=("multimodal", "dedup", "pandas_udf"),
)
def multimodal_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = attach_media(load(spark, sf_dir, "documents"))
    # Materialize the (doc_id, phash) table ONCE: both sides of the
    # band self-join consume it, and without the barrier the whole
    # Arrow decode+hash stage is inlined into EACH side (2 MapInPandas
    # nodes, 2 full media decodes per execution — history/plans/r13/
    # multimodal_phash_dedup_before.txt). 16 bytes/item, the
    # fingerprint table every media-dedup deployment persists anyway
    # (same convention as similarity.py's banded sketches).
    ph = (
        perceptual_hash(m)
        .select("doc_id", "phash")
        .localCheckpoint(eager=True)
    )
    # 4 bands of 16 bits; band k = string positions [16k+1, 16k+16] =
    # long bits 63-16k .. 48-16k (MSB-first assembly above)
    bands = ph.select(
        "doc_id",
        "phash",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(k).alias("band_idx"),
                    F.expr(
                        f"shiftrightunsigned(phash, {48 - 16 * k})"
                        " & 65535"
                    ).alias("band"),
                )
                for k in range(4)
            ])
        ).alias("e"),
    ).select("doc_id", "phash", "e.band_idx", "e.band")
    a = bands.select(
        F.col("doc_id").alias("doc_a"),
        F.col("phash").alias("ha"),
        "band_idx",
        "band",
    )
    b = bands.select(
        F.col("doc_id").alias("doc_b"),
        F.col("phash").alias("hb"),
        "band_idx",
        "band",
    )
    cand = (
        a.join(b, ["band_idx", "band"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "ha", "hb")
        .distinct()
    )
    return cand.select(
        "doc_a",
        "doc_b",
        F.expr("bit_count(ha ^ hb)").cast("long").alias("hamming_dist"),
    ).filter(F.col("hamming_dist") <= 6)


# -- audio: windowed PCM energy ----------------------------------------------

_PCM_WIN = 256  # samples per analysis window

PCM_ENERGY_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("window_idx", LongType()),
        StructField("energy", LongType()),
        StructField("peak", LongType()),
    ]
)


def pcm_window_energy(media_df: DataFrame) -> DataFrame:
    """Windowed audio energy over the DECODED payload: the byte stream
    is interpreted as int8 PCM samples (the deterministic stand-in for
    a real codec — swap the registry decoder for ffmpeg/soundfile and
    the relational shape below is unchanged), split into complete
    256-sample windows, and each window reports sum-of-squares energy
    plus peak |amplitude| — the VAD / silence-trim / loudness-normalize
    front end of an audio training pipeline. All integer arithmetic
    (int8^2 * 256 < 2^23), so the DuckDB oracle replays it exactly from
    hex(payload). Per item only O(windows) 32-byte rows leave the
    executor, never samples."""
    import numpy as np

    decoders = _decoder_snapshot()

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, widx, energy, peak = [], [], [], []
            for doc_id, payload, meta in zip(
                pdf["doc_id"], pdf["media"], pdf["meta"]
            ):
                data = _decode_media(
                    bytes(payload), meta["modality"], decoders
                )
                n_win = len(data) // _PCM_WIN
                if n_win == 0:
                    continue
                pcm = (
                    np.frombuffer(data, dtype=np.uint8)[: n_win * _PCM_WIN]
                    .astype(np.int64)
                )
                pcm = np.where(pcm > 127, pcm - 256, pcm)  # int8 reinterpret
                pcm = pcm.reshape(n_win, _PCM_WIN)
                e = (pcm * pcm).sum(axis=1)
                p = np.abs(pcm).max(axis=1)
                ids.extend([doc_id] * n_win)
                widx.extend(range(n_win))
                energy.extend(int(v) for v in e)
                peak.extend(int(v) for v in p)
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "window_idx": widx,
                    "energy": energy,
                    "peak": peak,
                }
            )

    return media_df.mapInPandas(compute, PCM_ENERGY_SCHEMA)


@query(
    "multimodal_audio_energy",
    oracle=f"""
    WITH h AS (
      SELECT doc_id, hex(encode(text)) AS hx,
             octet_length(encode(text)) AS n
      FROM documents
      WHERE octet_length(encode(text)) >= {_PCM_WIN}
    ),
    samples AS (
      SELECT doc_id, j // {_PCM_WIN} AS window_idx,
        CASE WHEN b > 127 THEN b - 256 ELSE b END AS s
      FROM (
        SELECT doc_id, j,
          (strpos('0123456789ABCDEF', substr(hx, j*2+1, 1)) - 1) * 16 +
          (strpos('0123456789ABCDEF', substr(hx, j*2+2, 1)) - 1) AS b
        FROM h, UNNEST(range(0, (n // {_PCM_WIN}) * {_PCM_WIN})) AS t(j))
    )
    SELECT doc_id, window_idx,
           CAST(SUM(s * s) AS BIGINT) AS energy,
           CAST(MAX(ABS(s)) AS BIGINT) AS peak
    FROM samples GROUP BY doc_id, window_idx
    """,
    description="Audio-pipeline front end: decoded payload as int8 PCM, "
    "complete 256-sample windows, per-window sum-of-squares energy + "
    "peak amplitude (the VAD/silence-trim/loudness shape) — computed "
    "inside the Arrow decode stage (mapInPandas), integer-exact, so "
    "the DuckDB oracle replays byte-for-byte from hex(payload). The "
    "shuffle carries O(windows) 32-byte rows per item, never raw "
    "samples; a real deployment swaps the registry decoder for the "
    "codec and keeps this exact plan.",
    tags=("multimodal", "pandas_udf"),
)
def multimodal_audio_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = attach_media(load(spark, sf_dir, "documents"))
    return pcm_window_energy(m)


# ---------------------------------------------------------------------------
# Frame-difference scene cuts (round 8)
# ---------------------------------------------------------------------------

_FRAME_BYTES = 64  # one 8x8 grayscale frame per 64 decoded bytes
_CUT_SAD = 1024  # scene-cut threshold on the inter-frame SAD

FRAME_DIFF_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("frame_idx", LongType()),
        StructField("sad", LongType()),
        StructField("is_cut", LongType()),
    ]
)


def frame_sad(media_df: DataFrame) -> DataFrame:
    """Inter-frame sum-of-absolute-differences over the DECODED payload:
    bytes are interpreted as consecutive 8x8 uint8 grayscale frames (the
    deterministic stand-in for a real video decode — swap the registry
    decoder for ffmpeg frame extraction and the relational shape is
    unchanged) and each frame reports its SAD vs the previous frame plus
    a threshold scene-cut flag — the keyframe-selection / shot-boundary
    front end of a video training pipeline. All integer arithmetic
    (|d| <= 255 * 64 per frame), so the DuckDB oracle replays it exactly
    from hex(payload). Per item only O(frames) 32-byte rows leave the
    executor, never pixels."""
    import numpy as np

    decoders = _decoder_snapshot()

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, fidx, sads = [], [], []
            for doc_id, payload, meta in zip(
                pdf["doc_id"], pdf["media"], pdf["meta"]
            ):
                data = _decode_media(
                    bytes(payload), meta["modality"], decoders
                )
                nf = len(data) // _FRAME_BYTES
                if nf < 2:
                    continue
                arr = (
                    np.frombuffer(data, dtype=np.uint8)[
                        : nf * _FRAME_BYTES
                    ]
                    .astype(np.int64)
                    .reshape(nf, _FRAME_BYTES)
                )
                sad = np.abs(arr[1:] - arr[:-1]).sum(axis=1)
                ids.extend([doc_id] * (nf - 1))
                fidx.extend(range(1, nf))
                sads.extend(int(v) for v in sad)
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "frame_idx": fidx,
                    "sad": sads,
                    "is_cut": [1 if v > _CUT_SAD else 0 for v in sads],
                }
            )

    return media_df.mapInPandas(compute, FRAME_DIFF_SCHEMA)


@query(
    "multimodal_frame_diff",
    oracle=f"""
    WITH h AS (
      SELECT doc_id, hex(encode(text)) AS hx,
             octet_length(encode(text)) AS n
      FROM documents
      WHERE octet_length(encode(text)) >= {2 * _FRAME_BYTES}
    ),
    samples AS (
      SELECT doc_id, j,
        (strpos('0123456789ABCDEF', substr(hx, j*2+1, 1)) - 1) * 16 +
        (strpos('0123456789ABCDEF', substr(hx, j*2+2, 1)) - 1) AS b
      FROM h, UNNEST(range(0, (n // {_FRAME_BYTES}) * {_FRAME_BYTES}))
        AS t(j)
    ),
    diffs AS (
      SELECT doc_id, j // {_FRAME_BYTES} AS frame_idx,
             ABS(b - LAG(b, {_FRAME_BYTES}) OVER (
               PARTITION BY doc_id ORDER BY j)) AS d
      FROM samples
    )
    SELECT doc_id, frame_idx,
           CAST(SUM(d) AS BIGINT) AS sad,
           CAST(CASE WHEN SUM(d) > {_CUT_SAD} THEN 1 ELSE 0 END AS BIGINT)
             AS is_cut
    FROM diffs WHERE frame_idx >= 1
    GROUP BY doc_id, frame_idx
    """,
    description="Video-pipeline front end: decoded payload as "
    "consecutive 8x8 uint8 frames, per-frame SAD vs the previous frame "
    "+ scene-cut flag (the keyframe-selection / shot-boundary shape) — "
    "computed inside the Arrow decode stage (mapInPandas), "
    "integer-exact, so the DuckDB oracle replays byte-for-byte from "
    "hex(payload) with a 64-byte LAG. Complements "
    "multimodal_frame_sample (fixed-stride sampling) with "
    "content-adaptive selection; a real deployment keeps frames where "
    "is_cut = 1.",
    tags=("multimodal", "pandas_udf"),
)
def multimodal_frame_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = attach_media(load(spark, sf_dir, "documents"))
    return frame_sad(m)
