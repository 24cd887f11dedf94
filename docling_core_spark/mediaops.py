"""Multimodal (image/audio/video) column plumbing.

The engine treats media as opaque ``binary`` payloads plus typed
metadata, exactly like the reference treats ``ImageRef`` (document.py:
798-848: a mimetype + dpi + size + uri, pixels decoded lazily and never
needed by chunking/export). At 100 TB the payload bytes live in the
media table / object store and the *document* pipeline only carries
``media_ref`` strings; the operators here are the media-side stages a
training-data pipeline needs: decode -> feature-extract -> resize /
frame-sample.

The actual pixel/sample decoders (PIL, ffmpeg, torchaudio) are NOT in
this container, so the decode step is STUBBED: ``decode=\"real\"``
raises NotImplementedError at the exact call site a production build
would fill in, and the default ``decode=\"fake\"`` derives
deterministic pseudo-features from the payload bytes. Everything
Spark-side - schema, Arrow batching, per-row stage signature, partition
strategy - is real and tested.

Scale notes: feature extraction is embarrassingly parallel over media
rows (one ``engine.map_rows`` stage, zero shuffle); joining features
back onto documents broadcasts nothing big because the join key
(media_ref) is carried by both sides and AQE picks the strategy;
payload skew (one 4 GB video among thumbnails) is defused the same way
as mega-documents - small Arrow batches
(``spark.sql.execution.arrow.maxRecordsPerBatch``) and byte-size-aware
repartition before the UDF.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from docling_core_spark.engine import map_rows

MEDIA_SCHEMA = StructType([
    StructField("media_ref", StringType(), False),
    StructField("kind", StringType(), False),       # image|audio|video
    StructField("mimetype", StringType(), False),
    StructField("payload", BinaryType(), False),
    StructField("n_bytes", LongType(), False),
])

FEATURES_SCHEMA = StructType([
    StructField("media_ref", StringType(), False),
    StructField("kind", StringType(), False),
    StructField("width", IntegerType(), True),       # images/video
    StructField("height", IntegerType(), True),
    StructField("n_frames", IntegerType(), True),    # video
    StructField("duration_s", DoubleType(), True),   # audio/video
    StructField("byte_mean", DoubleType(), False),
    StructField("phash16", LongType(), False),       # perceptual-hash slot
])


def _payload_for(media_ref: str) -> bytes:
    """Deterministic pseudo-payload: md5 keystream sized by the ref.

    Stands in for the object-store fetch; sized 256B-16KB so batch
    memory behavior is realistic without bloating the sandbox."""
    h = hashlib.md5(media_ref.encode()).digest()
    size = 256 + (h[0] | (h[1] << 8)) % 16128
    reps = (size // len(h)) + 1
    return (h * reps)[:size]


def _kind_for(media_ref: str) -> str:
    b = hashlib.md5(media_ref.encode()).digest()[2] % 4
    return ("image", "image", "audio", "video")[b]


_MIME = {"image": "image/png", "audio": "audio/wav", "video": "video/mp4"}


def media_table(docs: DataFrame) -> DataFrame:
    """documents(doc_id, spans) -> media(media_ref, kind, mimetype,
    payload, n_bytes): one row per distinct media_ref in the corpus.

    The distinct() is the only shuffle - it carries just the ref
    strings, payloads are attached after dedup."""
    refs = (docs
            .select(F.explode("spans").alias("s"))
            # only floating kinds carry media ids; textual kinds reuse
            # the media_ref slot for hyperlinks (FIXTURES.md §1)
            .filter(F.col("s.kind").rlike("^(picture|table|chart|code)"))
            .select(F.col("s.media_ref").alias("media_ref"))
            .filter(F.col("media_ref").isNotNull()
                    & (F.col("media_ref") != ""))
            .distinct())

    def row(ref):
        kind, payload = _kind_for(ref), _payload_for(ref)
        return [(ref, kind, _MIME[kind], payload, len(payload))]

    return map_rows(refs, ("media_ref",), MEDIA_SCHEMA, lambda: row)


# ----------------------------------------------------------------------
# decode stubs
# ----------------------------------------------------------------------

def _decode_real(kind: str, payload: bytes):
    """Production decode hook - wire PIL / ffmpeg / soundfile here."""
    raise NotImplementedError(
        f"real {kind} decoding needs PIL/ffmpeg, not present in this "
        "environment; use decode='fake' (deterministic stub)")


def _decode_fake(kind: str, payload: bytes) -> dict:
    """Deterministic pseudo-decode from the payload bytes themselves -
    stable across runs/engines, exercises the full feature schema."""
    n = len(payload)
    b0, b1, b2, b3 = payload[0], payload[1], payload[2], payload[3]
    out = {"width": None, "height": None, "n_frames": None,
           "duration_s": None}
    if kind in ("image", "video"):
        out["width"] = 16 * (8 + b0 % 120)
        out["height"] = 16 * (8 + b1 % 68)
    if kind == "video":
        out["n_frames"] = 30 * (1 + b2 % 90)
        out["duration_s"] = float(out["n_frames"]) / 30.0
    if kind == "audio":
        out["duration_s"] = round(0.5 + (b2 | (b3 << 8)) / 1000.0, 3)
    return out


def feature_row(ref: str, kind: str, payload: bytes,
                decoder=None) -> dict:
    """Per-item feature record - the single shared implementation used
    by the Spark UDF stage AND the single-process oracle materializer
    (pyoracle.py), so both sides are bit-identical by construction."""
    meta = (decoder or _decode_fake)(kind, payload)
    # 16-bit "perceptual hash" slot: multiplicative fold
    # (xor/rotate folds cancel over tiled payloads)
    ph = 0
    for i in range(0, min(len(payload), 64), 2):
        ph = (ph * 31 + (payload[i] | (payload[i + 1] << 8))) % 65521
    return {
        "media_ref": ref, "kind": kind,
        "width": meta["width"], "height": meta["height"],
        "n_frames": meta["n_frames"],
        "duration_s": meta["duration_s"],
        "byte_mean": round(sum(payload) / len(payload), 4),
        "phash16": ph,
    }


def extract_media_features(media: DataFrame, decode: str = "fake"
                           ) -> DataFrame:
    """media -> per-item features via one per-row Arrow stage (no
    shuffle). ``byte_mean``/``phash16`` come from the raw bytes and are
    real computations either way; geometry/duration come from the
    (stubbed) decoder."""
    if decode not in ("fake", "real"):
        raise ValueError(decode)

    decoder = _decode_fake if decode == "fake" else _decode_real

    def row(ref, kind, payload):
        return [tuple(feature_row(ref, kind, payload, decoder).values())]

    return map_rows(media, ("media_ref", "kind", "payload"),
                    FEATURES_SCHEMA, lambda: row)


def resize_images(media: DataFrame, width: int, height: int,
                  decode: str = "fake") -> DataFrame:
    """Image resize plumbing: filters to images, runs the (stubbed)
    decode-resize-reencode round trip per image. The fake path
    re-hashes the payload with the target geometry so outputs are
    deterministic and size-bounded."""
    if decode == "real":
        # keep the failure at the operator boundary, not mid-job
        _decode_real("image", b"")

    def row(ref, payload):
        return [(ref, width, height, hashlib.md5(
            payload + f"{width}x{height}".encode()).digest() * 4)]

    return map_rows(media.filter(F.col("kind") == "image"),
                    ("media_ref", "payload"),
                    "media_ref string NOT NULL, width int NOT NULL, "
                    "height int NOT NULL, payload binary NOT NULL",
                    lambda: row)


def sample_frames(media: DataFrame, every_n: int = 30,
                  decode: str = "fake") -> DataFrame:
    """Video frame sampling plumbing: one output row per sampled frame
    (explode happens inside the UDF so frame payloads never round-trip
    through a Spark-side explode of binary arrays)."""
    if decode == "real":
        _decode_real("video", b"")

    def row(ref, payload):
        n_frames = _decode_fake("video", payload)["n_frames"]
        return [(ref, fi, hashlib.md5(
            payload + fi.to_bytes(4, "little")).digest())
            for fi in range(0, n_frames, every_n)]

    return map_rows(media.filter(F.col("kind") == "video"),
                    ("media_ref", "payload"),
                    "media_ref string NOT NULL, frame_idx int NOT NULL, "
                    "payload binary NOT NULL", lambda: row)


# ----------------------------------------------------------------------
def media_feature_stats(docs: DataFrame) -> DataFrame:
    """Rollup query for the registry: corpus -> media table -> features
    -> per-kind stats (rows-only driver check: the byte-level decode is
    not SQL-expressible)."""
    from docling_core_spark.textops import _r2, _r4

    feats = extract_media_features(media_table(docs))
    # floor-based round-half-up (textops._r*): byte_mean is a rational
    # (sum/len), and Spark's ROUND vs DuckDB's ROUND disagree on ties
    return (feats.groupBy("kind")
            .agg(F.count(F.lit(1)).alias("n_items"),
                 F.avg("byte_mean").alias("_abm"),
                 F.avg("width").alias("_aw"),
                 F.avg("duration_s").alias("_ad"),
                 F.countDistinct("phash16").alias("n_distinct_phash"))
            .select("kind", "n_items",
                    _r4(F.col("_abm")).alias("avg_byte_mean"),
                    _r2(F.col("_aw")).alias("avg_width"),
                    (F.floor(F.col("_ad") * 1000 + F.lit(0.5)) / 1000.0)
                    .alias("avg_duration_s"),
                    "n_distinct_phash")
            .orderBy("kind"))
