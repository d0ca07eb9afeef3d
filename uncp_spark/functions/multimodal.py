"""Multimodal columns: image/audio/video as opaque ``binary`` + typed
metadata, with decode / feature-extract / frame-sample as Arrow-batched
``mapInPandas`` operators.

The Spark-side plumbing — schemas, batch iteration, partitioning, UDF
signatures — is real and tested; the actual codec step is STUBBED
(``decode_stub=True`` gives a deterministic fake, ``False`` raises
``NotImplementedError``) because no image/audio libraries exist in this
container. Swapping in PIL/torchaudio is a one-function change inside
``_decode_batch``.

uncp declares the same ambition (perceptual image hashes via img_hash,
Cargo.toml:49) and equally never wired it (src/similarity.rs:1-7).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# magic-byte sniffing as a JVM expression: hex prefix → media type
_MAGIC = {
    "89504e47": "image/png",
    "ffd8ff": "image/jpeg",
    "47494638": "image/gif",
    "494433": "audio/mpeg",
    "fff1": "audio/aac",
    "1a45dfa3": "video/webm",
    "00000018667479706d703432": "video/mp4",
}

MEDIA_META_SCHEMA = (
    "media_id long, byte_len long, media_type string, sha256 string"
)
FEATURE_SCHEMA = "media_id long, feature array<float>, decoder string"


def sniff_media_type(col) -> "F.Column":
    """Magic-bytes MIME sniff, pure column expression (uncp's
    tree_magic sniff, src/systems/discovery.rs:267-300, F2)."""
    head = F.lower(F.hex(F.substring(col, 1, 12)))
    expr = F.lit("application/octet-stream")
    for magic, mime in sorted(_MAGIC.items(), key=lambda kv: -len(kv[0])):
        expr = F.when(head.startswith(magic.lower()), F.lit(mime)).otherwise(expr)
    return expr


def media_metadata(df: DataFrame, id_col: str = "media_id",
                   bin_col: str = "payload") -> DataFrame:
    """Typed metadata for a binary column — all JVM-side."""
    return df.select(
        F.col(id_col).alias("media_id"),
        F.octet_length(bin_col).cast("long").alias("byte_len"),
        sniff_media_type(F.col(bin_col)).alias("media_type"),
        F.sha2(F.col(bin_col), 256).alias("sha256"),
    )


# ---------------------------------------------------------------- F13:
# real header parsing for the formats whose dimensions are recoverable
# without a codec library (uncp declares the img_hash/similar intent,
# Cargo.toml:47-49, and ships only the stub src/similarity.rs:1-7 — this
# takes the metadata half of that feature from stub to real).

def _u8(col, pos: int) -> "F.Column":
    """1-based byte at ``pos`` of a binary column, as int (JVM-side)."""
    return F.conv(F.hex(F.substring(col, pos, 1)), 16, 10).cast("int")


def _be32(col, pos: int) -> "F.Column":
    return F.conv(F.hex(F.substring(col, pos, 4)), 16, 10).cast("int")


def _le16(col, pos: int) -> "F.Column":
    # GIF is little-endian: low byte first
    return (_u8(col, pos + 1) * 256 + _u8(col, pos)).cast("int")


# JPEG SOF markers that carry frame dimensions: C0-CF minus C4 (DHT),
# C8 (JPG extension), CC (DAC)
_JPEG_SOF = frozenset(range(0xC0, 0xD0)) - {0xC4, 0xC8, 0xCC}


def _jpeg_sof_scan(b: bytes):
    """Walk JPEG segments from SOI to the first SOF frame header:
    (width, height, n_components) or None. Segment lengths are BE16 and
    INCLUDE the length field, so the SOF offset is data-dependent — a
    fixed-offset read would break on any file whose APPn/COM/DQT
    payload sizes differ; this scan is why JPEG takes the Arrow-batch
    path while PNG/GIF stay pure column math."""
    n = len(b)
    if n < 4 or b[0] != 0xFF or b[1] != 0xD8:
        return None
    i = 2
    while i + 3 < n:
        if b[i] != 0xFF:
            return None  # desynced: not a marker boundary
        marker = b[i + 1]
        if marker == 0xFF:  # fill byte
            i += 1
            continue
        if marker == 0x01 or 0xD0 <= marker <= 0xD9:  # standalone
            i += 2
            continue
        seg_len = (b[i + 2] << 8) | b[i + 3]
        if seg_len < 2:
            return None
        if marker in _JPEG_SOF:
            if i + 9 >= n:
                return None
            height = (b[i + 5] << 8) | b[i + 6]
            width = (b[i + 7] << 8) | b[i + 8]
            return (width, height, b[i + 9])
        i += 2 + seg_len
    return None


def _jpeg_dims_udf():
    """Built lazily: ``pandas_udf`` parses its DDL return type against
    the ACTIVE session, so a module-level decorator would make importing
    this module require a running SparkContext (breaks pytest collection
    and any driver that imports before building its session)."""
    @F.pandas_udf("width int, height int, channels int")
    def jpeg_dims(payloads: pd.Series) -> pd.DataFrame:
        out = []
        for p in payloads:
            dims = _jpeg_sof_scan(bytes(p)) if p is not None else None
            out.append(dims if dims is not None else (None, None, None))
        return pd.DataFrame(out, columns=["width", "height", "channels"])
    return jpeg_dims


def media_dimensions(df: DataFrame, id_col: str = "media_id",
                     bin_col: str = "payload") -> DataFrame:
    """(id, payload) → (media_id, media_type, width, height, channels)
    by parsing the actual header bytes — no codec library.

      PNG  IHDR is the mandatory first chunk at a FIXED offset: width
           BE32 @17, height BE32 @21, color type @26 (channels: 0→1
           grey, 2→3 RGB, 3→1 palette, 4→2 grey+A, 6→4 RGBA). Pure
           column expressions — whole-stage codegen, no Python.
      GIF  logical screen descriptor: width LE16 @7, height LE16 @9;
           palette formats render RGB → channels 3. Column math too.
      JPEG dimensions live in the SOF segment at a VARIABLE offset
           (after arbitrary APPn/COM/DQT segments), so JPEG rows take
           an Arrow-batched segment scan (_jpeg_dims_udf); the UDF
           receives NULL for every non-JPEG row, so only actual JPEG
           bytes cross the Arrow boundary.

    Non-media payloads (and truncated headers) yield NULL dimensions;
    ``media_type`` still reports the sniff result."""
    mt = df.select(
        F.col(id_col).alias("media_id"),
        F.col(bin_col).alias("_p"),
        sniff_media_type(F.col(bin_col)).alias("media_type"),
        F.octet_length(bin_col).alias("_len"),
    )
    p = F.col("_p")
    is_png = (F.col("media_type") == "image/png") & (F.col("_len") >= 26)
    is_gif = (F.col("media_type") == "image/gif") & (F.col("_len") >= 10)
    is_jpeg = F.col("media_type") == "image/jpeg"
    png_channels = (
        F.when(_u8(p, 26) == 0, 1)
        .when(_u8(p, 26) == 2, 3)
        .when(_u8(p, 26) == 3, 1)
        .when(_u8(p, 26) == 4, 2)
        .when(_u8(p, 26) == 6, 4)
    )
    # materialize the UDF struct ONCE (a column reference per field
    # would otherwise risk three Arrow passes over the same payloads)
    staged = mt.withColumn("_j", _jpeg_dims_udf()(F.when(is_jpeg, p)))
    return staged.select(
        "media_id",
        "media_type",
        F.when(is_png, _be32(p, 17))
        .when(is_gif, _le16(p, 7))
        .when(is_jpeg, F.col("_j.width"))
        .alias("width"),
        F.when(is_png, _be32(p, 21))
        .when(is_gif, _le16(p, 9))
        .when(is_jpeg, F.col("_j.height"))
        .alias("height"),
        F.when(is_png, png_channels)
        .when(is_gif, F.lit(3))
        .when(is_jpeg, F.col("_j.channels"))
        .alias("channels"),
    )


def _fake_decode(payload: bytes, dim: int) -> np.ndarray:
    """Deterministic stand-in for a real decoder: hash-seeded feature
    vector with the exact shape/dtype a real extractor would produce."""
    seed = int.from_bytes(hashlib.sha256(payload).digest()[:4], "big")
    return np.random.RandomState(seed).standard_normal(dim).astype(np.float32)


def make_feature_extractor(dim: int = 16, decode_stub: bool = True,
                           decoder=None, decoder_name: str | None = None):
    """mapInPandas operator: (media_id, payload) → (media_id, feature).

    Batch shape: one Arrow batch in, one out; per-batch numpy, no
    per-row Python UDF.

    ``decoder`` is the REAL-CODEC SEAM: any callable
    ``(payload: bytes, dim: int) -> np.ndarray`` — e.g. a PIL decode +
    resize + channel-mean, a torchaudio spectrogram — is cloudpickled
    with the UDF and runs inside the Arrow batch loop on executors with
    no other change (contract-tested in tests/test_multimodal.py).
    Without one, decode_stub=True gives the deterministic fake and
    decode_stub=False raises NotImplementedError at exactly this point.
    """

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if decoder is not None:
                feats = [
                    np.asarray(decoder(bytes(p), dim), dtype=np.float32)
                    for p in pdf["payload"]
                ]
                name = decoder_name or getattr(decoder, "__name__", "injected")
            elif decode_stub:
                feats = [_fake_decode(bytes(p), dim) for p in pdf["payload"]]
                name = "stub-sha256-rng"
            else:
                raise NotImplementedError(
                    "real media decoding requires PIL/ffmpeg — not in this container"
                )
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "feature": [f.tolist() for f in feats],
                    "decoder": name,
                }
            )

    return extract


def extract_features(df: DataFrame, dim: int = 16, decode_stub: bool = True,
                     partitions: int | None = None,
                     decoder=None, decoder_name: str | None = None) -> DataFrame:
    """Feature extraction over a binary column. Repartitions first so
    decode work spreads evenly (media blobs skew in size)."""
    src = df.select("media_id", "payload")
    if partitions:
        src = src.repartition(partitions)
    return src.mapInPandas(
        make_feature_extractor(dim, decode_stub, decoder, decoder_name),
        FEATURE_SCHEMA,
    )


def frame_sample_stub(df: DataFrame, every_n: int = 30) -> DataFrame:
    """Video frame-sampling plumbing: emits (media_id, frame_idx) rows for
    a stub frame count derived from byte length — the explode pattern a
    real demuxer would feed."""
    n_frames = (F.octet_length("payload") / F.lit(1024)).cast("long") + 1
    return df.select(
        "media_id",
        F.explode(F.sequence(F.lit(0), n_frames - 1, F.lit(every_n))).alias("frame_idx"),
    )
