"""Multimodal column operators: opaque binary blobs + typed metadata.

Images/audio/video ride through the engine as ``binary`` columns with
typed metadata structs — exactly the reference's bytes/wrapper mapping
(SURVEY §1.2: bytes -> BinaryType) extended with the operators a
training-data pipeline needs:

* :func:`blob_metadata` — sniff + size + content digest. Pure JVM
  built-ins (whole-stage codegen); zero Python in the row path.
* :func:`frame_sample` — fixed-size frame extraction with stride
  (the video keyframe-sampling shape). Pure JVM built-ins: sequence +
  explode + substring arithmetic; scales as a narrow map + explode.
* :func:`decode_image_features` / :func:`audio_window_features` —
  per-blob feature extraction through :func:`map_blobs`, the one
  Arrow boundary of every media stage.
  Three REAL dependency-free image/audio codecs are built in (all
  public formats, parsed with ``struct``/numpy only): uncompressed
  24-bit BMP (:func:`decode_bmp_gray`), RIFF/WAVE mono PCM16
  (:func:`decode_wav_pcm16`), and baseline JPEG — a full ITU-T T.81
  sequential-DCT decoder (Huffman entropy decode, dequant, IDCT) in
  :mod:`protarrow_spark.operators.jpeg` — plus binary PGM and the
  deterministic FAKE formats below for oracle-exact fixtures.
  Remaining compressed formats (PNG/WebP, MP3/AAC) need zlib/audio
  libraries this environment doesn't ship: :func:`decode_real_image`
  / :func:`decode_real_audio` raise ``NotImplementedError`` for those
  — swapping in PIL/libav changes only the inner function.

Fake image format (deterministic, codec-free):
``b"FIMG"`` magic, then payload bytes interpreted as 8-bit grayscale
pixels in row-major order with fixed width :data:`FAKE_IMAGE_WIDTH`
(last row ragged). This lets correctness oracles recompute every
feature byte-exactly in SQL.

Scale notes: all three operators are shuffle-free narrow maps; frame
sampling explodes at most ``len/frame_bytes`` rows per blob; the
Python stages are Arrow-batched with numpy vectorization inside.
"""

from __future__ import annotations

import struct

import numpy as np
import pyarrow as pa
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from protarrow_spark.operators.jpeg import JPEG_MAGIC as _JPEG_MAGIC
from protarrow_spark.operators.jpeg import decode_jpeg, encode_jpeg_color, encode_jpeg_gray
from protarrow_spark.operators.jpeg import decode_jpeg_gray as _decode_jpeg
from protarrow_spark.operators.gif import GIF_MAGICS as _GIF_MAGICS
from protarrow_spark.operators.gif import decode_gif_gray as _decode_gif
from protarrow_spark.operators.png import PNG_MAGIC as _PNG_MAGIC
from protarrow_spark.operators.png import decode_png_gray as _decode_png
from protarrow_spark.operators.similarity import _batch

FAKE_IMAGE_MAGIC = b"FIMG"
FAKE_IMAGE_MAGIC_HEX = "46494D47"
FAKE_IMAGE_WIDTH = 16
FRAME_BYTES = 32


def is_fake_image(blob: Column) -> Column:
    return F.hex(blob).startswith(FAKE_IMAGE_MAGIC_HEX)


#: The (doc_id, blob) rows a blob fixture builds.
BLOB_SCHEMA = T.StructType(
    [T.StructField("doc_id", T.LongType()), T.StructField("blob", T.BinaryType())]
)


def map_blobs(
    df: DataFrame,
    id_col: str,
    payload_col: str,
    schema: T.StructType,
    row_fn,
    fan_out: bool = False,
) -> DataFrame:
    """The one Arrow boundary of every media stage: one ``mapInArrow``
    over the ``(id_col, payload_col)`` rows of ``df``.

    ``row_fn(doc_id, payload)`` gets the payload as ``bytes`` (``str``
    for a string column) and returns the values of ``schema`` after
    ``doc_id``: one tuple, or with ``fan_out`` a list of tuples, or
    None for the null path. A null payload takes the null path without
    reaching ``row_fn``. The null path of a 1:1 stage is the all-null
    row, which keeps its ``doc_id``; a fan-out stage emits nothing for
    it. ``doc_id`` leaves as Spark's own Arrow array."""
    arrow_schema = to_arrow_schema(schema)
    null_row = (None,) * (len(schema) - 1)

    def kernel(batches):
        for b in batches:
            ids = b.column(0)
            rows = [
                None if payload is None else row_fn(doc_id, payload)
                for doc_id, payload in zip(ids.to_pylist(), b.column(1).to_pylist())
            ]
            if fan_out:
                take = [i for i, r in enumerate(rows) for _ in r or ()]
                ids = ids.take(pa.array(take, pa.int64()))
                rows = [t for r in rows if r for t in r]
            else:
                rows = [null_row if r is None else r for r in rows]
            yield _batch(arrow_schema, ids, *(list(zip(*rows)) or [()] * len(null_row)))

    src = df.select(F.col(id_col).alias("doc_id"), F.col(payload_col))
    return src.mapInArrow(kernel, schema)


def blob_metadata(df: DataFrame, id_col: str, blob_col: str) -> DataFrame:
    """Typed metadata for an opaque binary column: media sniff by
    magic bytes, size, and a payload digest (md5 over the hex
    rendering — engine-portable). JVM-only; one narrow projection."""
    blob = F.col(blob_col)
    payload_hex = F.when(
        is_fake_image(blob), F.substring(F.hex(blob), 9, 2_000_000_000)
    ).otherwise(F.hex(blob))
    return df.select(
        F.col(id_col),
        F.when(is_fake_image(blob), F.lit("image/fake"))
        .otherwise(F.lit("application/octet-stream"))
        .alias("media_type"),
        F.length(blob).cast("long").alias("size_bytes"),
        (F.length(payload_hex) / 2).cast("long").alias("payload_bytes"),
        F.md5(payload_hex).alias("payload_md5"),
    )


def frame_sample(
    df: DataFrame,
    id_col: str,
    blob_col: str,
    frame_bytes: int = FRAME_BYTES,
    every: int = 2,
) -> DataFrame:
    """Sample every ``every``-th fixed-size frame from each blob's
    payload (keyframe sampling over an opaque video-ish column).

    All hex-string arithmetic on JVM built-ins: a ``sequence`` of
    frame indices explodes to one row per sampled frame; the frame's
    bytes come from substring arithmetic. Narrow map + explode; no
    shuffle, no Python.
    """
    hx = frame_bytes * 2  # hex chars per frame
    blob = F.col(blob_col)
    payload_hex = F.when(
        is_fake_image(blob), F.substring(F.hex(blob), 9, 2_000_000_000)
    ).otherwise(F.hex(blob))
    src = df.select(F.col(id_col), payload_hex.alias("ph"))
    n_frames = F.ceil(F.length("ph") / hx).cast("int")
    frames = src.select(
        F.col(id_col),
        F.explode(F.sequence(F.lit(0), n_frames - 1)).alias("frame_idx"),
        F.col("ph"),
    ).filter(F.col("frame_idx") % every == 0)
    frame_hex = F.substring(F.col("ph"), F.col("frame_idx") * hx + 1, hx)
    return frames.select(
        F.col(id_col),
        F.col("frame_idx").cast("long").alias("frame_idx"),
        (F.length(frame_hex) / 2).cast("long").alias("frame_bytes"),
        F.md5(frame_hex).alias("frame_md5"),
    )


IMAGE_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("n_pixels", T.LongType(), True),
        T.StructField("pixel_sum", T.LongType(), True),
        T.StructField("pixel_max", T.IntegerType(), True),
    ]
)


BMP_MAGIC = b"BM"
BMP_HEADER_BYTES = 54  # 14-byte file header + 40-byte BITMAPINFOHEADER


def encode_bmp_gray(pixels) -> bytes:
    """Grayscale (h, w) uint8 grid -> a GENUINE 24-bit uncompressed
    Windows BMP (BITMAPINFOHEADER, BI_RGB, bottom-up rows padded to 4
    bytes, B=G=R=pixel). Pure ``struct`` — the public file format, no
    codec library. Used to build real encoded fixtures that
    :func:`decode_bmp_gray` must actually parse."""
    px = np.asarray(pixels, dtype=np.uint8)
    h, w = px.shape
    stride = (w * 3 + 3) // 4 * 4
    body = bytearray()
    for row in px[::-1]:  # bottom-up storage
        bgr = np.repeat(row, 3).tobytes()  # B=G=R=gray
        body += bgr + b"\x00" * (stride - len(bgr))
    size = BMP_HEADER_BYTES + len(body)
    header = struct.pack(
        "<2sIHHI", BMP_MAGIC, size, 0, 0, BMP_HEADER_BYTES
    ) + struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body), 2835, 2835, 0, 0
    )
    return bytes(header) + bytes(body)


def decode_bmp_gray(data: bytes):
    """Parse a REAL uncompressed 24-bit BMP (the public format: 'BM'
    magic, little-endian BITMAPINFOHEADER, 4-byte-padded BGR rows,
    positive height = bottom-up) into ``(width, height, gray)`` with
    ``gray`` a row-major uint8 (h, w) array via integer BT.601 luma
    ``(299R + 587G + 114B) // 1000``. Returns None when the blob is
    not a BMP; raises ``NotImplementedError`` for BMP variants beyond
    24-bit BI_RGB (palette/RLE/V4+ alpha) — the honest boundary of
    the dependency-free codec."""
    if len(data) < BMP_HEADER_BYTES or data[:2] != BMP_MAGIC:
        return None
    off = int.from_bytes(data[10:14], "little")
    w = int.from_bytes(data[18:22], "little", signed=True)
    h = int.from_bytes(data[22:26], "little", signed=True)
    bpp = int.from_bytes(data[28:30], "little")
    comp = int.from_bytes(data[30:34], "little")
    if bpp != 24 or comp != 0:
        raise NotImplementedError(
            f"only 24-bit BI_RGB BMP supported (got {bpp}bpp comp={comp})"
        )
    bottom_up = h > 0
    h = abs(h)
    stride = (w * 3 + 3) // 4 * 4
    if off < 0 or w <= 0 or h == 0 or len(data) - off < stride * h:
        return None  # 'BM'-prefixed but truncated/degenerate — null path
    raw = np.frombuffer(data, np.uint8, count=stride * h, offset=off)
    rows = raw.reshape(h, stride)[:, : w * 3].reshape(h, w, 3)
    if bottom_up:
        rows = rows[::-1]
    b = rows[..., 0].astype(np.int64)
    g = rows[..., 1].astype(np.int64)
    r = rows[..., 2].astype(np.int64)
    gray = ((299 * r + 587 * g + 114 * b) // 1000).astype(np.uint8)
    return w, h, gray


PGM_MAGIC = b"P5"


def encode_pgm_gray(pixels) -> bytes:
    """Grayscale (h, w) uint8 grid -> a GENUINE binary PGM (netpbm
    'P5', maxval 255): ASCII header + raw raster, the public format,
    no codec library. Canonical single-newline header form."""
    px = np.asarray(pixels, dtype=np.uint8)
    h, w = px.shape
    return f"P5\n{w} {h}\n255\n".encode("ascii") + px.tobytes()


def decode_pgm_gray(data: bytes):
    """Parse a REAL binary PGM ('P5'): per the public netpbm spec the
    header is three whitespace-separated tokens (width, height,
    maxval) after the magic, with '#' comment lines allowed anywhere
    in the header, followed by ONE whitespace byte and the raw
    raster. Returns ``(width, height, gray)`` with ``gray`` row-major
    uint8 (h, w); None when the blob is not a PGM; raises
    ``NotImplementedError`` for maxval > 255 (16-bit rasters)."""
    if len(data) < 2 or data[:2] != PGM_MAGIC:
        return None
    pos, tokens = 2, []
    while len(tokens) < 3:
        if pos >= len(data):
            return None
        c = data[pos : pos + 1]
        if c == b"#":  # comment runs to end of line
            while pos < len(data) and data[pos : pos + 1] not in (b"\n", b"\r"):
                pos += 1
        elif c.isspace():
            pos += 1
        else:
            start = pos
            while pos < len(data) and not data[pos : pos + 1].isspace():
                pos += 1
            tok = data[start:pos]
            if not tok.isdigit():
                # 'P5'-prefixed blob that is not actually a PGM (e.g.
                # text starting with those bytes) — not ours, not an
                # error: the operator's null path handles it.
                return None
            tokens.append(int(tok))
    pos += 1  # the single whitespace byte before the raster
    w, h, maxval = tokens
    if maxval > 255:
        raise NotImplementedError(f"16-bit PGM (maxval={maxval}) unsupported")
    if w <= 0 or h <= 0 or len(data) - pos < w * h:
        return None  # truncated or degenerate raster
    gray = np.frombuffer(data, np.uint8, count=w * h, offset=pos).reshape(h, w)
    return w, h, gray


#: Magic prefix -> grayscale decoder returning ``(width, height, gray)``,
#: or None for a prefixed blob that is not a valid file.
_GRAY_DECODERS = (
    (BMP_MAGIC, decode_bmp_gray),
    (PGM_MAGIC, decode_pgm_gray),
    (_PNG_MAGIC, _decode_png),
    (_GIF_MAGICS, _decode_gif),
    (_JPEG_MAGIC, _decode_jpeg),
)


def _gray_decoder(data: bytes):
    """The decoder of :data:`_GRAY_DECODERS` whose magic prefixes
    ``data``, or None."""
    return next((dec for magic, dec in _GRAY_DECODERS if data.startswith(magic)), None)


def decode_real_image(blob: bytes) -> dict:
    """Real-codec dispatch: uncompressed BMP, binary PGM, PNG
    (gray/truecolor, stdlib zlib inflate + all five filters), and
    baseline JPEG (full dependency-free T.81 sequential decoder:
    Huffman entropy decode, dequant, IDCT) decode natively; WebP/GIF
    remain stubs."""
    decode = _gray_decoder(blob)
    decoded = decode(blob) if decode else None
    if decoded is not None:
        w, h, gray = decoded
        return {"width": w, "height": h, "gray": gray}
    raise NotImplementedError(
        "WebP is not decodable in this environment (VP8); BMP, PGM, "
        "PNG (gray + truecolor), GIF (LZW), and baseline JPEG decode "
        "natively, or use the FIMG fake format (decode_image_features)"
    )


def decode_image_features(
    df: DataFrame,
    id_col: str,
    blob_col: str,
    width: int = FAKE_IMAGE_WIDTH,
) -> DataFrame:
    """Grayscale feature extraction over image blobs. Four codecs
    dispatch by magic bytes: GENUINE uncompressed 24-bit BMP ('BM', parsed by
    :func:`decode_bmp_gray` — real header/stride/bottom-up handling,
    integer luma), GENUINE binary PGM ('P5',
    :func:`decode_pgm_gray` — spec header with comments), GENUINE
    baseline JPEG (SOI 0xFFD8, full T.81 entropy decode + IDCT in
    :mod:`protarrow_spark.operators.jpeg`), and the deterministic FIMG
    fake format. Remaining compressed formats (PNG/WebP) would slot
    into :func:`decode_real_image`.

    Non-image blobs (no known magic) produce null features — they
    flow through the same schema so the operator is total. For BMPs
    ``n_pixels`` is the true raster size width*height; for FIMG it is
    the payload length (ragged last row).

    Scale: partition-local, Arrow-batched, numpy-vectorized per blob;
    output is one row per input row (no explosion).
    """

    def features(_doc_id, data: bytes):
        if data.startswith(FAKE_IMAGE_MAGIC):
            px = np.frombuffer(data, dtype=np.uint8, offset=len(FAKE_IMAGE_MAGIC))
            w, h, n = width, -(-len(px) // width), len(px)
        else:
            decode = _gray_decoder(data)
            # The decoders return None for magic-prefixed blobs that
            # are not valid files (short header, non-numeric tokens,
            # truncated raster), a corrupt JPEG scan raises ValueError,
            # and an unsupported BMP/PGM variant (or text that merely
            # starts with 'BM'/'P5') raises NotImplementedError: all
            # take the null path like any non-image, so one bad blob
            # cannot abort the whole stage.
            try:
                decoded = decode(data) if decode else None
            except (ValueError, NotImplementedError):
                return None
            if decoded is None:
                return None
            w, h, px = decoded
            n = w * h
        return w, h, n, int(px.sum()) if px.size else 0, int(px.max()) if px.size else 0

    return map_blobs(df, id_col, blob_col, IMAGE_FEATURES_SCHEMA, features)


YCBCR_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("n_pixels", T.LongType(), True),
        T.StructField("y_sum", T.LongType(), True),
        T.StructField("cb_sum", T.LongType(), True),
        T.StructField("cr_sum", T.LongType(), True),
    ]
)


def decode_image_features_ycbcr(
    df: DataFrame, id_col: str, blob_col: str
) -> DataFrame:
    """Per-channel feature extraction over COLOR JPEG blobs: decode the
    full baseline YCbCr stream (``operators.jpeg.decode_jpeg`` —
    interleaved MCU scans, 4:4:4/4:2:2/4:2:0 sampling) and report the
    exact integer pixel sum of each plane. Grayscale JPEGs report
    ``y_sum`` with null chroma; non-JPEG or corrupt blobs take the
    all-null path (the operator is total, one bad blob cannot abort
    the stage).

    Scale: identical shape to :func:`decode_image_features` —
    Arrow-batched, partition-local, one output row per input row."""
    return map_blobs(
        df, id_col, blob_col, YCBCR_FEATURES_SCHEMA, lambda _, data: _ycbcr_features(data)
    )


THUMBNAIL_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("thumb", T.BinaryType(), True),
    ]
)


def _try_decode_jpeg(data: bytes):
    """Total per-blob decode: (w, h, planes) for a decodable baseline
    JPEG, None for non-JPEG / corrupt bytes — the shared null-path rule
    of every JPEG feature/transform operator."""
    if not data.startswith(_JPEG_MAGIC):
        return None
    try:
        return decode_jpeg(data)
    except (ValueError, NotImplementedError):
        return None


def _shrink_plane(plane, factor: int):
    """Box-filter downsample one plane by ``factor`` (mean over
    factor x factor cells, edge-replicated to a full grid)."""
    h, w = plane.shape
    hh, ww = -(-h // factor) * factor, -(-w // factor) * factor
    pad = np.empty((hh, ww), dtype=np.float64)
    pad[:h, :w] = plane
    pad[h:, :w] = plane[-1:, :]
    pad[:, w:] = pad[:, w - 1 : w]
    m = pad.reshape(hh // factor, factor, ww // factor, factor).mean(axis=(1, 3))
    return np.clip(np.rint(m), 0, 255).astype(np.uint8)


def _thumb_bytes(data: bytes, factor: int, quant, quant_chroma):
    """Re-encode a JPEG blob's downsampled planes (grayscale in ->
    grayscale out; color in -> 4:4:4 color out); None for a non-JPEG
    or corrupt blob."""
    decoded = _try_decode_jpeg(data)
    if decoded is None:
        return None
    small = [_shrink_plane(p, factor) for p in decoded[2]]
    if len(small) == 1:
        return encode_jpeg_gray(small[0], quant=quant)
    return encode_jpeg_color(small[0], small[1], small[2], quant, quant_chroma)


def _ycbcr_features(data: bytes):
    """(width, height, n_pixels, y_sum, cb_sum, cr_sum) of a JPEG blob,
    chroma sums null for grayscale; None for a non-JPEG or corrupt
    blob."""
    decoded = _try_decode_jpeg(data)
    if decoded is None:
        return None
    w, h, planes = decoded
    return (
        w,
        h,
        w * h,
        int(planes[0].sum()),
        int(planes[1].sum()) if len(planes) == 3 else None,
        int(planes[2].sum()) if len(planes) == 3 else None,
    )


def thumbnail_jpeg(
    df: DataFrame,
    id_col: str,
    blob_col: str,
    factor: int = 2,
    quant=None,
    quant_chroma=None,
) -> DataFrame:
    """JPEG -> smaller JPEG: decode the baseline stream (grayscale or
    color), box-filter downsample every plane by ``factor`` (mean over
    factor x factor cells, edge-replicated to a full grid), and
    RE-ENCODE through the real entropy coder — the decode->transform->
    re-encode shape every image-heavy training pipeline runs at
    ingest. Grayscale in -> grayscale out; color in -> 4:4:4 color out
    (``quant``/``quant_chroma`` default to the Annex-K tables; pass
    unity for the near-lossless mode). Non-JPEG or corrupt blobs map
    to a null thumb (total function).

    Determinism: mean-pooling a factor-aligned block-constant plane is
    the identity on its constants, so a fixture whose planes are
    constant per (8*factor)-pixel block stays 8x8-block-constant after
    the downsample and — with unity quant — re-encodes and re-decodes
    EXACTLY (the mm_thumbnail_jpeg oracle relies on this).

    Scale: Arrow-batched, partition-local, one row per blob; both
    codec passes are numpy-vectorized per image."""
    return map_blobs(
        df,
        id_col,
        blob_col,
        THUMBNAIL_SCHEMA,
        lambda _, data: (_thumb_bytes(data, factor, quant, quant_chroma),),
    )


RESIZE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("new_width", T.IntegerType(), True),
        T.StructField("new_height", T.LongType(), True),
        T.StructField("resized", T.BinaryType(), True),
    ]
)


def resize_image(
    df: DataFrame,
    id_col: str,
    blob_col: str,
    width: int = FAKE_IMAGE_WIDTH,
    factor: int = 2,
) -> DataFrame:
    """Nearest-neighbor column downsampling of fake-format images:
    keep every ``factor``-th pixel column (ragged trailing row
    dropped — documented truncation), emitting the resized payload as
    a new binary column. Same Arrow-batched plumbing as
    :func:`decode_image_features`; a real codec slots into the same
    inner function.

    Non-image blobs pass through as nulls (total operator).

    Scale: partition-local narrow map, one strided numpy view per
    blob — no shuffle, output strictly smaller than input.
    """

    def resize(_doc_id, data: bytes):
        if not data.startswith(FAKE_IMAGE_MAGIC):
            return None
        px = np.frombuffer(data, dtype=np.uint8, offset=len(FAKE_IMAGE_MAGIC))
        height = len(px) // width
        grid = px[: height * width].reshape(height, width)[:, ::factor]
        return -(-width // factor), height, grid.tobytes()

    return map_blobs(df, id_col, blob_col, RESIZE_SCHEMA, resize)


FAKE_AUDIO_MAGIC = b"FAUD"
FAKE_AUDIO_MAGIC_HEX = "46415544"
AUDIO_WINDOW = 64

AUDIO_WINDOW_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("win_idx", T.LongType(), False),
        T.StructField("n_samples", T.LongType(), False),
        T.StructField("energy_sum", T.LongType(), False),
        T.StructField("zero_crossings", T.LongType(), False),
    ]
)


WAV_MAGIC = b"RIFF"


def encode_wav_pcm16(samples, sample_rate: int = 8000) -> bytes:
    """int16 sample array -> a GENUINE RIFF/WAVE file (PCM format 1,
    mono, 16-bit little-endian; 'fmt ' + 'data' chunks). Pure
    ``struct`` — the public container format, used to build real
    encoded fixtures that :func:`decode_wav_pcm16` must parse."""
    pcm = np.asarray(samples, dtype="<i2").tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, sample_rate, sample_rate * 2, 2, 16)
    chunks = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(pcm)) + pcm
    )
    return b"RIFF" + struct.pack("<I", len(chunks)) + chunks


#: WAVE format tags (public RIFF registry): linear PCM, A-law, µ-law.
WAV_FMT_PCM = 1
WAV_FMT_ALAW = 6
WAV_FMT_ULAW = 7


def _g711_ulaw_table():
    """µ-law codeword -> int16 linear, ITU-T G.711 expansion: invert
    the byte, split sign/exponent/mantissa, magnitude =
    (((mant << 3) + 0x84) << exp) - 0x84 (the classic 16-bit-scaled
    form, max 32124)."""
    out = np.empty(256, dtype=np.int16)
    for b in range(256):
        u = ~b & 0xFF
        mag = ((((u & 0x0F) << 3) + 0x84) << ((u >> 4) & 7)) - 0x84
        out[b] = -mag if u & 0x80 else mag
    return out


def _g711_alaw_table():
    """A-law codeword -> int16 linear, ITU-T G.711: XOR 0x55, segment
    0 is linear, higher segments shift; scaled <<3 to 16-bit range
    (max 32256)."""
    out = np.empty(256, dtype=np.int16)
    for b in range(256):
        a = b ^ 0x55
        t = (a & 0x0F) << 4
        seg = (a >> 4) & 7
        if seg == 0:
            t += 8
        elif seg == 1:
            t += 0x108
        else:
            t = (t + 0x108) << (seg - 1)
        out[b] = t if a & 0x80 else -t
    return out


def encode_wav_g711(codewords, law: int = WAV_FMT_ULAW, sample_rate: int = 8000) -> bytes:
    """Raw 8-bit G.711 codewords -> a GENUINE RIFF/WAVE file with
    format tag 6 (A-law) or 7 (µ-law), mono 8-bit — the telephony
    container. The fixture path: the data chunk stores the codewords
    verbatim, so the decoder's expansion table is what gets tested."""
    raw = np.asarray(codewords, dtype=np.uint8).tobytes()
    fmt = struct.pack("<HHIIHH", law, 1, sample_rate, sample_rate, 1, 8)
    chunks = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(raw)) + raw
    )
    return b"RIFF" + struct.pack("<I", len(chunks)) + chunks


def decode_wav_pcm16(data: bytes):
    """Parse a REAL RIFF/WAVE file: walk the chunk list (ids +
    little-endian sizes, odd sizes padded to even per the spec), read
    the 'fmt ' chunk, and return int16 linear samples. Linear PCM16
    (format 1) returns the data chunk as-is; G.711 A-law / µ-law
    (formats 6/7, mono 8-bit — the telephony encodings) expand through
    the exact ITU-T tables. Returns None when the blob is not
    RIFF/WAVE; raises ``NotImplementedError`` for other encodings
    (float, ADPCM, multi-channel) — the honest boundary of the
    dependency-free codec."""
    if len(data) < 12 or data[:4] != WAV_MAGIC or data[8:12] != b"WAVE":
        return None
    pos = 12
    fmt_tag = None
    raw = None
    while pos + 8 <= len(data):
        cid = data[pos : pos + 4]
        sz = int.from_bytes(data[pos + 4 : pos + 8], "little")
        body = data[pos + 8 : pos + 8 + sz]
        if cid == b"fmt ":
            if len(body) < 16:
                raise ValueError("truncated fmt chunk")
            audio_format = int.from_bytes(body[0:2], "little")
            channels = int.from_bytes(body[2:4], "little")
            bits = int.from_bytes(body[14:16], "little")
            ok = (
                (audio_format == WAV_FMT_PCM and channels == 1 and bits == 16)
                or (
                    audio_format in (WAV_FMT_ALAW, WAV_FMT_ULAW)
                    and channels == 1
                    and bits == 8
                )
            )
            if not ok:
                raise NotImplementedError(
                    f"only mono PCM16 / G.711 WAV supported "
                    f"(format={audio_format} ch={channels} bits={bits})"
                )
            fmt_tag = audio_format
        elif cid == b"data":
            raw = body
        pos += 8 + sz + (sz & 1)  # chunks are padded to even offsets
    if fmt_tag is None or raw is None:
        return None
    if fmt_tag == WAV_FMT_PCM:
        return np.frombuffer(raw[: len(raw) - (len(raw) % 2)], dtype="<i2")
    table = _g711_ulaw_table() if fmt_tag == WAV_FMT_ULAW else _g711_alaw_table()
    return table[np.frombuffer(raw, dtype=np.uint8)]


def decode_real_audio(blob: bytes) -> dict:
    """Real-codec dispatch: RIFF/WAVE mono PCM16 decodes natively
    (:func:`decode_wav_pcm16`); compressed formats (MP3/AAC/Opus)
    need an audio library this environment doesn't ship — STUB."""
    samples = decode_wav_pcm16(blob)
    if samples is not None:
        return {"samples": samples, "bits": 16}
    raise NotImplementedError(
        "compressed audio codecs (MP3/AAC/...) are not available in "
        "this environment; WAV PCM16 decodes natively, or use the "
        "FAUD fake format (audio_window_features)"
    )


def audio_window_features(
    df: DataFrame,
    id_col: str,
    blob_col: str,
    window: int = AUDIO_WINDOW,
) -> DataFrame:
    """Windowed audio features over audio blobs — the audio analogue of
    :func:`decode_image_features`. Two codecs dispatch by magic
    bytes: GENUINE RIFF/WAVE mono PCM16 (parsed by
    :func:`decode_wav_pcm16` — real chunk walking), and the FAUD fake
    format (payload as 8-bit unsigned PCM centered at 128).
    Compressed formats would slot into :func:`decode_real_audio`.

    Per ``window``-sample window (last ragged): sample count, energy
    (sum of squared deviations from the midline — integer-exact, so
    any SQL engine reproduces it bit-for-bit), and zero crossings
    (adjacent samples straddling the midline, window-local). The
    midline is 128 for 8-bit unsigned, 0 for PCM16. Non-audio blobs
    emit no rows (frame-level operators are per-decoded-unit, like
    :func:`frame_sample`).

    Scale: partition-local narrow map; output fans out by
    ``ceil(samples/window)`` rows per blob — bounded and small.
    """

    def windows(_doc_id, data: bytes):
        if data.startswith(FAKE_AUDIO_MAGIC):
            raw = np.frombuffer(data, dtype=np.uint8, offset=len(FAKE_AUDIO_MAGIC))
            dev = raw.astype(np.int64) - 128
        elif data.startswith(WAV_MAGIC):
            samples = decode_wav_pcm16(data)
            if samples is None:
                return None
            dev = samples.astype(np.int64)
        else:
            return None
        segs = (dev[i : i + window] for i in range(0, len(dev), window))
        return [
            (w, len(s), int((s * s).sum()), int(((s[1:] >= 0) != (s[:-1] >= 0)).sum()))
            for w, s in enumerate(segs)
        ]

    return map_blobs(df, id_col, blob_col, AUDIO_WINDOW_SCHEMA, windows, fan_out=True)


#: Scene-cut threshold on the per-frame signature byte (0..255).
SCENE_CUT_THRESHOLD = 64


def scene_cuts(
    df: DataFrame,
    id_col: str,
    blob_col: str,
    frame_bytes: int = FRAME_BYTES,
    threshold: int = SCENE_CUT_THRESHOLD,
) -> DataFrame:
    """Scene-change detection over a video-ish blob: one signature
    byte per fixed-size frame (the stub for a real frame-histogram
    distance — the codec is deterministic-stubbed like the rest of
    the multimodal pack), a cut wherever the signature jumps by
    >= ``threshold`` vs the previous frame, and a running cut count
    that numbers each frame's scene — the keyframe/segmentation pass
    a video training pipeline runs before captioning or sampling.

    Scale: frame explode is a narrow map; the only shuffle keys on the
    video id for the lag/cumsum window — state per video is one row,
    and 100 TB of video shards by id with no skew (frame counts are
    bounded per blob).

    Output: id, frame_idx, sig (0..255), is_cut, scene_id (1-based).
    """
    from pyspark.sql import Window

    hx = frame_bytes * 2
    blob = F.col(blob_col)
    payload_hex = F.when(
        is_fake_image(blob), F.substring(F.hex(blob), 9, 2_000_000_000)
    ).otherwise(F.hex(blob))
    src = df.select(F.col(id_col), payload_hex.alias("ph"))
    n_frames = F.ceil(F.length("ph") / hx).cast("int")
    frames = src.select(
        F.col(id_col),
        F.explode(F.sequence(F.lit(0), n_frames - 1)).alias("frame_idx"),
        F.conv(F.substring(F.col("ph"), F.col("frame_idx") * hx + 1, 2), 16, 10)
        .cast("int")
        .alias("sig"),
    )
    w = Window.partitionBy(id_col).orderBy("frame_idx")
    prev = F.lag("sig").over(w)
    is_cut = prev.isNull() | (F.abs(F.col("sig") - prev) >= threshold)
    cum = Window.partitionBy(id_col).orderBy("frame_idx").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return frames.select(
        F.col(id_col),
        F.col("frame_idx").cast("long").alias("frame_idx"),
        "sig",
        is_cut.alias("is_cut"),
        F.sum(is_cut.cast("long")).over(cum).alias("scene_id"),
    )


#: aHash grid: the perceptual hash reads this many leading pixels
#: (a real codec would resize to an 8x8 luma grid first; the stub
#: reads the first 64 payload bytes, zero-padded — same shape, no
#: codec dependency).
PHASH_CELLS = 64

PHASH_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("ahash", T.StringType(), True),
    ]
)


def image_phash(
    df: DataFrame, id_col: str, blob_col: str, cells: int = PHASH_CELLS
) -> DataFrame:
    """Perceptual average-hash (aHash) per image: threshold each of
    ``cells`` grid values at the (floor) mean, emit the bit string.
    Near-duplicate images — re-encodes, minor edits — land on the
    same or near-identical hash; identical hashes group without any
    pairwise comparison. Same Arrow-batched plumbing as the other
    stub-codec operators (a real decoder producing an
    8x8 luma grid slots into the inner function); the hash is a
    64-char '0'/'1' string, sidestepping signed-64-bit overflow and
    portable to any engine.

    Non-image blobs emit a null hash (total operator).

    Scale: narrow map, zero shuffles; downstream grouping is one
    hash-groupBy on a uniformly distributed key — exactly the exact-
    dedup shape, never all-pairs.
    """

    def ahash(_doc_id, data: bytes):
        if not data.startswith(FAKE_IMAGE_MAGIC):
            return None
        px = np.frombuffer(data, dtype=np.uint8, offset=len(FAKE_IMAGE_MAGIC))
        v = np.zeros(cells, dtype=np.int64)
        n = min(cells, len(px))
        v[:n] = px[:n]
        mean_floor = int(v.sum()) // cells
        return ("".join("1" if x > mean_floor else "0" for x in v),)

    return map_blobs(df, id_col, blob_col, PHASH_SCHEMA, ahash)


def phash_duplicate_groups(
    df: DataFrame, id_col: str, blob_col: str, cells: int = PHASH_CELLS
) -> DataFrame:
    """Images sharing an identical perceptual hash: one row per hash
    with the canonical (minimum) id and the group size — the image-
    column counterpart of text exact dedup (hamming-k probing over
    hash chunks reuses the SimHash banding pattern unchanged)."""
    hashed = image_phash(df, id_col, blob_col, cells).filter(
        F.col("ahash").isNotNull()
    )
    return hashed.groupBy("ahash").agg(
        F.min("doc_id").alias("canonical_id"),
        F.count(F.lit(1)).alias("n_images"),
    )
