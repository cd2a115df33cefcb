"""Multimodal-column CORRECTNESS queries.

Blobs are synthesized deterministically from ``documents.text`` (even
doc_ids get the FIMG fake-image header, odd stay raw bytes), so both
engines construct byte-identical inputs and every operator — including
the Python feature extractors — has a full value oracle.
"""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from protarrow_spark.operators import gif, jpeg, multimodal, png
from protarrow_spark.queries.registry import query
from protarrow_spark.sources.tables import table

_MAGIC = multimodal.FAKE_IMAGE_MAGIC_HEX


def _fixture_version_token() -> bytes:
    """md5 over the source bytes of every module that can shape a blob
    fixture's VALUES (this builder module + all codec modules). Baked
    into the _blob_cache key so encoder/builder edits invalidate
    cached parquet instead of silently reusing stale blobs."""
    import hashlib

    h = hashlib.md5()
    for mod in (multimodal, jpeg, png, gif):
        with open(mod.__file__, "rb") as f:
            h.update(f.read())
    with open(__file__, "rb") as f:
        h.update(f.read())
    return h.hexdigest().encode()


def _blob_cache(spark: SparkSession, sf_dir: str, name: str, build):
    """Materialize a deterministic blob fixture to parquet ONCE per
    (sf_dir, name) and read it back — the TESTDATA convention applied
    to codec fixtures. Queries whose fixture construction runs a
    pure-Python ENCODER (e.g. progressive JPEG successive
    approximation) would otherwise pay both codec directions in the
    measured path; with the cache, bench.py's best-of-3 (and every
    run after the first) measures the DECODE operator only. The cache
    key includes the absolute sf_dir (different scale factors never
    collide) AND a version token hashed from the source of this module
    plus every codec module a builder can call — editing a fixture
    builder or an encoder invalidates the cache, so stale blobs can
    never mask (or fabricate) a correctness result."""
    import hashlib
    import os

    root = os.path.join(
        os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
        "benchmarks",
        "fixtures",
    )
    key = hashlib.md5(
        os.path.abspath(sf_dir).encode() + _fixture_version_token()
    ).hexdigest()[:10]
    path = os.path.join(
        root, f"{os.path.basename(os.path.normpath(sf_dir))}-{key}", name
    )
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        build().write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def _blobs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> (doc_id, blob binary): even ids get the magic."""
    docs = table(spark, sf_dir, "documents")
    blob_hex = F.when(
        F.col("doc_id") % 2 == 0,
        F.concat(F.lit(_MAGIC), F.hex(F.encode("text", "UTF-8"))),
    ).otherwise(F.hex(F.encode("text", "UTF-8")))
    return docs.select("doc_id", F.unhex(blob_hex).alias("blob"))


_BLOB_CTE = f"""
blobs AS (
  SELECT doc_id,
         CASE WHEN doc_id % 2 = 0
              THEN '{_MAGIC}' || hex(encode(text))
              ELSE hex(encode(text)) END AS blob_hex
  FROM documents
),
payloads AS (
  SELECT doc_id,
         CASE WHEN substr(blob_hex, 1, 8) = '{_MAGIC}'
              THEN substr(blob_hex, 9) ELSE blob_hex END AS ph,
         len(blob_hex) // 2 AS size_bytes,
         substr(blob_hex, 1, 8) = '{_MAGIC}' AS is_img
  FROM blobs
)
"""


@query(
    "mm_blob_metadata",
    oracle=f"""
WITH {_BLOB_CTE}
SELECT doc_id,
       CASE WHEN is_img THEN 'image/fake' ELSE 'application/octet-stream' END
         AS media_type,
       CAST(size_bytes AS BIGINT) AS size_bytes,
       CAST(len(ph) // 2 AS BIGINT) AS payload_bytes,
       md5(ph) AS payload_md5
FROM payloads
""",
)
def mm_blob_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Magic-byte sniff + size + payload digest over an opaque binary
    column. Zero Python, zero shuffle."""
    return multimodal.blob_metadata(_blobs(spark, sf_dir), "doc_id", "blob")


@query(
    "mm_frame_sample",
    oracle=f"""
WITH {_BLOB_CTE},
framed AS (
  SELECT doc_id, ph,
         CAST(ceil(len(ph) / {multimodal.FRAME_BYTES * 2.0}) AS INT) AS n_frames
  FROM payloads
)
SELECT doc_id,
       CAST(i AS BIGINT) AS frame_idx,
       CAST(len(substr(ph, i * {multimodal.FRAME_BYTES * 2} + 1,
                       {multimodal.FRAME_BYTES * 2})) // 2 AS BIGINT) AS frame_bytes,
       md5(substr(ph, i * {multimodal.FRAME_BYTES * 2} + 1,
                  {multimodal.FRAME_BYTES * 2})) AS frame_md5
FROM framed, unnest(range(0, n_frames)) AS t(i)
WHERE i % 2 = 0
""",
)
def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every 2nd fixed-size frame of each blob (keyframe-sampling
    shape): sequence + explode + substring arithmetic, all JVM."""
    return multimodal.frame_sample(_blobs(spark, sf_dir), "doc_id", "blob")


def _byteval(h: str, i: str) -> str:
    """DuckDB expr: byte value at 1-based byte index i of hex string h."""
    return (
        f"(instr('0123456789ABCDEF', substr({h}, 2*{i}-1, 1))-1)*16"
        f" + (instr('0123456789ABCDEF', substr({h}, 2*{i}, 1))-1)"
    )


@query(
    "mm_image_features",
    oracle=f"""
WITH {_BLOB_CTE}
SELECT doc_id,
       CASE WHEN is_img THEN {multimodal.FAKE_IMAGE_WIDTH} END AS width,
       CASE WHEN is_img
            THEN CAST(ceil((len(ph) // 2) / {multimodal.FAKE_IMAGE_WIDTH}.0) AS INT)
       END AS height,
       CASE WHEN is_img THEN CAST(len(ph) // 2 AS BIGINT) END AS n_pixels,
       CASE WHEN is_img THEN CAST(list_sum(
         [{_byteval('ph', 'i')} FOR i IN range(1, len(ph) // 2 + 1)]
       ) AS BIGINT) END AS pixel_sum,
       CASE WHEN is_img THEN CAST(list_max(
         [{_byteval('ph', 'i')} FOR i IN range(1, len(ph) // 2 + 1)]
       ) AS INT) END AS pixel_max
FROM payloads
""",
)
def mm_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python (stubbed-codec) grayscale feature extraction — the
    oracle recomputes every feature byte-exactly from the hex
    rendering, so even the Python path is value-gated."""
    return multimodal.decode_image_features(_blobs(spark, sf_dir), "doc_id", "blob")


# ---------------------------------------------------------------------------
# REAL-codec fixtures: genuine BMP / WAV bytes through the same
# operators. The fixture builder uses the real ENCODERS
# (operators/multimodal.py encode_bmp_gray / encode_wav_pcm16) so the
# decoders must actually parse headers, strides, bottom-up rows and
# RIFF chunk lists; the oracle recomputes expected features straight
# from documents.text (it knows the deterministic construction), so a
# decoder that misreads any real-format detail hash-fails.
# ---------------------------------------------------------------------------

_BMP_W = 16


def _documents(spark: SparkSession, sf_dir: str, spread: bool = False) -> DataFrame:
    """documents -> (doc_id, text). ``spread`` repartitions over every
    core: documents is a single small parquet file (1-2 scan
    partitions), and the CPU-bound pure-Python encoders need them all."""
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    return docs.repartition(spark.sparkContext.defaultParallelism) if spread else docs


def _fixture(docs: DataFrame, encode, modulus: int = 2, residue: int = 0) -> DataFrame:
    """(doc_id, text) -> (doc_id, blob): the utf-8 text of each row with
    ``doc_id % modulus == residue`` becomes ``encode(data, doc_id)``;
    the other rows stay raw text bytes (the operator's null or skip
    path)."""

    def row(doc_id: int, text: str):
        data = text.encode("utf-8")
        return (encode(data, doc_id) if doc_id % modulus == residue else data,)

    return multimodal.map_blobs(docs, "doc_id", "text", multimodal.BLOB_SCHEMA, row)


def _raster(data: bytes, width: int = _BMP_W):
    """``data`` as a row-major (h, width) uint8 raster, zero-padded to
    whole rows, at least one row."""
    h = max(1, -(-len(data) // width))
    px = np.zeros(h * width, dtype=np.uint8)
    px[: len(data)] = np.frombuffer(data, np.uint8)
    return px.reshape(h, width)


def _blocks(grid, block: int):
    """Each cell of ``grid`` as a constant ``block`` x ``block`` tile."""
    return np.kron(grid, np.ones((block, block), dtype=np.uint8))


def _bmp(data: bytes, _doc_id: int) -> bytes:
    return multimodal.encode_bmp_gray(_raster(data))


def _bmp_blobs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> (doc_id, blob): even ids become GENUINE 24-bit
    BMPs (gray pixels = utf-8 bytes of text, 16 wide, zero-padded to
    whole rows, min height 1); odd ids stay raw text bytes."""
    return _fixture(_documents(spark, sf_dir), _bmp)


@query(
    "mm_image_features_bmp",
    oracle=f"""
WITH t AS (
  SELECT doc_id, hex(encode(text)) AS ph, len(hex(encode(text))) // 2 AS nb
  FROM documents
)
SELECT doc_id,
       CASE WHEN doc_id % 2 = 0 THEN {_BMP_W} END AS width,
       CASE WHEN doc_id % 2 = 0
            THEN CAST(GREATEST(1, CAST(ceil(nb / {_BMP_W}.0) AS INT)) AS INT)
       END AS height,
       CASE WHEN doc_id % 2 = 0
            THEN CAST({_BMP_W} * GREATEST(1, CAST(ceil(nb / {_BMP_W}.0) AS INT)) AS BIGINT)
       END AS n_pixels,
       CASE WHEN doc_id % 2 = 0 THEN CAST(coalesce(list_sum(
         [{_byteval('ph', 'i')} FOR i IN range(1, nb + 1)]), 0) AS BIGINT)
       END AS pixel_sum,
       CASE WHEN doc_id % 2 = 0 THEN CAST(coalesce(list_max(
         [{_byteval('ph', 'i')} FOR i IN range(1, nb + 1)]), 0) AS INT)
       END AS pixel_max
FROM t
""",
)
def mm_image_features_bmp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature extraction over GENUINE encoded BMP bytes: the fixture
    writes real 24-bit bottom-up padded-row BMPs, and the operator's
    native BMP parser must recover width/height/luma exactly (gray
    pixels make integer BT.601 luma the identity, so the oracle pins
    every pixel byte-exactly from the source text). Non-BMP rows
    (odd ids) exercise the null path of the total operator."""
    return multimodal.decode_image_features(
        _bmp_blobs(spark, sf_dir), "doc_id", "blob"
    )


def _pgm_blobs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> (doc_id, blob): even ids become GENUINE binary
    PGMs (pixels = utf-8 bytes of text, 16 wide, zero-padded, with a
    header comment line to exercise spec parsing); odd ids stay raw
    text bytes."""

    def pgm(data: bytes, _doc_id: int) -> bytes:
        # splice a comment into the header: spec parsing, not just our
        # own canonical form
        canonical = multimodal.encode_pgm_gray(_raster(data))
        return canonical.replace(b"P5\n", b"P5\n# fixture\n", 1)

    return _fixture(_documents(spark, sf_dir), pgm)


@query(
    "mm_image_features_pgm",
    oracle=f"""
WITH t AS (
  SELECT doc_id, hex(encode(text)) AS ph, len(hex(encode(text))) // 2 AS nb
  FROM documents
)
SELECT doc_id,
       CASE WHEN doc_id % 2 = 0 THEN {_BMP_W} END AS width,
       CASE WHEN doc_id % 2 = 0
            THEN CAST(GREATEST(1, CAST(ceil(nb / {_BMP_W}.0) AS INT)) AS INT)
       END AS height,
       CASE WHEN doc_id % 2 = 0
            THEN CAST({_BMP_W} * GREATEST(1, CAST(ceil(nb / {_BMP_W}.0) AS INT)) AS BIGINT)
       END AS n_pixels,
       CASE WHEN doc_id % 2 = 0 THEN CAST(coalesce(list_sum(
         [{_byteval('ph', 'i')} FOR i IN range(1, nb + 1)]), 0) AS BIGINT)
       END AS pixel_sum,
       CASE WHEN doc_id % 2 = 0 THEN CAST(coalesce(list_max(
         [{_byteval('ph', 'i')} FOR i IN range(1, nb + 1)]), 0) AS INT)
       END AS pixel_max
FROM t
""",
)
def mm_image_features_pgm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature extraction over GENUINE binary PGM bytes — the third
    real dependency-free codec (after BMP and WAV): the fixture
    writes spec-conforming 'P5' files INCLUDING a header comment
    line, and the operator's netpbm parser must tokenize the header
    and recover every pixel byte-exactly (grayscale raster is the
    identity on the source bytes, so the oracle pins pixels from the
    source text). Non-PGM rows (odd ids) exercise the null path."""
    return multimodal.decode_image_features(
        _pgm_blobs(spark, sf_dir), "doc_id", "blob"
    )


#: JPEG fixture geometry: 4 blocks wide -> 32-pixel-wide images.
_JPG_BW = 4


def _jpeg_blobs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> (doc_id, blob): even ids become GENUINE baseline
    JPEGs through the real entropy encoder. Each utf-8 byte of the
    text fills one constant 8x8 block (grid 4 blocks wide, zero-padded
    to whole block rows, min 1 row); with the unity quantization table
    a block-constant raster round-trips EXACTLY (DC-only blocks, unit
    quant, IDCT of DC is constant — operators/jpeg.py module doc), so
    the oracle can pin every decoded pixel from the text. Odd ids stay
    raw text bytes (null path)."""

    def encode(data: bytes, _doc_id: int) -> bytes:
        px = _blocks(_raster(data, _JPG_BW), 8)
        return jpeg.encode_jpeg_gray(px, quant=jpeg.QUANT_UNITY)

    return _fixture(_documents(spark, sf_dir, spread=True), encode)


def _png_blobs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> (doc_id, blob): ids ≡ 0 (mod 4) become GENUINE
    grayscale PNGs (pixels = utf-8 bytes of text, 16 wide,
    zero-padded, row filters cycling through all five spec filter
    types); ids ≡ 2 (mod 4) become GENUINE truecolor PNGs whose
    channels are (byte, byte, byte) — integer BT.601 luma of equal
    channels is the identity, so BOTH variants reproduce the text
    bytes exactly (PNG is lossless). Odd ids stay raw text (null
    path)."""

    def encode(data: bytes, doc_id: int) -> bytes:
        px = _raster(data)
        if doc_id % 4 == 0:
            return png.encode_png(px)
        return png.encode_png(np.repeat(px[..., None], 3, axis=2), color=True)

    return _fixture(_documents(spark, sf_dir, spread=True), encode)


@query(
    "mm_image_features_png",
    oracle=f"""
WITH t AS (
  SELECT doc_id, hex(encode(text)) AS ph, len(hex(encode(text))) // 2 AS nb
  FROM documents
)
SELECT doc_id,
       CASE WHEN doc_id % 2 = 0 THEN {_BMP_W} END AS width,
       CASE WHEN doc_id % 2 = 0
            THEN CAST(GREATEST(1, CAST(ceil(nb / {_BMP_W}.0) AS INT)) AS INT)
       END AS height,
       CASE WHEN doc_id % 2 = 0
            THEN CAST({_BMP_W} * GREATEST(1, CAST(ceil(nb / {_BMP_W}.0) AS INT)) AS BIGINT)
       END AS n_pixels,
       CASE WHEN doc_id % 2 = 0 THEN CAST(coalesce(list_sum(
         [{_byteval('ph', 'i')} FOR i IN range(1, nb + 1)]), 0) AS BIGINT)
       END AS pixel_sum,
       CASE WHEN doc_id % 2 = 0 THEN CAST(coalesce(list_max(
         [{_byteval('ph', 'i')} FOR i IN range(1, nb + 1)]), 0) AS INT)
       END AS pixel_max
FROM t
""",
)
def mm_image_features_png(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature extraction over GENUINE PNG bytes — the first COMPRESSED
    lossless format through the real-codec path (stdlib zlib inflate;
    the chunk framing, CRCs, and all five scanline filters are parsed
    by the dependency-free decoder in ``operators/png.py``). The
    fixture alternates grayscale and truecolor variants and cycles
    every filter type across rows; PNG's losslessness means the oracle
    pins every pixel from the source text with no construction tricks.
    Odd ids exercise the null path.

    Scale: same Arrow-batched shape as the other
    codecs — partition-local, no shuffle, one output row per blob;
    inflate + vectorized unfiltering are numpy/zlib-C throughout
    except the Average/Paeth rows."""
    return multimodal.decode_image_features(
        _png_blobs(spark, sf_dir), "doc_id", "blob"
    )


def _png_adam7_blobs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> (doc_id, blob): the Adam7 + exotic-color-type
    counterpart of ``_png_blobs`` — ids ≡ 0 (mod 8) PALETTE (type 3,
    identity gray PLTE) interlaced, ≡ 2 RGBA (type 6, alpha 255)
    interlaced, ≡ 4 gray+alpha (type 4) sequential, ≡ 6 grayscale
    interlaced; all four reproduce the text bytes exactly (lossless +
    identity luma). Odd ids stay raw text (null path)."""

    def encode(data: bytes, doc_id: int) -> bytes:
        px = _raster(data)
        m = doc_id % 8
        if m == 0:
            return png.encode_png(px, color_type=3, interlace=True)
        if m == 2:
            rgb = np.repeat(px[..., None], 3, axis=2)
            return png.encode_png(rgb, color_type=6, interlace=True)
        if m == 4:
            return png.encode_png(px, color_type=4)
        return png.encode_png(px, interlace=True)

    return _fixture(_documents(spark, sf_dir, spread=True), encode)


@query(
    "mm_image_features_png_adam7",
    oracle=f"""
WITH t AS (
  SELECT doc_id, hex(encode(text)) AS ph, len(hex(encode(text))) // 2 AS nb
  FROM documents
)
SELECT doc_id,
       CASE WHEN doc_id % 2 = 0 THEN {_BMP_W} END AS width,
       CASE WHEN doc_id % 2 = 0
            THEN CAST(GREATEST(1, CAST(ceil(nb / {_BMP_W}.0) AS INT)) AS INT)
       END AS height,
       CASE WHEN doc_id % 2 = 0
            THEN CAST({_BMP_W} * GREATEST(1, CAST(ceil(nb / {_BMP_W}.0) AS INT)) AS BIGINT)
       END AS n_pixels,
       CASE WHEN doc_id % 2 = 0 THEN CAST(coalesce(list_sum(
         [{_byteval('ph', 'i')} FOR i IN range(1, nb + 1)]), 0) AS BIGINT)
       END AS pixel_sum,
       CASE WHEN doc_id % 2 = 0 THEN CAST(coalesce(list_max(
         [{_byteval('ph', 'i')} FOR i IN range(1, nb + 1)]), 0) AS INT)
       END AS pixel_max
FROM t
""",
)
def mm_image_features_png_adam7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature extraction over the PNG layouts real corpora actually
    contain beyond plain gray/truecolor (r8): Adam7-INTERLACED palette
    (PLTE lookup), interlaced RGBA, gray+alpha, and interlaced
    grayscale blobs — four layouts per corpus, every decoded pixel
    oracle-pinned from the source text through losslessness + identity
    luma. Distributed end-to-end evidence for the r8 decoder
    extensions (pass scattering, PLTE, alpha channels), on top of
    their round-trip matrices in tests/test_png.py.

    Scale: identical Arrow-batched topology to
    mm_image_features_png — partition-local, no shuffle."""
    return multimodal.decode_image_features(
        _png_adam7_blobs(spark, sf_dir), "doc_id", "blob"
    )


def _gif_blobs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> (doc_id, blob): even ids become GENUINE GIF89a
    files through the real LZW compressor (gray palette, index ==
    intensity, so decode is exactly the source bytes — GIF is
    lossless); odd ids stay raw text (null path)."""
    return _fixture(
        _documents(spark, sf_dir, spread=True),
        lambda data, _doc_id: gif.encode_gif_gray(_raster(data)),
    )


@query(
    "mm_image_features_gif",
    oracle=f"""
WITH t AS (
  SELECT doc_id, hex(encode(text)) AS ph, len(hex(encode(text))) // 2 AS nb
  FROM documents
)
SELECT doc_id,
       CASE WHEN doc_id % 2 = 0 THEN {_BMP_W} END AS width,
       CASE WHEN doc_id % 2 = 0
            THEN CAST(GREATEST(1, CAST(ceil(nb / {_BMP_W}.0) AS INT)) AS INT)
       END AS height,
       CASE WHEN doc_id % 2 = 0
            THEN CAST({_BMP_W} * GREATEST(1, CAST(ceil(nb / {_BMP_W}.0) AS INT)) AS BIGINT)
       END AS n_pixels,
       CASE WHEN doc_id % 2 = 0 THEN CAST(coalesce(list_sum(
         [{_byteval('ph', 'i')} FOR i IN range(1, nb + 1)]), 0) AS BIGINT)
       END AS pixel_sum,
       CASE WHEN doc_id % 2 = 0 THEN CAST(coalesce(list_max(
         [{_byteval('ph', 'i')} FOR i IN range(1, nb + 1)]), 0) AS INT)
       END AS pixel_max
FROM t
""",
)
def mm_image_features_gif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature extraction over GENUINE GIF bytes — the LZW-compressed
    palette format through the dependency-free decoder in
    ``operators/gif.py`` (sub-block deframing, variable-width LZW with
    clear/EOI and dictionary resets, palette luma). GIF is lossless
    with the identity gray palette, so the oracle pins every decoded
    pixel from the source text; a broken LZW table or sub-block walk
    hash-fails. Odd ids exercise the null path.

    Scale: same Arrow-batched shape as the other
    codecs; LZW here is pure Python — fine for metadata extraction,
    swap in a native decoder for GIF-heavy corpora (plumbing
    unchanged)."""
    return multimodal.decode_image_features(
        _gif_blobs(spark, sf_dir), "doc_id", "blob"
    )


@query(
    "mm_image_features_jpeg",
    oracle=f"""
WITH t AS (
  SELECT doc_id, hex(encode(text)) AS ph, len(hex(encode(text))) // 2 AS nb
  FROM documents
)
SELECT doc_id,
       CASE WHEN doc_id % 2 = 0 THEN {_JPG_BW * 8} END AS width,
       CASE WHEN doc_id % 2 = 0
            THEN CAST(8 * GREATEST(1, CAST(ceil(nb / {_JPG_BW}.0) AS INT)) AS INT)
       END AS height,
       CASE WHEN doc_id % 2 = 0
            THEN CAST({_JPG_BW * 64} * GREATEST(1, CAST(ceil(nb / {_JPG_BW}.0) AS INT)) AS BIGINT)
       END AS n_pixels,
       CASE WHEN doc_id % 2 = 0 THEN CAST(64 * coalesce(list_sum(
         [{_byteval('ph', 'i')} FOR i IN range(1, nb + 1)]), 0) AS BIGINT)
       END AS pixel_sum,
       CASE WHEN doc_id % 2 = 0 THEN CAST(coalesce(list_max(
         [{_byteval('ph', 'i')} FOR i IN range(1, nb + 1)]), 0) AS INT)
       END AS pixel_max
FROM t
""",
)
def mm_image_features_jpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature extraction over GENUINE baseline JPEG bytes — the
    dominant real-corpus image format, decoded by the dependency-free
    ITU-T T.81 baseline decoder (marker parse, DHT Huffman entropy
    decode with byte unstuffing, DPCM DC / run-length AC, dequant,
    de-zigzag, IDCT, level shift). The fixture's block-constant
    rasters + unity quant table make the lossy format EXACT here, so
    the oracle pins every pixel from the source text: any defect in
    the entropy decoder or IDCT hash-fails. Non-JPEG rows (odd ids)
    exercise the null path.

    Scale: same Arrow-batched shape as the other
    codecs — partition-local, no shuffle, one output row per blob;
    the per-blob Huffman decode is pure Python (swap in a native
    decoder for JPEG-heavy corpora; the plumbing stays identical)."""
    return multimodal.decode_image_features(
        _jpeg_blobs(spark, sf_dir), "doc_id", "blob"
    )


def _jpeg_progressive_blobs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same fixture geometry as ``_jpeg_blobs`` but encoded PROGRESSIVE
    (SOF2): full successive-approximation scan script — DC first/refine,
    AC first/refine over two spectral bands. Unity quant + block-
    constant rasters keep the decode EXACT, so the identical oracle
    pins every pixel through the progressive path.

    The encoded blobs are MATERIALIZED via :func:`_blob_cache` (r9):
    the pure-Python progressive encode is fixture construction, not
    the operator under test, and inlining it dominated the measured
    wall (the r8 decade row's 5.9x slope was encode-bound)."""

    def encode(data: bytes, _doc_id: int) -> bytes:
        px = _blocks(_raster(data, _JPG_BW), 8)
        return jpeg.encode_jpeg_progressive_gray(px, quant=jpeg.QUANT_UNITY)

    return _blob_cache(
        spark,
        sf_dir,
        "jpeg_progressive",
        lambda: _fixture(_documents(spark, sf_dir, spread=True), encode),
    )


@query(
    "mm_image_features_jpeg_progressive",
    oracle=f"""
WITH t AS (
  SELECT doc_id, hex(encode(text)) AS ph, len(hex(encode(text))) // 2 AS nb
  FROM documents
)
SELECT doc_id,
       CASE WHEN doc_id % 2 = 0 THEN {_JPG_BW * 8} END AS width,
       CASE WHEN doc_id % 2 = 0
            THEN CAST(8 * GREATEST(1, CAST(ceil(nb / {_JPG_BW}.0) AS INT)) AS INT)
       END AS height,
       CASE WHEN doc_id % 2 = 0
            THEN CAST({_JPG_BW * 64} * GREATEST(1, CAST(ceil(nb / {_JPG_BW}.0) AS INT)) AS BIGINT)
       END AS n_pixels,
       CASE WHEN doc_id % 2 = 0 THEN CAST(64 * coalesce(list_sum(
         [{_byteval('ph', 'i')} FOR i IN range(1, nb + 1)]), 0) AS BIGINT)
       END AS pixel_sum,
       CASE WHEN doc_id % 2 = 0 THEN CAST(coalesce(list_max(
         [{_byteval('ph', 'i')} FOR i IN range(1, nb + 1)]), 0) AS INT)
       END AS pixel_max
FROM t
""",
)
def mm_image_features_jpeg_progressive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature extraction over GENUINE PROGRESSIVE JPEG bytes (SOF2,
    T.81 Annex G — the most common non-baseline variant in real
    corpora). The distributed path decodes multi-scan successive-
    approximation streams: DC first + refinement, AC first + refinement
    per spectral band, EOBn run coding. Unity quant + block-constant
    rasters make the format exact here, so the oracle pins every
    decoded pixel from the source text — any defect in scan sequencing,
    the correction-bit protocol, or coefficient accumulation
    hash-fails. Odd ids exercise the null path.

    Scale: identical Arrow-batched topology to the
    baseline-JPEG query — partition-local, no shuffle."""
    return multimodal.decode_image_features(
        _jpeg_progressive_blobs(spark, sf_dir), "doc_id", "blob"
    )


def _wav_blobs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> (doc_id, blob): ids ≡ 1 (mod 4) become GENUINE
    RIFF/WAVE mono PCM16 files (sample_i = (byte_i - 128) * 256);
    the rest stay raw text bytes (the operator must skip them)."""

    def encode(data: bytes, _doc_id: int) -> bytes:
        samples = (np.frombuffer(data, np.uint8).astype(np.int64) - 128) * 256
        return multimodal.encode_wav_pcm16(samples)

    return _fixture(_documents(spark, sf_dir), encode, modulus=4, residue=1)


@query(
    "mm_audio_windows_wav",
    oracle=f"""
WITH aud AS (
  SELECT doc_id, hex(encode(text)) AS ph
  FROM documents WHERE doc_id % 4 = 1
),
samples AS (
  SELECT doc_id,
         i - 1 AS si,
         (i - 1) // {multimodal.AUDIO_WINDOW} AS win_idx,
         ({_byteval('ph', 'i')} - 128) * 256 AS v
  FROM aud, LATERAL unnest(range(1, len(ph) // 2 + 1)) AS t(i)
),
flagged AS (
  SELECT doc_id, win_idx, v,
         CASE WHEN si % {multimodal.AUDIO_WINDOW} > 0
               AND (v >= 0) <> (LAG(v) OVER (PARTITION BY doc_id ORDER BY si) >= 0)
              THEN 1 ELSE 0 END AS zc
  FROM samples
)
SELECT doc_id, CAST(win_idx AS BIGINT) AS win_idx,
       COUNT(*) AS n_samples,
       CAST(SUM(v * v) AS BIGINT) AS energy_sum,
       CAST(SUM(zc) AS BIGINT) AS zero_crossings
FROM flagged
GROUP BY doc_id, win_idx
""",
)
def mm_audio_windows_wav(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed audio features over GENUINE RIFF/WAVE PCM16 bytes:
    the fixture writes real WAV files (fmt + data chunks) and the
    operator's native chunk-walking parser must recover every int16
    sample exactly — energy sums are 65536x the 8-bit fixture's, all
    integer-exact. Non-WAV rows exercise the skip path."""
    return multimodal.audio_window_features(
        _wav_blobs(spark, sf_dir), "doc_id", "blob"
    )


def _ulaw_blobs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> (doc_id, blob): ids ≡ 3 (mod 4) become GENUINE
    G.711 µ-law RIFF/WAVE files (format tag 7, mono 8-bit) whose data
    chunk stores the utf-8 text bytes verbatim as codewords — the
    decoder's ITU-T expansion table is exactly what the oracle then
    recomputes; the rest stay raw text bytes (skip path)."""

    def encode(data: bytes, _doc_id: int) -> bytes:
        codewords = np.frombuffer(data, np.uint8)
        return multimodal.encode_wav_g711(codewords, law=multimodal.WAV_FMT_ULAW)

    return _fixture(_documents(spark, sf_dir), encode, modulus=4, residue=3)


def _ulaw_sql(byte_expr: str) -> str:
    u = f"(255 - ({byte_expr}))"
    mag = f"((({u} % 16) * 8 + 132) * (1 << (({u} // 16) % 8)) - 132)"
    return f"(CASE WHEN {u} >= 128 THEN -{mag} ELSE {mag} END)"


@query(
    "mm_audio_windows_ulaw",
    oracle=f"""
WITH aud AS (
  SELECT doc_id, hex(encode(text)) AS ph
  FROM documents WHERE doc_id % 4 = 3
),
samples AS (
  SELECT doc_id,
         i - 1 AS si,
         (i - 1) // {multimodal.AUDIO_WINDOW} AS win_idx,
         {_ulaw_sql(_byteval('ph', 'i'))} AS v
  FROM aud, LATERAL unnest(range(1, len(ph) // 2 + 1)) AS t(i)
),
flagged AS (
  SELECT doc_id, win_idx, v,
         CASE WHEN si % {multimodal.AUDIO_WINDOW} > 0
               AND (v >= 0) <> (LAG(v) OVER (PARTITION BY doc_id ORDER BY si) >= 0)
              THEN 1 ELSE 0 END AS zc
  FROM samples
)
SELECT doc_id, CAST(win_idx AS BIGINT) AS win_idx,
       COUNT(*) AS n_samples,
       CAST(SUM(v * v) AS BIGINT) AS energy_sum,
       CAST(SUM(zc) AS BIGINT) AS zero_crossings
FROM flagged
GROUP BY doc_id, win_idx
""",
)
def mm_audio_windows_ulaw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed audio features over GENUINE G.711 µ-law telephony WAV
    bytes: the operator's chunk parser reads format tag 7 and expands
    every 8-bit codeword through the exact ITU-T µ-law table; the
    oracle recomputes the expansion algebraically from the source
    bytes, so a single wrong table entry (sign convention, bias,
    segment shift) hash-fails. Non-WAV rows exercise the skip path.

    Scale: identical shape to mm_audio_windows_wav — Arrow-batched
    decode, windowed integer aggregation, no extra
    shuffle."""
    return multimodal.audio_window_features(
        _ulaw_blobs(spark, sf_dir), "doc_id", "blob"
    )


_RS_W = multimodal.FAKE_IMAGE_WIDTH
_RS_F = 2
_RS_NEW_W = -(-_RS_W // _RS_F)


@query(
    "mm_resize_nearest",
    oracle=f"""
WITH {_BLOB_CTE}
SELECT doc_id,
       CASE WHEN is_img THEN {_RS_NEW_W} END AS new_width,
       CASE WHEN is_img THEN CAST((len(ph) // 2) // {_RS_W} AS BIGINT) END AS new_height,
       CASE WHEN is_img THEN md5(array_to_string(
         [substr(ph, (i - 1) * 2 + 1, 2)
          FOR i IN range(1, ((len(ph) // 2) // {_RS_W}) * {_RS_W} + 1)
          IF ((i - 1) % {_RS_W}) % {_RS_F} = 0], ''
       )) END AS resized_md5
FROM payloads
""",
)
def mm_resize_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-neighbor downsample (Python strided numpy view);
    the oracle reselects the identical pixel columns from the hex
    rendering, so the resized payload is value-gated byte-for-byte."""
    out = multimodal.resize_image(_blobs(spark, sf_dir), "doc_id", "blob", _RS_W, _RS_F)
    return out.select(
        "doc_id",
        "new_width",
        "new_height",
        F.when(F.col("resized").isNotNull(), F.md5(F.hex("resized"))).alias("resized_md5"),
    )


_AMAGIC = multimodal.FAKE_AUDIO_MAGIC_HEX
_AWIN = multimodal.AUDIO_WINDOW


def _audio_blobs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> (doc_id, blob): ids ≡ 1 (mod 4) get the FAUD
    magic (a mixed corpus: the operator must skip the rest)."""
    docs = table(spark, sf_dir, "documents")
    blob_hex = F.when(
        F.col("doc_id") % 4 == 1,
        F.concat(F.lit(_AMAGIC), F.hex(F.encode("text", "UTF-8"))),
    ).otherwise(F.hex(F.encode("text", "UTF-8")))
    return docs.select("doc_id", F.unhex(blob_hex).alias("blob"))


@query(
    "mm_audio_windows",
    oracle=f"""
WITH ablobs AS (
  SELECT doc_id,
         CASE WHEN doc_id % 4 = 1
              THEN '{_AMAGIC}' || hex(encode(text))
              ELSE hex(encode(text)) END AS blob_hex
  FROM documents
),
aud AS (
  SELECT doc_id, substr(blob_hex, 9) AS ph
  FROM ablobs WHERE substr(blob_hex, 1, 8) = '{_AMAGIC}'
),
samples AS (
  SELECT doc_id,
         i - 1 AS si,
         (i - 1) // {_AWIN} AS win_idx,
         {_byteval('ph', 'i')} AS v
  FROM aud, LATERAL unnest(range(1, len(ph) // 2 + 1)) AS t(i)
),
flagged AS (
  SELECT doc_id, win_idx, v,
         CASE WHEN si % {_AWIN} > 0
               AND (v >= 128) <> (LAG(v) OVER (PARTITION BY doc_id ORDER BY si) >= 128)
              THEN 1 ELSE 0 END AS zc
  FROM samples
)
SELECT doc_id, CAST(win_idx AS BIGINT) AS win_idx,
       COUNT(*) AS n_samples,
       CAST(SUM((v - 128) * (v - 128)) AS BIGINT) AS energy_sum,
       CAST(SUM(zc) AS BIGINT) AS zero_crossings
FROM flagged
GROUP BY doc_id, win_idx
""",
)
def mm_audio_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python (stubbed-codec) windowed audio features — integer-
    exact energy and zero-crossing counts, recomputed byte-for-byte by
    the oracle from the hex rendering."""
    return multimodal.audio_window_features(_audio_blobs(spark, sf_dir), "doc_id", "blob")


_SC_FB = multimodal.FRAME_BYTES
_SC_THR = multimodal.SCENE_CUT_THRESHOLD


@query(
    "mm_scene_cuts",
    oracle=f"""
WITH {_BLOB_CTE},
framed AS (
  SELECT doc_id, ph,
         CAST(ceil(len(ph) / {_SC_FB * 2.0}) AS INT) AS n_frames
  FROM payloads
),
f AS (
  SELECT doc_id, CAST(i AS BIGINT) AS frame_idx,
         {_byteval('ph', f'(i*{_SC_FB}+1)')} AS sig
  FROM framed, unnest(range(0, n_frames)) AS t(i)
),
l AS (
  SELECT doc_id, frame_idx, sig,
         LAG(sig) OVER (PARTITION BY doc_id ORDER BY frame_idx) AS prev
  FROM f
)
SELECT doc_id, frame_idx, CAST(sig AS INT) AS sig,
       (prev IS NULL OR abs(sig - prev) >= {_SC_THR}) AS is_cut,
       CAST(SUM(CASE WHEN prev IS NULL OR abs(sig - prev) >= {_SC_THR}
                     THEN 1 ELSE 0 END)
            OVER (PARTITION BY doc_id ORDER BY frame_idx
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS scene_id
FROM l
""",
)
def mm_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scene-change detection + scene numbering over video-ish blobs
    (operators/multimodal.py scene_cuts): per-frame signature byte,
    lag-threshold cuts, running cumsum as the scene id — the temporal
    segmentation pass of a video pipeline, value-gated byte-exactly.

    Scale: narrow frame explode; one shuffle on the video id for the
    lag/cumsum window."""
    return multimodal.scene_cuts(_blobs(spark, sf_dir), "doc_id", "blob")


_PH_CELLS = multimodal.PHASH_CELLS


@query(
    "mm_phash_dedup",
    oracle=f"""
WITH {_BLOB_CTE},
imgs AS (
  SELECT doc_id, ph FROM payloads WHERE is_img
),
cells AS (
  SELECT doc_id,
         [CASE WHEN i <= len(ph) // 2 THEN {_byteval('ph', 'i')} ELSE 0 END
          FOR i IN range(1, {_PH_CELLS} + 1)] AS v
  FROM imgs
),
hashed AS (
  SELECT doc_id,
         array_to_string(
           [CASE WHEN x > list_sum(v) // {_PH_CELLS} THEN '1' ELSE '0' END
            FOR x IN v], '') AS ahash
  FROM cells
)
SELECT ahash, MIN(doc_id) AS canonical_id, COUNT(*) AS n_images
FROM hashed GROUP BY ahash
""",
)
def mm_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash (aHash) image dedup: stub-codec Python
    hashing (threshold-at-mean bit string over the leading pixel
    grid), then one hash-groupBy — image near-dup collapse with the
    exact-dedup plan shape, never pairwise; the oracle recomputes
    every hash byte-exactly from the hex rendering."""
    return multimodal.phash_duplicate_groups(_blobs(spark, sf_dir), "doc_id", "blob")


@query(
    "mm_frame_dedup",
    oracle=f"""
WITH {_BLOB_CTE},
framed AS (
  SELECT doc_id, ph,
         CAST(ceil(len(ph) / {multimodal.FRAME_BYTES * 2.0}) AS INT) AS n_frames
  FROM payloads
),
frames AS (
  SELECT doc_id,
         md5(substr(ph, i * {multimodal.FRAME_BYTES * 2} + 1,
                    {multimodal.FRAME_BYTES * 2})) AS frame_md5
  FROM framed, unnest(range(0, n_frames)) AS t(i)
)
SELECT frame_md5,
       MIN(doc_id) AS canonical_doc,
       COUNT(*) AS n_occurrences,
       COUNT(DISTINCT doc_id) AS n_docs
FROM frames
GROUP BY frame_md5
HAVING COUNT(DISTINCT doc_id) >= 2
""",
)
def mm_frame_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-video duplicate-frame detection: every sampled frame's
    content digest (stride 1 — all frames) hash-groups across the
    corpus; digests seen in >= 2 distinct videos are shared segments
    (intros, ads, reposts — what video-corpus dedup actually hunts).
    Exact-dedup plan shape on a uniform 128-bit key: one shuffle,
    never pairwise."""
    frames = multimodal.frame_sample(
        _blobs(spark, sf_dir), "doc_id", "blob", every=1
    )
    return (
        frames.groupBy("frame_md5")
        .agg(
            F.min("doc_id").alias("canonical_doc"),
            F.count(F.lit(1)).alias("n_occurrences"),
            F.count_distinct("doc_id").alias("n_docs"),
        )
        .filter(F.col("n_docs") >= 2)
    )


#: Audio fingerprint: top-k energy windows per doc form the landmarks;
#: landmark pairs (bucketed energies + window gap) are the hash keys.
AFP_TOP_WINDOWS = 5
AFP_ENERGY_BUCKET = 1024


_AUDIO_WINDOWS_CTE = f"""
ablobs AS (
  SELECT doc_id,
         CASE WHEN doc_id % 4 = 1
              THEN '{_AMAGIC}' || hex(encode(text))
              ELSE hex(encode(text)) END AS blob_hex
  FROM documents
),
aud AS (
  SELECT doc_id, substr(blob_hex, 9) AS ph
  FROM ablobs WHERE substr(blob_hex, 1, 8) = '{_AMAGIC}'
),
samples AS (
  SELECT doc_id,
         (i - 1) // {_AWIN} AS win_idx,
         {_byteval('ph', 'i')} AS v
  FROM aud, LATERAL unnest(range(1, len(ph) // 2 + 1)) AS t(i)
),
wins AS (
  SELECT doc_id, win_idx, SUM((v - 128) * (v - 128)) AS energy_sum
  FROM samples GROUP BY doc_id, win_idx
)
"""


@query(
    "mm_audio_fingerprint_match",
    oracle=f"""
WITH {_AUDIO_WINDOWS_CTE},
peaks AS (
  SELECT doc_id, win_idx, energy_sum,
         ROW_NUMBER() OVER (PARTITION BY doc_id
                            ORDER BY energy_sum DESC, win_idx) AS rk
  FROM wins
),
landmarks AS (SELECT doc_id, win_idx, energy_sum FROM peaks WHERE rk <= {AFP_TOP_WINDOWS}),
fp AS (
  SELECT a.doc_id,
         md5(CAST(a.energy_sum // {AFP_ENERGY_BUCKET} AS VARCHAR) || '|' ||
             CAST(b.energy_sum // {AFP_ENERGY_BUCKET} AS VARCHAR) || '|' ||
             CAST(b.win_idx - a.win_idx AS VARCHAR)) AS fp_hash
  FROM landmarks a JOIN landmarks b
    ON a.doc_id = b.doc_id AND a.win_idx < b.win_idx
)
SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, COUNT(*) AS n_shared_landmarks
FROM fp x JOIN fp y ON x.fp_hash = y.fp_hash AND x.doc_id < y.doc_id
GROUP BY x.doc_id, y.doc_id
""",
)
def mm_audio_fingerprint_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio fingerprint matching (Shazam-style landmark pairs): per
    audio blob, the top-{AFP} energy windows are landmarks; each
    ordered landmark pair hashes (bucketed energy, bucketed energy,
    window gap) into a fingerprint key, and blobs sharing keys are
    candidate duplicated/overlapping recordings.

    Scale: landmark extraction is the audio-window pipeline + a
    WindowGroupLimit top-k per doc (map-side pruned); per-doc pair
    fan-out is bounded at k*(k-1)/2 = 10 rows; matching is one
    equi-join on a uniform 128-bit key — the inverted-index shape,
    never all-pairs over blobs.
    """
    wins = multimodal.audio_window_features(
        _audio_blobs(spark, sf_dir), "doc_id", "blob"
    )
    from pyspark.sql import Window

    rk = Window.partitionBy("doc_id").orderBy(F.desc("energy_sum"), "win_idx")
    marks = (
        wins.withColumn("rk", F.row_number().over(rk))
        .filter(F.col("rk") <= AFP_TOP_WINDOWS)
        .select("doc_id", "win_idx", "energy_sum")
    )
    a = marks.select(
        F.col("doc_id"), F.col("win_idx").alias("wa"), F.col("energy_sum").alias("ea")
    )
    b = marks.select(
        F.col("doc_id"), F.col("win_idx").alias("wb"), F.col("energy_sum").alias("eb")
    )
    fp = (
        a.join(b, "doc_id")
        .filter(F.col("wa") < F.col("wb"))
        .select(
            "doc_id",
            F.md5(
                F.concat_ws(
                    "|",
                    F.expr(f"ea div {AFP_ENERGY_BUCKET}"),
                    F.expr(f"eb div {AFP_ENERGY_BUCKET}"),
                    (F.col("wb") - F.col("wa")).cast("string"),
                )
            ).alias("fp_hash"),
        )
    )
    x = fp.select(F.col("doc_id").alias("doc_a"), "fp_hash")
    y = fp.select(F.col("doc_id").alias("doc_b"), "fp_hash")
    return (
        x.join(y, "fp_hash")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared_landmarks"))
    )


# ---------------------------------------------------------------------------
# mm_image_features_jpeg_color — per-channel features over COLOR JPEG bytes
# ---------------------------------------------------------------------------


def _jpeg_color(data: bytes, width: int, block: int) -> bytes:
    """A GENUINE baseline YCbCr 4:4:4 JPEG (unity quantization) whose
    planes hold one constant ``block`` x ``block`` cell per byte b of
    ``data``, ``width`` cells per row: Y = b, Cb = 255 - b,
    Cr = (2b) % 256 (zero-padded cells follow the same formulas)."""
    grid = _raster(data, width)
    planes = (grid, 255 - grid, (grid.astype(np.int64) * 2 % 256).astype(np.uint8))
    y, cb, cr = (_blocks(p, block) for p in planes)
    return jpeg.encode_jpeg_color(y, cb, cr, jpeg.QUANT_UNITY, jpeg.QUANT_UNITY)


def _jpeg_color_blobs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> (doc_id, blob): even ids become GENUINE baseline
    YCbCr 4:4:4 JPEGs through the real color entropy encoder, one
    constant 8x8 block per utf-8 byte of the text in each plane
    (:func:`_jpeg_color`) — so with unity quantization every
    decoded pixel of every plane is pinned by the source text (see the
    block-constant exactness argument in operators/jpeg.py). Odd ids
    stay raw text bytes (null path)."""
    return _fixture(
        _documents(spark, sf_dir, spread=True),
        lambda data, _doc_id: _jpeg_color(data, _JPG_BW, 8),
    )


@query(
    "mm_image_features_jpeg_color",
    oracle=f"""
WITH t AS (
  SELECT doc_id, hex(encode(text)) AS ph, len(hex(encode(text))) // 2 AS nb
  FROM documents
),
g AS (
  SELECT doc_id, nb,
         GREATEST(1, CAST(ceil(nb / {_JPG_BW}.0) AS INT)) AS bh,
         coalesce(list_sum(
           [{_byteval('ph', 'i')} FOR i IN range(1, nb + 1)]), 0) AS sum_b,
         coalesce(list_sum(
           [(({_byteval('ph', 'i')}) * 2) % 256
            FOR i IN range(1, nb + 1)]), 0) AS sum_2b
  FROM t
)
SELECT doc_id,
       CASE WHEN doc_id % 2 = 0 THEN {_JPG_BW * 8} END AS width,
       CASE WHEN doc_id % 2 = 0 THEN CAST(8 * bh AS INT) END AS height,
       CASE WHEN doc_id % 2 = 0
            THEN CAST({_JPG_BW * 64} * bh AS BIGINT) END AS n_pixels,
       CASE WHEN doc_id % 2 = 0 THEN CAST(64 * sum_b AS BIGINT) END AS y_sum,
       CASE WHEN doc_id % 2 = 0
            THEN CAST(64 * (255 * {_JPG_BW} * bh - sum_b) AS BIGINT)
       END AS cb_sum,
       CASE WHEN doc_id % 2 = 0 THEN CAST(64 * sum_2b AS BIGINT) END AS cr_sum
FROM g
""",
)
def mm_image_features_jpeg_color(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-channel feature extraction over GENUINE COLOR JPEG bytes —
    full baseline YCbCr decode (two quantization tables, four Huffman
    tables, interleaved MCU scan) through the dependency-free T.81
    codec, reporting exact integer pixel sums per plane. The fixture's
    block-constant planes + unity quant make the lossy format EXACT,
    so the oracle pins every pixel of all three channels from the
    source text: a defect anywhere in the color path (chroma table
    selection, MCU interleave order, per-component DC predictors,
    upsampling) hash-fails. Odd ids exercise the null path.

    Scale: same Arrow-batched shape as the grayscale
    JPEG query — partition-local, no shuffle, one row per blob."""
    return multimodal.decode_image_features_ycbcr(
        _jpeg_color_blobs(spark, sf_dir), "doc_id", "blob"
    )


# ---------------------------------------------------------------------------
# mm_thumbnail_jpeg — decode -> downsample -> RE-ENCODE -> decode, exact
# ---------------------------------------------------------------------------

#: Thumbnail fixture grid width (cells per row; each cell is a
#: CONSTANT 16x16 block so the 2x box filter lands on 8x8-constant
#: blocks — the exactness condition in operators/multimodal.py
#: thumbnail_jpeg).
_THUMB_BW = 2
#: Source-byte cap: 16x16 cells mean 4 entropy-coded blocks per text
#: byte and the job runs the pure-Python codec FOUR times per blob
#: (fixture encode, decode, re-encode, readout decode), so the fixture
#: thumbnails the first 64 bytes — plenty to pin both codec
#: directions without quadrupling the bench's slowest row.
_THUMB_MAXB = 64


@query(
    "mm_thumbnail_jpeg",
    oracle=f"""
WITH t AS (
  SELECT doc_id, hex(encode(text)) AS ph,
         LEAST(len(hex(encode(text))) // 2, {_THUMB_MAXB}) AS nb
  FROM documents
),
g AS (
  SELECT doc_id, nb,
         GREATEST(1, CAST(ceil(nb / {_THUMB_BW}.0) AS INT)) AS bh,
         coalesce(list_sum(
           [{_byteval('ph', 'i')} FOR i IN range(1, nb + 1)]), 0) AS sum_b,
         coalesce(list_sum(
           [(({_byteval('ph', 'i')}) * 2) % 256
            FOR i IN range(1, nb + 1)]), 0) AS sum_2b
  FROM t
)
SELECT doc_id,
       CASE WHEN doc_id % 2 = 0 THEN {_THUMB_BW * 8} END AS width,
       CASE WHEN doc_id % 2 = 0 THEN CAST(8 * bh AS INT) END AS height,
       CASE WHEN doc_id % 2 = 0
            THEN CAST({_THUMB_BW * 64} * bh AS BIGINT) END AS n_pixels,
       CASE WHEN doc_id % 2 = 0 THEN CAST(64 * sum_b AS BIGINT) END AS y_sum,
       CASE WHEN doc_id % 2 = 0
            THEN CAST(64 * (255 * {_THUMB_BW} * bh - sum_b) AS BIGINT)
       END AS cb_sum,
       CASE WHEN doc_id % 2 = 0 THEN CAST(64 * sum_2b AS BIGINT) END AS cr_sum
FROM g
""",
)
def mm_thumbnail_jpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The decode -> box-filter downsample -> RE-ENCODE -> decode
    pipeline over genuine color JPEG bytes: thumbnails are the
    canonical image-ingest transform, and this query runs BOTH
    directions of the codec inside the job (the re-encoded thumbnail
    is itself entropy-decoded for the feature readout). The fixture's
    16x16-block-constant planes make every stage exact (2x mean
    pooling is the identity on constants; unity quant re-encode of the
    resulting 8x8-constant planes is lossless), so the oracle pins
    every pixel of every channel of the THUMBNAIL from the source
    text — any defect in either codec direction or the pooling
    hash-fails. Odd ids exercise the null path end-to-end.

    Scale: ONE Arrow-batched Python stage, partition-local, no
    shuffle beyond the parallelizing repartition, one row per blob.
    The fixture build, both codec directions, and the feature readout
    compose per blob inside a single row function (r13 opt, guide
    §4.1: the former three chained Python stages serialized every
    source blob and every thumbnail across the JVM/Python boundary
    twice each for transforms that are 1:1 and partition-local; the
    fused stage reuses the fixture's and the operators' own per-blob
    helpers — ``_jpeg_color`` / ``_thumb_bytes`` / ``_ycbcr_features``
    — so the per-blob composition, and hence every output value, is
    unchanged)."""

    def thumb_features(doc_id: int, text: str):
        data = text.encode("utf-8")[:_THUMB_MAXB]
        blob = _jpeg_color(data, _THUMB_BW, 16) if doc_id % 2 == 0 else data
        thumb = multimodal._thumb_bytes(blob, 2, jpeg.QUANT_UNITY, jpeg.QUANT_UNITY)
        return None if thumb is None else multimodal._ycbcr_features(thumb)

    return multimodal.map_blobs(
        _documents(spark, sf_dir, spread=True),
        "doc_id",
        "text",
        multimodal.YCBCR_FEATURES_SCHEMA,
        thumb_features,
    )
