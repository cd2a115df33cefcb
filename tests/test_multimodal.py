"""Multimodal operator unit tests (the oracle gate covers values at
corpus scale; these pin edge semantics + the stub contract + the
conversion-layer tie-in for binary media columns)."""

from __future__ import annotations

import hashlib

import pytest

from protarrow_spark.config import ProtarrowSparkConfig
from protarrow_spark.conversion import dataframe_to_messages, messages_to_dataframe
from protarrow_spark.operators import multimodal
from protarrow_spark.proto.message import Message
from protarrow_spark.proto.model import Field, Kind, MessageType


def _blob_df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, blob binary")


def test_blob_metadata_sniff_and_digest(spark) -> None:
    img = multimodal.FAKE_IMAGE_MAGIC + b"\x01\x02\x03"
    raw = b"hello"
    df = _blob_df(spark, [(1, img), (2, raw)])
    out = {r["doc_id"]: r for r in multimodal.blob_metadata(df, "doc_id", "blob").collect()}
    assert out[1]["media_type"] == "image/fake"
    assert out[1]["size_bytes"] == 7 and out[1]["payload_bytes"] == 3
    assert out[1]["payload_md5"] == hashlib.md5(b"010203").hexdigest()
    assert out[2]["media_type"] == "application/octet-stream"
    assert out[2]["payload_bytes"] == 5
    assert out[2]["payload_md5"] == hashlib.md5(b"68656C6C6F").hexdigest()


def test_frame_sample_stride_and_ragged_tail(spark) -> None:
    payload = bytes(range(100))  # 4 frames of 32: 32+32+32+4
    df = _blob_df(spark, [(1, multimodal.FAKE_IMAGE_MAGIC + payload)])
    rows = sorted(
        multimodal.frame_sample(df, "doc_id", "blob").collect(),
        key=lambda r: r["frame_idx"],
    )
    assert [r["frame_idx"] for r in rows] == [0, 2]  # every 2nd frame
    assert rows[0]["frame_bytes"] == 32
    assert rows[1]["frame_bytes"] == 32
    df2 = _blob_df(spark, [(2, multimodal.FAKE_IMAGE_MAGIC + bytes(10))])
    (only,) = multimodal.frame_sample(df2, "doc_id", "blob").collect()
    assert only["frame_bytes"] == 10  # ragged single frame


def test_image_features_values_and_nulls(spark) -> None:
    px = bytes([10, 20, 250] * 11)  # 33 pixels -> 16-wide, height 3
    df = _blob_df(
        spark,
        [(1, multimodal.FAKE_IMAGE_MAGIC + px), (2, b"not an image")],
    )
    out = {
        r["doc_id"]: r
        for r in multimodal.decode_image_features(df, "doc_id", "blob").collect()
    }
    assert out[1]["width"] == 16 and out[1]["height"] == 3
    assert out[1]["n_pixels"] == 33
    assert out[1]["pixel_sum"] == sum(px) and out[1]["pixel_max"] == 250
    assert out[2]["width"] is None and out[2]["pixel_sum"] is None


@pytest.mark.parametrize(
    "op",
    [
        "decode_image_features",
        "decode_image_features_ycbcr",
        "thumbnail_jpeg",
        "resize_image",
        "image_phash",
        "audio_window_features",
    ],
)
def test_null_blob_takes_the_null_path(spark, op) -> None:
    """A null blob is a non-image: the 1:1 operators emit the all-null
    row and keep its doc_id, the windowing operator emits no rows."""
    df = _blob_df(spark, [(1, None), (2, b"xx")])
    rows = getattr(multimodal, op)(df, "doc_id", "blob").collect()
    if op == "audio_window_features":
        assert rows == []
        return
    assert sorted(r["doc_id"] for r in rows) == [1, 2]
    assert all(v is None for r in rows for k, v in r.asDict().items() if k != "doc_id")


def test_real_codec_is_explicit_stub() -> None:
    # PNG/GIF/JPEG are real decoders now; WebP remains the documented
    # boundary of the dependency-free dispatch.
    with pytest.raises(NotImplementedError, match="WebP"):
        multimodal.decode_real_image(b"RIFF\x00\x00\x00\x00WEBPVP8 ")


MEDIA_META = MessageType(
    "t.MediaMeta",
    (
        Field("media_type", 1, Kind.STRING),
        Field("width", 2, Kind.INT32),
        Field("height", 3, Kind.INT32),
    ),
)
MEDIA_BLOB = MessageType(
    "t.MediaBlob",
    (
        Field("doc_id", 1, Kind.INT64),
        Field("payload", 2, Kind.BYTES),
        Field("meta", 3, Kind.MESSAGE, message=MEDIA_META),
    ),
)


def test_media_blobs_ride_the_conversion_layer(spark) -> None:
    """Binary media columns + typed metadata round-trip through the
    proto conversion surface (bytes -> BinaryType, metadata struct)."""
    cfg = ProtarrowSparkConfig()
    msgs = [
        Message(
            MEDIA_BLOB,
            doc_id=1,
            payload=multimodal.FAKE_IMAGE_MAGIC + bytes(64),
            meta=Message(MEDIA_META, media_type="image/fake", width=16, height=4),
        ),
        Message(MEDIA_BLOB, doc_id=2, payload=b"\x00\xff"),
    ]
    df = messages_to_dataframe(spark, msgs, MEDIA_BLOB, cfg)
    feats = multimodal.decode_image_features(df, "doc_id", "payload").collect()
    assert {r["doc_id"]: r["n_pixels"] for r in feats} == {1: 64, 2: None}
    assert dataframe_to_messages(df, MEDIA_BLOB, cfg) == msgs


def test_resize_nearest_semantics(spark):
    """Column downsampling keeps every factor-th pixel of full rows;
    ragged trailing row is dropped; non-images pass through null."""
    from protarrow_spark.operators.multimodal import FAKE_IMAGE_MAGIC, resize_image

    px = bytes(range(16 * 2 + 5))  # two full 16px rows + ragged 5
    rows = [
        (1, FAKE_IMAGE_MAGIC + px),
        (2, b"not an image"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, blob binary")
    got = {r["doc_id"]: r for r in resize_image(df, "doc_id", "blob").collect()}
    expected = bytes(
        b for r in range(2) for b in px[r * 16 : (r + 1) * 16 : 2]
    )
    assert bytes(got[1]["resized"]) == expected
    assert got[1]["new_width"] == 8 and got[1]["new_height"] == 2
    assert got[2]["resized"] is None and got[2]["new_width"] is None


def test_audio_window_features_skips_non_audio(spark):
    """Mixed corpus: only FAUD blobs produce windows; energy and
    zero-crossings are integer-exact for a known payload."""
    from protarrow_spark.operators import multimodal as mm

    rows = [
        (1, mm.FAKE_AUDIO_MAGIC + bytes([128, 130, 126, 130])),
        (2, b"plain bytes, no magic"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, blob binary")
    got = {r["doc_id"]: r for r in mm.audio_window_features(df, "doc_id", "blob").collect()}
    assert set(got) == {1}
    r = got[1]
    assert r["n_samples"] == 4
    # deviations: 0, 2, -2, 2 -> energy 0+4+4+4
    assert r["energy_sum"] == 12
    # classes: hi hi lo hi -> crossings at i=2 and i=3
    assert r["zero_crossings"] == 2


# ---------------------------------------------------------------------------
# REAL codecs: BMP + WAV golden literals (hand-built from the public
# format specs, independent of the repo's own encoders)
# ---------------------------------------------------------------------------

# 2x2 24-bit BMP, bottom-up, rows padded to 4 bytes (2*3=6 -> 8).
# Pixel grid (top-down, BGR): row0 = [(0,0,255) red, (0,255,0) green]
#                             row1 = [(255,0,0) blue, (10,10,10) gray]
_GOLDEN_BMP = (
    b"BM" + (54 + 16).to_bytes(4, "little") + b"\x00\x00\x00\x00"
    + (54).to_bytes(4, "little")
    + (40).to_bytes(4, "little")
    + (2).to_bytes(4, "little") + (2).to_bytes(4, "little", signed=True)
    + (1).to_bytes(2, "little") + (24).to_bytes(2, "little")
    + (0).to_bytes(4, "little") + (16).to_bytes(4, "little")
    + (2835).to_bytes(4, "little") * 2 + b"\x00" * 8
    # bottom-up: storage row 0 is the IMAGE'S BOTTOM row (blue, gray)
    + b"\xff\x00\x00" + b"\x0a\x0a\x0a" + b"\x00\x00"
    + b"\x00\x00\xff" + b"\x00\xff\x00" + b"\x00\x00"
)


def test_decode_golden_bmp_literal() -> None:
    w, h, gray = multimodal.decode_bmp_gray(_GOLDEN_BMP)
    assert (w, h) == (2, 2)
    # BT.601 integer luma: red=(299*255)//1000=76, green=(587*255)//1000=149,
    # blue=(114*255)//1000=29, gray(10,10,10)=10; top-down row order
    assert gray.tolist() == [[76, 149], [29, 10]]


def test_bmp_encode_decode_inverse_and_unsupported() -> None:
    import numpy as np

    px = np.arange(40, dtype=np.uint8).reshape(5, 8)
    blob = multimodal.encode_bmp_gray(px)
    w, h, gray = multimodal.decode_bmp_gray(blob)
    assert (w, h) == (8, 5) and (gray == px).all()
    assert multimodal.decode_bmp_gray(b"nope") is None
    bad = bytearray(blob)
    bad[28:30] = (8).to_bytes(2, "little")  # 8bpp palette BMP
    with pytest.raises(NotImplementedError, match="24-bit"):
        multimodal.decode_bmp_gray(bytes(bad))


def test_decode_golden_pgm_literal() -> None:
    # hand-written spec file: comment line + multi-space separators
    blob = b"P5\n# two by two\n2 2\n255\n" + bytes([0, 128, 255, 7])
    w, h, gray = multimodal.decode_pgm_gray(blob)
    assert (w, h) == (2, 2)
    assert gray.tolist() == [[0, 128], [255, 7]]


def test_pgm_encode_decode_inverse_and_unsupported() -> None:
    import numpy as np

    px = np.arange(40, dtype=np.uint8).reshape(5, 8)
    blob = multimodal.encode_pgm_gray(px)
    w, h, gray = multimodal.decode_pgm_gray(blob)
    assert (w, h) == (8, 5) and (gray == px).all()
    assert multimodal.decode_pgm_gray(b"P6\n...") is None  # PPM, not PGM
    with pytest.raises(NotImplementedError, match="16-bit"):
        multimodal.decode_pgm_gray(b"P5\n2 2\n65535\n" + b"\x00" * 8)


def test_magic_prefixed_garbage_takes_null_path() -> None:
    """Blobs that merely START with a codec magic must decode to None
    (the operator's null path), never raise — one bad blob must not
    abort a whole Python stage."""
    # 'P5'-prefixed text, non-numeric header token
    assert multimodal.decode_pgm_gray(b"P5 is a codename, not a file") is None
    # truncated raster (header promises 16 pixels, 2 present)
    assert multimodal.decode_pgm_gray(b"P5\n4 4\n255\n\x00\x01") is None
    # header runs off the end
    assert multimodal.decode_pgm_gray(b"P5\n2 2\n255") is None
    # 'BM'-prefixed but truncated BMP body
    import numpy as np

    blob = multimodal.encode_bmp_gray(np.zeros((4, 4), dtype=np.uint8))
    assert multimodal.decode_bmp_gray(blob[: len(blob) - 10]) is None


def test_image_features_unsupported_variant_takes_null_path(spark) -> None:
    """Text that starts with 'BM' or 'P5' parses as an unsupported
    BMP/PGM variant (the decoders raise NotImplementedError): the
    operator emits the all-null row for it rather than failing the
    task."""
    df = _blob_df(
        spark,
        [
            (1, b"BMW drivers often say the ride is smooth; reviewers agree on this point too."),
            (2, b"P5 1 1 300 x"),
        ],
    )
    rows = multimodal.decode_image_features(df, "doc_id", "blob").collect()
    assert sorted(r["doc_id"] for r in rows) == [1, 2]
    assert all(v is None for r in rows for k, v in r.asDict().items() if k != "doc_id")


# minimal RIFF/WAVE, mono PCM16, 3 samples [1000, -2, 32767]
_GOLDEN_WAV = (
    b"RIFF" + (4 + 24 + 8 + 6 + 1).to_bytes(4, "little") + b"WAVE"
    + b"fmt " + (16).to_bytes(4, "little")
    + (1).to_bytes(2, "little") + (1).to_bytes(2, "little")
    + (8000).to_bytes(4, "little") + (16000).to_bytes(4, "little")
    + (2).to_bytes(2, "little") + (16).to_bytes(2, "little")
    + b"data" + (6).to_bytes(4, "little")
    + (1000).to_bytes(2, "little") + (-2).to_bytes(2, "little", signed=True)
    + (32767).to_bytes(2, "little")
)


def test_decode_golden_wav_literal() -> None:
    samples = multimodal.decode_wav_pcm16(_GOLDEN_WAV)
    assert samples.tolist() == [1000, -2, 32767]


def test_wav_encode_decode_inverse_and_unsupported() -> None:
    samples = [-32768, -1, 0, 1, 32767, 12345]
    blob = multimodal.encode_wav_pcm16(samples)
    assert multimodal.decode_wav_pcm16(blob).tolist() == samples
    assert multimodal.decode_wav_pcm16(b"not audio") is None
    bad = bytearray(blob)
    bad[22:24] = (2).to_bytes(2, "little")  # stereo
    with pytest.raises(NotImplementedError, match="mono PCM16"):
        multimodal.decode_wav_pcm16(bytes(bad))


def test_real_dispatch_decodes_native_formats() -> None:
    out = multimodal.decode_real_image(_GOLDEN_BMP)
    assert out["width"] == 2 and out["height"] == 2
    aud = multimodal.decode_real_audio(_GOLDEN_WAV)
    assert aud["bits"] == 16 and len(aud["samples"]) == 3
    with pytest.raises(NotImplementedError, match="WebP"):
        multimodal.decode_real_image(b"RIFF\x00\x00\x00\x00WEBPVP8 ")
    with pytest.raises(NotImplementedError, match="codec"):
        multimodal.decode_real_audio(b"ID3\x04mp3data")


def test_image_features_real_bmp_through_operator(spark) -> None:
    import numpy as np

    px = np.array([[5, 7], [11, 200]], dtype=np.uint8)
    df = _blob_df(
        spark,
        [(1, multimodal.encode_bmp_gray(px)), (2, b"not an image")],
    )
    out = {
        r["doc_id"]: r
        for r in multimodal.decode_image_features(df, "doc_id", "blob").collect()
    }
    assert out[1]["width"] == 2 and out[1]["height"] == 2
    assert out[1]["n_pixels"] == 4
    assert out[1]["pixel_sum"] == 223 and out[1]["pixel_max"] == 200
    assert out[2]["width"] is None


def test_audio_windows_real_wav_through_operator(spark) -> None:
    samples = [100, -100, 0, 50] * 40  # 160 samples -> windows of 64
    df = _blob_df(
        spark,
        [(1, multimodal.encode_wav_pcm16(samples)), (2, b"junk")],
    )
    rows = sorted(
        multimodal.audio_window_features(df, "doc_id", "blob").collect(),
        key=lambda r: r["win_idx"],
    )
    assert [r["doc_id"] for r in rows] == [1, 1, 1]
    assert [r["n_samples"] for r in rows] == [64, 64, 32]
    seg = samples[:64]
    assert rows[0]["energy_sum"] == sum(v * v for v in seg)
    zc = sum((seg[i] >= 0) != (seg[i - 1] >= 0) for i in range(1, 64))
    assert rows[0]["zero_crossings"] == zc


def test_g711_ulaw_table_anchors() -> None:
    """ITU-T G.711 µ-law expansion, Sun g711.c sign convention:
    codeword 0xFF/0x7F -> ±0, 0x80 -> +32124 (max), 0x00 -> -32124."""
    t = multimodal._g711_ulaw_table()
    assert t[0xFF] == 0 and t[0x7F] == 0
    assert t[0x80] == 32124 and t[0x00] == -32124
    import numpy as np

    pos = t[np.arange(0x80, 0x100)].astype(int)
    assert (np.diff(pos) <= 0).all() and pos[-1] == 0  # monotone to 0


def test_g711_alaw_table_anchors() -> None:
    t = multimodal._g711_alaw_table()
    assert t[0x55] == -8 and t[0xD5] == 8  # smallest magnitudes
    assert t[0xAA] == 32256 and t[0x2A] == -32256  # extremes


def test_g711_wav_container_roundtrip() -> None:
    import numpy as np

    cw = np.arange(256, dtype=np.uint8)
    for law, table in (
        (multimodal.WAV_FMT_ULAW, multimodal._g711_ulaw_table()),
        (multimodal.WAV_FMT_ALAW, multimodal._g711_alaw_table()),
    ):
        blob = multimodal.encode_wav_g711(cw, law=law)
        out = multimodal.decode_wav_pcm16(blob)
        assert np.array_equal(out, table[cw])


def test_wav_float_format_still_raises() -> None:
    import struct

    fmt = struct.pack("<HHIIHH", 3, 1, 8000, 32000, 4, 32)  # IEEE float
    blob = (
        b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt)) + b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    )
    with pytest.raises(NotImplementedError, match="PCM16 / G.711"):
        multimodal.decode_wav_pcm16(blob)


def test_blob_cache_version_token_tracks_encoder_source(tmp_path) -> None:
    """ADVICE r9: the fixture cache must invalidate when a codec module
    changes, or stale parquet blobs could mask correctness failures.
    The token is an md5 over codec+builder sources, so pointing one
    module's __file__ at different bytes must change it."""
    from protarrow_spark.operators import jpeg
    from protarrow_spark.queries import multimodal as mmq

    before = mmq._fixture_version_token()
    fake = tmp_path / "jpeg_edited.py"
    fake.write_bytes(open(jpeg.__file__, "rb").read() + b"\n# edited\n")
    orig = jpeg.__file__
    try:
        jpeg.__file__ = str(fake)
        after = mmq._fixture_version_token()
    finally:
        jpeg.__file__ = orig
    assert before != after
    assert mmq._fixture_version_token() == before  # stable when unchanged
