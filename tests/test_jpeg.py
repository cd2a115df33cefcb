"""Dependency-free baseline JPEG codec (operators/jpeg.py).

Same strategy as the BMP/PGM/WAV codec tests: genuine encoded bytes
through the real decoder, a checked-in golden byte literal pinning the
wire format, independent-recomputation checks for the math stages, and
explicit tests of the documented boundaries.
"""

from __future__ import annotations

import numpy as np
import pytest

from protarrow_spark.operators.jpeg import (
    QUANT_ANNEX_K,
    QUANT_UNITY,
    ZIGZAG,
    _dct_matrix,
    decode_jpeg_gray,
    encode_jpeg_gray,
)

#: encode_jpeg_gray(kron([[7,200],[91,13]], ones(8,8)), QUANT_UNITY) —
#: a full SOI/APP0/DQT/SOF0/DHT/DHT/SOS/EOI baseline file. Pins the
#: wire format against silent encoder drift; the decode test below
#: pins the decoder against it independently of the encoder.
GOLDEN_16x16_HEX = (
    "ffd8ffe000104a46494600010100000100010000ffdb00430001010101010101"
    "0101010101010101010101010101010101010101010101010101010101010101"
    "01010101010101010101010101010101010101010101010101ffc0000b080010"
    "001001011100ffc4001f00000105010101010101000000000000000001020304"
    "05060708090a0bffc400b5100002010303020403050504040000017d01020300"
    "041105122131410613516107227114328191a1082342b1c11552d1f024336272"
    "82090a161718191a25262728292a3435363738393a434445464748494a535455"
    "565758595a636465666768696a737475767778797a838485868788898a929394"
    "95969798999aa2a3a4a5a6a7a8a9aab2b3b4b5b6b7b8b9bac2c3c4c5c6c7c8c9"
    "cad2d3d4d5d6d7d8d9dae1e2e3e4e5e6e7e8e9eaf1f2f3f4f5f6f7f8f9faffda"
    "0008010100003f00fe0debfd822bf897afe63ebfffd9"
)
GOLDEN_PIXELS = np.kron(
    np.array([[7, 200], [91, 13]], dtype=np.uint8), np.ones((8, 8), np.uint8)
)


def test_golden_bytes_encode():
    blob = encode_jpeg_gray(GOLDEN_PIXELS, quant=QUANT_UNITY)
    assert blob.hex() == GOLDEN_16x16_HEX


def test_golden_bytes_decode():
    w, h, gray = decode_jpeg_gray(bytes.fromhex(GOLDEN_16x16_HEX))
    assert (w, h) == (16, 16)
    assert np.array_equal(gray, GOLDEN_PIXELS)


def test_block_constant_unity_roundtrip_exact():
    rng = np.random.default_rng(7)
    vals = rng.integers(0, 256, size=(3, 5), dtype=np.uint8)
    img = np.kron(vals, np.ones((8, 8), dtype=np.uint8))
    w, h, gray = decode_jpeg_gray(encode_jpeg_gray(img, quant=QUANT_UNITY))
    assert (w, h) == (40, 24)
    assert np.array_equal(gray, img)


def test_unity_quant_near_lossless_odd_size():
    rng = np.random.default_rng(11)
    img = rng.integers(0, 256, size=(29, 37), dtype=np.uint8)
    w, h, gray = decode_jpeg_gray(encode_jpeg_gray(img, quant=QUANT_UNITY))
    assert (w, h) == (37, 29)
    assert np.abs(gray.astype(int) - img.astype(int)).max() <= 2


def test_annex_k_lossy_but_compressive():
    xx, yy = np.meshgrid(np.arange(64), np.arange(48))
    img = ((xx * 2 + yy) % 256).astype(np.uint8)
    blob = encode_jpeg_gray(img, quant=QUANT_ANNEX_K)
    assert len(blob) < img.size / 2  # actually compresses
    w, h, gray = decode_jpeg_gray(blob)
    assert (w, h) == (64, 48)
    assert np.median(np.abs(gray.astype(int) - img.astype(int))) <= 6


def test_byte_stuffing_occurs_and_decodes():
    """Random data reliably produces 0xFF bytes in the entropy stream;
    the stuffed 0x00s must be emitted by the writer and skipped by the
    reader (a miss corrupts every later coefficient)."""
    rng = np.random.default_rng(3)
    img = rng.integers(0, 256, size=(32, 32), dtype=np.uint8)
    blob = encode_jpeg_gray(img, quant=QUANT_UNITY)
    scan = blob[blob.find(b"\xff\xda") + 14 : -2]
    assert scan.count(b"\xff\x00") > 0
    _, _, gray = decode_jpeg_gray(blob)
    assert np.abs(gray.astype(int) - img.astype(int)).max() <= 2


def test_dct_matrix_orthonormal_and_zigzag_involution():
    a = _dct_matrix()
    assert np.allclose(a @ a.T, np.eye(8))  # orthonormal basis
    # zigzag is a permutation of 0..63 with the spec's first diagonal
    assert sorted(ZIGZAG) == list(range(64))
    assert ZIGZAG[:6] == [0, 1, 8, 16, 9, 2]


def test_idct_matches_direct_cosine_sum():
    """The einsum IDCT must equal the textbook T.81 A.3.3 double sum,
    computed here independently element by element."""
    rng = np.random.default_rng(5)
    img = rng.integers(0, 256, size=(8, 8), dtype=np.uint8)
    blob = encode_jpeg_gray(img, quant=QUANT_UNITY)
    _, _, gray = decode_jpeg_gray(blob)

    # independent direct forward DCT + inverse on the same block
    f = img.astype(np.float64) - 128.0
    c = lambda u: (1 / np.sqrt(2)) if u == 0 else 1.0
    F = np.zeros((8, 8))
    for u in range(8):
        for v in range(8):
            s = sum(
                f[x, y]
                * np.cos((2 * x + 1) * u * np.pi / 16)
                * np.cos((2 * y + 1) * v * np.pi / 16)
                for x in range(8)
                for y in range(8)
            )
            F[u, v] = c(u) * c(v) * s / 4
    Fq = np.rint(F)  # unity quant
    rec = np.zeros((8, 8))
    for x in range(8):
        for y in range(8):
            rec[x, y] = (
                sum(
                    c(u)
                    * c(v)
                    * Fq[u, v]
                    * np.cos((2 * x + 1) * u * np.pi / 16)
                    * np.cos((2 * y + 1) * v * np.pi / 16)
                    for u in range(8)
                    for v in range(8)
                )
                / 4
            )
    expected = np.clip(np.rint(rec) + 128, 0, 255).astype(np.uint8)
    assert np.array_equal(gray, expected)


def test_non_jpeg_returns_none():
    assert decode_jpeg_gray(b"") is None
    assert decode_jpeg_gray(b"BMnot a jpeg") is None
    assert decode_jpeg_gray(b"\xff\xd8") is None  # SOI alone: too short


def test_truncated_raises_value_error():
    blob = encode_jpeg_gray(GOLDEN_PIXELS, quant=QUANT_UNITY)
    with pytest.raises(ValueError):
        decode_jpeg_gray(blob[:40])
    with pytest.raises(ValueError):
        decode_jpeg_gray(blob[:150])
    # a single-scan baseline file decodes without its EOI trailer
    _, _, gray = decode_jpeg_gray(blob[:-2])
    assert np.array_equal(gray, GOLDEN_PIXELS)
    # a 4:2:0 color scan cut in the middle of its entropy data
    from protarrow_spark.operators.jpeg import decode_jpeg, encode_jpeg_color

    rng = np.random.default_rng(19)
    y, cb, cr = (rng.integers(0, 256, (24, 40), dtype=np.uint8) for _ in range(3))
    color = encode_jpeg_color(y, cb, cr, subsample=True)
    sos = color.find(b"\xff\xda")
    with pytest.raises(ValueError):
        decode_jpeg_gray(color[: sos + (len(color) - sos) // 2])
    # a scan listing one component twice (Cs 1, 3, 3): T.81 B.2.3
    # requires distinct selectors, so this is corrupt, not a flat Cb plane
    dup = bytearray(color)
    dup[sos + 7] = 3  # second component selector of the SOS header
    with pytest.raises(ValueError, match="twice"):
        decode_jpeg(bytes(dup))


def test_nonbaseline_and_sampling_boundaries():
    blob = bytearray(encode_jpeg_gray(GOLDEN_PIXELS, quant=QUANT_UNITY))
    sof = blob.find(b"\xff\xc0")
    # progressive (SOF2) is SUPPORTED since r8 — tests/test_jpeg_progressive.py;
    # lossless (SOF3) stays an honest boundary
    lossless = bytes(blob[:sof]) + b"\xff\xc3" + bytes(blob[sof + 2 :])
    with pytest.raises(NotImplementedError, match="non-baseline"):
        decode_jpeg_gray(lossless)
    # Claiming 3 components without supplying their SOF entries is now
    # a CORRUPT stream (color itself is supported).
    color = bytearray(blob)
    color[sof + 9] = 3  # ncomp byte of the SOF0 payload
    with pytest.raises(ValueError, match="SOF0"):
        decode_jpeg_gray(bytes(color))
    # Sampling factors above 2 stay an honest boundary.
    wild = bytearray(blob)
    wild[sof + 11] = 0x41  # component sampling byte -> 4x1
    with pytest.raises(NotImplementedError, match="sampling"):
        decode_jpeg_gray(bytes(wild))


def test_decode_real_image_dispatches_jpeg():
    from protarrow_spark.operators.multimodal import decode_real_image

    out = decode_real_image(encode_jpeg_gray(GOLDEN_PIXELS, quant=QUANT_UNITY))
    assert out["width"] == 16 and out["height"] == 16
    assert np.array_equal(out["gray"], GOLDEN_PIXELS)
    with pytest.raises(NotImplementedError):  # WebP still a stub
        decode_real_image(b"RIFF\x00\x00\x00\x00WEBPVP8 " + b"\x00" * 64)


# --- color (YCbCr) baseline ---------------------------------------------------


def _block_planes(bgrid, block=8):
    """Per-byte constant planes: Y = b, Cb = 255 - b, Cr = (2b) % 256."""
    grid = np.asarray(bgrid, dtype=np.uint8)
    ones = np.ones((block, block), dtype=np.uint8)
    y = np.kron(grid, ones)
    cb = np.kron((255 - grid).astype(np.uint8), ones)
    cr = np.kron(((grid.astype(int) * 2) % 256).astype(np.uint8), ones)
    return y, cb, cr


def test_color_444_unity_roundtrip_exact():
    from protarrow_spark.operators.jpeg import decode_jpeg, encode_jpeg_color

    rng = np.random.RandomState(7)
    y, cb, cr = _block_planes(rng.randint(0, 256, (3, 5)))
    w, h, planes = decode_jpeg(encode_jpeg_color(y, cb, cr, QUANT_UNITY, QUANT_UNITY))
    assert (w, h) == (40, 24) and len(planes) == 3
    for got, exp in zip(planes, (y, cb, cr)):
        assert np.array_equal(got, exp)


def test_color_420_unity_mcu_constant_exact():
    from protarrow_spark.operators.jpeg import decode_jpeg, encode_jpeg_color

    rng = np.random.RandomState(11)
    y, cb, cr = _block_planes(rng.randint(0, 256, (2, 3)), block=16)
    blob = encode_jpeg_color(y, cb, cr, QUANT_UNITY, QUANT_UNITY, subsample=True)
    w, h, planes = decode_jpeg(blob)
    assert (w, h) == (48, 32)
    for got, exp in zip(planes, (y, cb, cr)):
        assert np.array_equal(got, exp)
    # 4:2:0 actually subsampled: scan is smaller than the 4:4:4 one
    full = encode_jpeg_color(y, cb, cr, QUANT_UNITY, QUANT_UNITY)
    assert len(blob) < len(full)


def test_color_lossy_annex_k_close_and_compressive():
    from protarrow_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg_color,
        rgb_to_ycbcr,
    )

    hh, ww = 40, 56
    xx, yy = np.meshgrid(np.arange(ww), np.arange(hh))
    r = ((xx * 4) % 256).astype(np.uint8)
    g = ((yy * 5) % 256).astype(np.uint8)
    b = ((xx + yy) % 256).astype(np.uint8)
    y, cb, cr = rgb_to_ycbcr(r, g, b)
    blob = encode_jpeg_color(y, cb, cr, subsample=True)
    assert len(blob) < hh * ww * 3 // 4  # >4x smaller than raw RGB
    w, h, planes = decode_jpeg(blob)
    assert (w, h) == (ww, hh)
    for got, exp in zip(planes, (y, cb, cr)):
        assert float(np.abs(got.astype(int) - exp.astype(int)).mean()) < 4.0


def test_color_odd_size_crops():
    from protarrow_spark.operators.jpeg import decode_jpeg, encode_jpeg_color

    rng = np.random.RandomState(3)
    y = rng.randint(0, 256, (19, 21)).astype(np.uint8)
    cb = rng.randint(0, 256, (19, 21)).astype(np.uint8)
    cr = rng.randint(0, 256, (19, 21)).astype(np.uint8)
    for sub in (False, True):
        w, h, planes = decode_jpeg(
            encode_jpeg_color(y, cb, cr, QUANT_UNITY, QUANT_UNITY, subsample=sub)
        )
        assert (w, h) == (21, 19)
        assert all(p.shape == (19, 21) for p in planes)
        # unity-quant luma is near-lossless even on random content
        assert float(np.abs(planes[0].astype(int) - y.astype(int)).max()) <= 1


def test_decode_jpeg_gray_returns_luma_of_color():
    from protarrow_spark.operators.jpeg import decode_jpeg_gray, encode_jpeg_color

    y, cb, cr = _block_planes([[50, 220]])
    w, h, gray = decode_jpeg_gray(encode_jpeg_color(y, cb, cr, QUANT_UNITY, QUANT_UNITY))
    assert (w, h) == (16, 8)
    assert np.array_equal(gray, y)


def test_ycbcr_rgb_roundtrip_within_rounding():
    from protarrow_spark.operators.jpeg import rgb_to_ycbcr, ycbcr_to_rgb

    rng = np.random.RandomState(5)
    r = rng.randint(0, 256, (8, 8)).astype(np.uint8)
    g = rng.randint(0, 256, (8, 8)).astype(np.uint8)
    b = rng.randint(0, 256, (8, 8)).astype(np.uint8)
    r2, g2, b2 = ycbcr_to_rgb(*rgb_to_ycbcr(r, g, b))
    for got, exp in ((r2, r), (g2, g), (b2, b)):
        assert float(np.abs(got.astype(int) - exp.astype(int)).max()) <= 3


def test_thumbnail_jpeg_operator_color_gray_and_null(spark):
    """decode -> 2x box filter -> re-encode for color AND grayscale
    inputs; non-JPEG blobs map to a null thumb."""
    from protarrow_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg_color,
        encode_jpeg_gray,
    )
    from protarrow_spark.operators.multimodal import thumbnail_jpeg

    y, cb, cr = _block_planes([[10, 250], [130, 65]], block=16)
    gray = np.kron(np.array([[40, 90]], np.uint8), np.ones((16, 16), np.uint8))
    rows = [
        (0, bytearray(encode_jpeg_color(y, cb, cr, QUANT_UNITY, QUANT_UNITY))),
        (1, bytearray(encode_jpeg_gray(gray, quant=QUANT_UNITY))),
        (2, bytearray(b"not a jpeg at all")),
    ]
    df = spark.createDataFrame(rows, "doc_id long, blob binary")
    out = {
        r.doc_id: r.thumb
        for r in thumbnail_jpeg(
            df, "doc_id", "blob", factor=2,
            quant=QUANT_UNITY, quant_chroma=QUANT_UNITY,
        ).collect()
    }
    w, h, planes = decode_jpeg(bytes(out[0]))
    assert (w, h) == (16, 16) and len(planes) == 3
    exp_y, exp_cb, exp_cr = _block_planes([[10, 250], [130, 65]], block=8)
    for got, exp in zip(planes, (exp_y, exp_cb, exp_cr)):
        assert np.array_equal(got, exp)
    w, h, planes = decode_jpeg(bytes(out[1]))
    assert (w, h) == (16, 8) and len(planes) == 1
    assert np.array_equal(
        planes[0], np.kron(np.array([[40, 90]], np.uint8), np.ones((8, 8), np.uint8))
    )
    assert out[2] is None


#: encode_jpeg_color of the same [[7,200],[91,13]] block grid with
#: Y = b, Cb = 255-b, Cr = (2b)%256, both quant tables unity, 4:4:4 —
#: SOI/APP0/DQTx2/SOF0(3 comps)/DHTx4/SOS(interleaved)/EOI. Pins the
#: COLOR wire format (chroma tables, component ids, interleave) the
#: way GOLDEN_16x16_HEX pins the grayscale one.
GOLDEN_COLOR_16x16_HEX = (
    "ffd8ffe000104a46494600010100000100010000ffdb00430001010101010101"
    "0101010101010101010101010101010101010101010101010101010101010101"
    "01010101010101010101010101010101010101010101010101ffdb0043010101"
    "0101010101010101010101010101010101010101010101010101010101010101"
    "010101010101010101010101010101010101010101010101010101010101ffc0"
    "0011080010001003011100021101031101ffc4001f0000010501010101010100"
    "000000000000000102030405060708090a0bffc400b510000201030302040305"
    "0504040000017d01020300041105122131410613516107227114328191a10823"
    "42b1c11552d1f02433627282090a161718191a25262728292a3435363738393a"
    "434445464748494a535455565758595a636465666768696a737475767778797a"
    "838485868788898a92939495969798999aa2a3a4a5a6a7a8a9aab2b3b4b5b6b7"
    "b8b9bac2c3c4c5c6c7c8c9cad2d3d4d5d6d7d8d9dae1e2e3e4e5e6e7e8e9eaf1"
    "f2f3f4f5f6f7f8f9faffc4001f01000301010101010101010100000000000001"
    "02030405060708090a0bffc400b5110002010204040304070504040001027700"
    "0102031104052131061241510761711322328108144291a1b1c109233352f015"
    "6272d10a162434e125f11718191a262728292a35363738393a43444546474849"
    "4a535455565758595a636465666768696a737475767778797a82838485868788"
    "898a92939495969798999aa2a3a4a5a6a7a8a9aab2b3b4b5b6b7b8b9bac2c3c4"
    "c5c6c7c8c9cad2d3d4d5d6d7d8d9dae2e3e4e5e6e7e8e9eaf2f3f4f5f6f7f8f9"
    "faffda000c03010002110311003f00fe0debfef00ff86f3fd822bff1f73ff410"
    "3f897aff00b683fd303f98faff00a703ff0031f3ffd9"
)


def test_golden_color_bytes_encode_and_decode():
    from protarrow_spark.operators.jpeg import decode_jpeg, encode_jpeg_color

    y, cb, cr = _block_planes([[7, 200], [91, 13]])
    blob = encode_jpeg_color(y, cb, cr, QUANT_UNITY, QUANT_UNITY)
    assert blob.hex() == GOLDEN_COLOR_16x16_HEX
    w, h, planes = decode_jpeg(bytes.fromhex(GOLDEN_COLOR_16x16_HEX))
    assert (w, h) == (16, 16) and len(planes) == 3
    for got, exp in zip(planes, (y, cb, cr)):
        assert np.array_equal(got, exp)


# ---------------------------------------------------------------------------
# Restart intervals (DRI / RSTn) — T.81 F.1.2.2.2 / F.2.2.5
# ---------------------------------------------------------------------------

#: encode_jpeg_gray(GOLDEN_PIXELS, QUANT_UNITY, restart_interval=2):
#: the golden stream above plus a DRI(2) segment and one RST0 between
#: MCU 1 and MCU 2 (byte-aligned, DC predictor reset). Pins the
#: restart wire format; the decode test pins the resync path against
#: it independently of the encoder.
GOLDEN_16x16_RST_HEX = (
    "ffd8ffe000104a46494600010100000100010000ffdb00430001010101010101"
    "0101010101010101010101010101010101010101010101010101010101010101"
    "01010101010101010101010101010101010101010101010101ffdd00040002ff"
    "c0000b080010001001011100ffc4001f00000105010101010101000000000000"
    "00000102030405060708090a0bffc400b5100002010303020403050504040000"
    "017d01020300041105122131410613516107227114328191a1082342b1c11552"
    "d1f02433627282090a161718191a25262728292a3435363738393a4344454647"
    "48494a535455565758595a636465666768696a737475767778797a8384858687"
    "88898a92939495969798999aa2a3a4a5a6a7a8a9aab2b3b4b5b6b7b8b9bac2c3"
    "c4c5c6c7c8c9cad2d3d4d5d6d7d8d9dae1e2e3e4e5e6e7e8e9eaf1f2f3f4f5f6"
    "f7f8f9faffda0008010100003f00fe0debfd822bffd0fcd7afe63ebfffd9"
)


def test_restart_golden_bytes_encode():
    blob = encode_jpeg_gray(GOLDEN_PIXELS, quant=QUANT_UNITY, restart_interval=2)
    assert blob.hex() == GOLDEN_16x16_RST_HEX
    # structure: exactly one DRI segment declaring interval 2, one RST0
    assert blob.count(b"\xff\xdd\x00\x04\x00\x02") == 1
    assert blob.count(b"\xff\xd0") == 1


def test_restart_golden_bytes_decode():
    w, h, gray = decode_jpeg_gray(bytes.fromhex(GOLDEN_16x16_RST_HEX))
    assert (w, h) == (16, 16)
    assert np.array_equal(gray, GOLDEN_PIXELS)


def test_restart_roundtrip_matches_plain_all_intervals():
    """Every restart interval decodes to the same pixels as the plain
    stream — resync + DC reset must be value-neutral on a clean file."""
    rng = np.random.default_rng(11)
    img = rng.integers(0, 256, (37, 51), dtype=np.uint8)
    w0, h0, base = decode_jpeg_gray(encode_jpeg_gray(img, quant=QUANT_UNITY))
    n_mcus = 5 * 7  # ceil(37/8) x ceil(51/8)
    for ri in (1, 2, 3, 5, 8, n_mcus, n_mcus + 9):
        blob = encode_jpeg_gray(img, quant=QUANT_UNITY, restart_interval=ri)
        w, h, gray = decode_jpeg_gray(blob)
        assert (w, h) == (w0, h0)
        assert np.array_equal(gray, base), f"restart_interval={ri}"
        n_rst = sum(
            1
            for i in range(len(blob) - 1)
            if blob[i] == 0xFF and 0xD0 <= blob[i + 1] <= 0xD7
        )
        assert n_rst == (n_mcus - 1) // ri


def test_restart_missing_marker_raises():
    """DRI declares an interval but the scan carries no RSTn: the
    resync reader must fail loudly, not decode garbage."""
    blob = bytearray(
        encode_jpeg_gray(GOLDEN_PIXELS, quant=QUANT_UNITY, restart_interval=2)
    )
    i = bytes(blob).find(b"\xff\xd0")
    assert i > 0
    broken = bytes(blob[:i]) + bytes(blob[i + 2 :])  # strip the RST0
    with pytest.raises(ValueError):
        decode_jpeg_gray(broken)


def test_restart_dc_predictor_reset_is_load_bearing():
    """A high-DC image where DPCM and reset-from-zero differ in every
    segment: if the decoder failed to reset predictors at RSTn the
    pixel values would shift — equality with the plain stream proves
    the reset really happens (ri=1 resets before every MCU but the
    first)."""
    img = np.kron(
        np.array([[250, 5], [9, 244]], dtype=np.uint8), np.ones((8, 8), np.uint8)
    )
    _, _, base = decode_jpeg_gray(encode_jpeg_gray(img, quant=QUANT_UNITY))
    _, _, rst = decode_jpeg_gray(
        encode_jpeg_gray(img, quant=QUANT_UNITY, restart_interval=1)
    )
    assert np.array_equal(rst, base)
