"""Progressive JPEG (T.81 Annex G — SOF2) decode + encode.

The decoder handles all four scan types (DC first / DC refinement,
interleaved or single-component; AC first / AC refinement with EOBn
runs); the encoder emits a full successive-approximation scan script,
so a fully-refined progressive encoding must decode BIT-IDENTICAL to
the baseline (SOF0) encoding of the same image at the same
quantization tables — same coefficients, same IDCT.

Reference parity: the reference repo has no image codecs; this is part
of the engine's multimodal surface (SURVEY §2.3).
"""

from __future__ import annotations

import numpy as np
import pytest

from protarrow_spark.operators.jpeg import (
    QUANT_UNITY,
    decode_jpeg,
    decode_jpeg_gray,
    encode_jpeg_color,
    encode_jpeg_gray,
    encode_jpeg_progressive_color,
    encode_jpeg_progressive_gray,
)


@pytest.mark.parametrize(
    "size", [(8, 8), (8, 16), (16, 8), (37, 53), (7, 5), (64, 48)]
)
def test_progressive_gray_equals_baseline(size):
    rng = np.random.default_rng(sum(size))
    img = rng.integers(0, 256, size).astype(np.uint8)
    base = decode_jpeg_gray(encode_jpeg_gray(img))[2]
    prog = decode_jpeg_gray(encode_jpeg_progressive_gray(img))[2]
    assert np.array_equal(base, prog)


def test_progressive_gray_unity_quant_near_lossless():
    rng = np.random.default_rng(3)
    img = rng.integers(0, 256, (24, 24)).astype(np.uint8)
    w, h, gray = decode_jpeg_gray(
        encode_jpeg_progressive_gray(img, quant=QUANT_UNITY)
    )
    assert (w, h) == (24, 24)
    # unity quant: only float rounding differences
    assert np.abs(gray.astype(int) - img.astype(int)).max() <= 1


@pytest.mark.parametrize("subsample", [False, True])
@pytest.mark.parametrize("size", [(16, 16), (37, 53), (24, 40)])
def test_progressive_color_equals_baseline(size, subsample):
    rng = np.random.default_rng(size[0] + subsample)
    y, cb, cr = (
        rng.integers(0, 256, size).astype(np.uint8) for _ in range(3)
    )
    _, _, base = decode_jpeg(encode_jpeg_color(y, cb, cr, subsample=subsample))
    _, _, prog = decode_jpeg(
        encode_jpeg_progressive_color(y, cb, cr, subsample=subsample)
    )
    assert len(base) == len(prog) == 3
    for b, p in zip(base, prog):
        assert np.array_equal(b, p)


def test_progressive_blob_is_sof2():
    img = np.zeros((8, 8), dtype=np.uint8)
    blob = encode_jpeg_progressive_gray(img)
    assert blob[:2] == b"\xff\xd8" and blob.endswith(b"\xff\xd9")
    assert b"\xff\xc2" in blob and b"\xff\xc0" not in blob
    # six scans in the script: DC first, 2x AC first, 2x AC refine,
    # DC refine
    assert blob.count(b"\xff\xda") == 6


def test_progressive_partial_script_spectral_selection_only():
    """A script with Al=0 everywhere (pure spectral selection, no
    successive approximation) is also valid progressive and must equal
    baseline: hand-build it from the encoder's internals."""
    import struct as _struct

    from protarrow_spark.operators import jpeg as J

    rng = np.random.default_rng(9)
    img = rng.integers(0, 256, (21, 34)).astype(np.uint8)
    h, w = img.shape
    q = np.asarray(J.QUANT_ANNEX_K, dtype=np.int32)
    bh, bw = -(-h // 8), -(-w // 8)
    rows = J._plane_zigzag_coefs(img, q, bh, bw)
    ac_codes = J._build_codes(J.PROG_AC_BITS, J.PROG_AC_HUFFVAL)

    def seg(marker, payload):
        return _struct.pack(">BBH", 0xFF, marker, len(payload) + 2) + payload

    out = bytearray(b"\xff\xd8")
    out += seg(0xDB, bytes([0]) + bytes(int(q[J.ZIGZAG[i]]) for i in range(64)))
    out += seg(0xC2, _struct.pack(">BHHB", 8, h, w, 1) + bytes([1, 0x11, 0]))
    out += seg(0xC4, bytes([0x00]) + bytes(J.DC_BITS) + bytes(J.DC_HUFFVAL))
    out += seg(
        0xC4, bytes([0x10]) + bytes(J.PROG_AC_BITS) + bytes(J.PROG_AC_HUFFVAL)
    )
    # DC first Al=0 (complete), then three AC bands Al=0 (complete)
    wtr = J._BitWriter()
    comp = {"h": 1, "v": 1, "bw": bw, "coefs": rows, "dc": J._DC_LUMA}
    J._enc_sequential(wtr, (w, h, [comp]), [comp], se=0)
    out += seg(0xDA, bytes([1, 1, 0x00, 0, 0, 0x00])) + wtr.flush()
    for ss, se in [(1, 5), (6, 20), (21, 63)]:
        wtr = J._BitWriter()
        J._enc_ac_first(wtr, ac_codes, rows, ss, se, 0)
        out += seg(0xDA, bytes([1, 1, 0x00, ss, se, 0x00])) + wtr.flush()
    out += b"\xff\xd9"

    prog = decode_jpeg_gray(bytes(out))[2]
    base = decode_jpeg_gray(encode_jpeg_gray(img))[2]
    assert np.array_equal(prog, base)


def test_progressive_truncation_and_corruption_raise(monkeypatch):
    rng = np.random.default_rng(11)
    img = rng.integers(0, 256, (16, 24)).astype(np.uint8)
    blob = encode_jpeg_progressive_gray(img)
    # cutting anywhere inside the stream must raise (or return the
    # not-a-JPEG None only for len < 4) — never return a wrong image
    for cut in range(4, len(blob) - 1, 7):
        with pytest.raises((ValueError, NotImplementedError)):
            decode_jpeg_gray(blob[:cut])
    # flipping a DHT byte corrupts code assignment: ValueError, not a
    # silent wrong picture or an unbounded loop
    dht = blob.find(b"\xff\xc4")
    bad = bytearray(blob)
    bad[dht + 5] = 0xFF
    with pytest.raises(ValueError):
        decode_jpeg_gray(bytes(bad))
    # an AC band past coefficient 63 (Se = 191 in the second SOS) is a
    # corrupt header: ValueError, not an IndexError from the block walk
    se = blob.find(b"\xff\xda", blob.find(b"\xff\xda") + 2) + 8
    assert blob[se] == 5
    bad = bytearray(blob)
    bad[se] = 191
    with pytest.raises(ValueError, match="band"):
        decode_jpeg_gray(bytes(bad))
    # a SOF claiming 4096x4096 pixels over 16x24 pixels of entropy data
    # fails at the first over-read, not after walking all 262,144 blocks
    from protarrow_spark.operators import jpeg as J

    sof = blob.find(b"\xff\xc2")
    huge = bytearray(blob)
    huge[sof + 5 : sof + 9] = b"\x10\x00\x10\x00"
    calls = []
    decode = J._ScanBits.decode
    monkeypatch.setattr(
        J._ScanBits, "decode", lambda rd, lut: calls.append(1) or decode(rd, lut)
    )
    with pytest.raises(ValueError, match="truncated"):
        decode_jpeg_gray(bytes(huge))
    assert len(calls) < 100


def test_progressive_scan_constraint_violations_raise():
    """Malformed scan scripts: an AC scan listing multiple components
    violates G.1.1.1.1 and must be rejected."""
    import struct as _struct

    from protarrow_spark.operators import jpeg as J

    rng = np.random.default_rng(13)
    y, cb, cr = (
        rng.integers(0, 256, (16, 16)).astype(np.uint8) for _ in range(3)
    )
    blob = encode_jpeg_progressive_color(y, cb, cr)
    # find the first single-component AC SOS (ns=1) and rewrite it to
    # claim 2 components — the decoder must refuse
    pos = 2
    while pos < len(blob):
        if blob[pos] == 0xFF and blob[pos + 1] == 0xDA:
            ln = _struct.unpack(">H", blob[pos + 2 : pos + 4])[0]
            ns = blob[pos + 4]
            ss = blob[pos + 5 + 2 * ns]
            if ns == 1 and ss > 0:
                bad = bytearray(blob)
                # extend header: 2 components (reusing cid 1 twice)
                new_body = bytes([2, 1, 0x00, 1, 0x00, ss, 63, 0])
                bad[pos + 2 : pos + 4 + ln - 2] = (
                    _struct.pack(">H", len(new_body) + 2) + new_body
                )
                with pytest.raises(ValueError, match="multiple components"):
                    decode_jpeg_gray(bytes(bad))
                return
            pos += 2 + ln
            # skip entropy to next marker
            m = J._MARKER_RE.search(blob, pos)
            pos = m.start() if m else len(blob)
        else:
            pos += 1
    pytest.fail("no single-component AC scan found")


def test_progressive_through_multimodal_dispatch():
    """decode_real_image dispatches on the JPEG magic — progressive
    blobs flow through the same operator path as baseline ones."""
    from protarrow_spark.operators.multimodal import decode_real_image

    rng = np.random.default_rng(17)
    img = rng.integers(0, 256, (16, 16)).astype(np.uint8)
    out = decode_real_image(encode_jpeg_progressive_gray(img))
    assert out["width"] == 16 and out["height"] == 16
    base = decode_real_image(encode_jpeg_gray(img))
    assert np.array_equal(out["gray"], base["gray"])


def test_baseline_noninterleaved_multiscan_equals_interleaved():
    """BASELINE non-interleaved layout (three single-component SOF0
    scans, T.81 A.2) decodes bit-identical to the interleaved encoding
    of the same planes — it rides the same persistent-state multi-scan
    machinery as progressive."""
    from protarrow_spark.operators.jpeg import encode_jpeg_color_multiscan

    rng = np.random.default_rng(23)
    for size in [(16, 16), (37, 53)]:
        for sub in (False, True):
            y, cb, cr = (
                rng.integers(0, 256, size).astype(np.uint8) for _ in range(3)
            )
            base = decode_jpeg(encode_jpeg_color(y, cb, cr, subsample=sub))[2]
            multi = decode_jpeg(
                encode_jpeg_color_multiscan(y, cb, cr, subsample=sub)
            )[2]
            for a, b in zip(base, multi):
                assert np.array_equal(a, b)
    # truncation: dropping the trailer (EOI) must raise, not return a
    # partially-scanned image
    blob = encode_jpeg_color_multiscan(y, cb, cr)
    with pytest.raises(ValueError, match="EOI"):
        decode_jpeg(blob[:-2])


#: sha256 of every encoder layout no hex golden pins, recorded from the
#: encoders before they were folded into one frame writer: random
#: planes from ``default_rng(rows * 100 + cols)``, in (Y, Cb, Cr) order.
_ENCODER_DIGESTS = {
    ("progressive_gray", (16, 16)):
        "585c48e7032cbad8744adc05f50f92218ef966da5c89afdcdb448f2383083bfd",
    ("progressive_gray", (37, 53)):
        "b1492454ded2749e79c28fe4665540839eeb0b0c49acbece4d101397a8244ff2",
    ("progressive_color_444", (16, 16)):
        "b22ce4f0d6476e2bbde465db2f62040d403b192070cbddca9449ebfce67f0d60",
    ("progressive_color_444", (37, 53)):
        "767ceaba50a4a2d2b7a1089a898e96e1eafb023aef695f634b80d98667329d64",
    ("progressive_color_420", (16, 16)):
        "39ee58fa989e9d3038d300211bc084821c7f0593c92ed923413ccc4db72a2170",
    ("progressive_color_420", (37, 53)):
        "c548f226009b639544ff9af6bcf85aaf2491c2962ffc0fc31c4303d68ab1a470",
    ("multiscan_444", (16, 16)):
        "d56a87e21247a4e99451f6b34a570b08bb19ea3c290314a7047003aae044d50b",
    ("multiscan_444", (37, 53)):
        "4a147d0516f464d9dbf02090fe761cccd60fb1e14339d85257d4097e37239596",
    ("multiscan_420", (16, 16)):
        "6a48aeab39b84341178d6abdff6747462be8990980d64752478fc7df10410a32",
    ("multiscan_420", (37, 53)):
        "d3df4b93061b5190e6f2999a0db59e4451f255bcb74ede7d6a2e3087ff9f1bc2",
    ("color_420_annex_k", (16, 16)):
        "7c4f5202ac2ffa2d18e639419aee2294ee4221169101eb043d748d9fd2cdcaaa",
    ("color_420_annex_k", (37, 53)):
        "1ee40daf1adfec21e3be7540c89d99db911dea26269143feeb45d06813931544",
    ("gray_annex_k_rst3", (16, 16)):
        "ce815441f9864ca91cf10ca071bb71577130880e25d562c80d5848310ee530bd",
    ("gray_annex_k_rst3", (37, 53)):
        "2f04dabc3d1ee40541b42de90bea7ff023f6999938f9f019da9dd3b109dc70cb",
}


def _encoders():
    from protarrow_spark.operators import jpeg as J

    return {
        "progressive_gray": lambda y, cb, cr: J.encode_jpeg_progressive_gray(y),
        "progressive_color_444": lambda y, cb, cr: (
            J.encode_jpeg_progressive_color(y, cb, cr)
        ),
        "progressive_color_420": lambda y, cb, cr: (
            J.encode_jpeg_progressive_color(y, cb, cr, subsample=True)
        ),
        "multiscan_444": lambda y, cb, cr: J.encode_jpeg_color_multiscan(y, cb, cr),
        "multiscan_420": lambda y, cb, cr: (
            J.encode_jpeg_color_multiscan(y, cb, cr, subsample=True)
        ),
        "color_420_annex_k": lambda y, cb, cr: (
            J.encode_jpeg_color(y, cb, cr, subsample=True)
        ),
        "gray_annex_k_rst3": lambda y, cb, cr: J.encode_jpeg_gray(
            y, quant=J.QUANT_ANNEX_K, restart_interval=3
        ),
    }


def _planes(size):
    rng = np.random.default_rng(size[0] * 100 + size[1])
    return [rng.integers(0, 256, size).astype(np.uint8) for _ in range(3)]


@pytest.mark.parametrize("name,size", sorted(_ENCODER_DIGESTS))
def test_encoder_bytes_pinned(name, size):
    import hashlib

    blob = _encoders()[name](*_planes(size))
    assert hashlib.sha256(blob).hexdigest() == _ENCODER_DIGESTS[(name, size)]


@pytest.mark.parametrize(
    "name",
    [
        "gray_annex_k_rst3",
        "progressive_gray",
        "multiscan_420",
        "progressive_color_420",
        "color_420_annex_k",
    ],
)
def test_encoder_builds_constant_tables_once(name, monkeypatch):
    """Huffman code tables and the DCT basis are constants: encoding
    ten images costs no more table builds than encoding one."""
    from protarrow_spark.operators import jpeg as J

    calls = {"_build_codes": 0, "_dct_matrix": 0}

    def counted(fn_name):
        fn = getattr(J, fn_name)

        def wrapper(*args, **kwargs):
            calls[fn_name] += 1
            return fn(*args, **kwargs)

        return wrapper

    for fn_name in calls:
        monkeypatch.setattr(J, fn_name, counted(fn_name))
    encode = _encoders()[name]
    counts = []
    for n in (1, 10):
        calls.update(dict.fromkeys(calls, 0))
        for i in range(n):
            encode(*_planes((16 + i, 24)))
        counts.append(dict(calls))
    assert counts[0] == counts[1]
