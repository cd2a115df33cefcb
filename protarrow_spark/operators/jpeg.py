"""Dependency-free JPEG (ITU-T T.81) codec: baseline sequential and
progressive DCT, grayscale AND YCbCr color (4:4:4, 4:2:2, 4:2:0).

JPEG dominates real image corpora, so the multimodal path needs a real
decoder, not a stub. This module implements the public DCT processes
from the spec alone — SOI/APPn/DQT/SOF0/SOF2/DHT/DRI/SOS/RSTn/EOI
marker parsing, Huffman entropy coding with byte stuffing, DPCM DC /
run-length AC coefficient coding, the progressive scan types of
Annex G (DC/AC first and refinement scans, EOBn runs), restart
intervals, zigzag, (de)quantization, a separable float DCT, sampling
factors up to 2x2 (covering the 4:2:0 layout essentially all real
color JPEGs use, with replication chroma upsampling), and the JFIF
YCbCr<->RGB conversions — plus matching encoders so tests push GENUINE
entropy-coded bytes through the decoder (same pattern as the BMP/PGM/
WAV codecs in ``operators.multimodal``).

Design: one frame, a script of scans (T.81 Annex G; libjpeg's scan
scripts). Every layout here is one frame plus a list of
``(components, Ss, Se, Ah, Al)`` scans. :func:`_components` turns the
planes into component records, :func:`_write_frame` writes any script
over them, and each public encoder only names its frame and script —
one sequential scan over all components (baseline gray and color), one
sequential scan per component (multiscan), or the progressive DC/AC
first and refinement scans. :func:`_block_units` is the only code that
knows T.81 block order, for the encoder and the decoder alike. The
decoder runs every scan into persistent per-component coefficient
state — sequential scans through :func:`_decode_scan_sequential`,
progressive ones through :func:`_decode_scan_progressive` — and
reconstructs the planes once.

Honest boundaries (documented ``NotImplementedError``, not silent
wrong answers): lossless, hierarchical and arithmetic-coded frames,
12-bit precision, sampling factors above 2, component counts other
than 1 and 3, and 16-bit quantization tables. A blob that does not
start with the SOI marker returns ``None`` (the operator's null path,
like the other codecs).

Determinism note for oracle-gated queries: baseline JPEG is lossy in
general, but an 8x8-block-constant image encoded with an all-ones
quantization table round-trips EXACTLY — such a block has only a DC
coefficient (an integer, ``8 * (v - 128)``), quantization at step 1 is
the identity, and the IDCT of a DC-only block is constant — so a SQL
oracle can pin every decoded pixel from the source data. The same
argument covers color: 4:4:4 with 8x8-block-constant planes, 4:2:0
with 16x16-MCU-constant planes (the 2x2 chroma mean and the
replication upsample are both identities on constants).

Reference parity: the reference repo has no media codecs; this extends
the engine's multimodal surface (SURVEY.md §2.3) the way a
training-data pipeline needs.
"""

from __future__ import annotations

import re
import struct
from collections import namedtuple

import numpy as np

#: First non-stuffed marker = end of entropy-coded data (B.1.1.5).
_MARKER_RE = re.compile(rb"\xff[^\x00]")

# --- public constant tables from ITU-T T.81 ---------------------------------

#: Zigzag scan order: zigzag index -> raster index (Figure 5 / A.3.6).
ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10,
    17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63,
]

#: Annex K.1 luminance quantization table (quality ~50), raster order.
QUANT_ANNEX_K = [
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
]

#: All-ones table: quantization is the identity (near-lossless mode;
#: EXACTLY lossless on 8x8-block-constant rasters — see module doc).
QUANT_UNITY = [1] * 64

#: Annex K.3 typical luminance Huffman tables: BITS (codes per length
#: 1..16) and HUFFVAL (symbols in code order).
DC_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
DC_HUFFVAL = list(range(12))
AC_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
AC_HUFFVAL = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
    0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
    0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
    0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
    0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
    0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
    0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
    0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
    0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
    0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
    0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
    0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
    0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA,
]

#: Annex K.2 chrominance quantization table (quality ~50), raster order.
QUANT_ANNEX_K_CHROMA = [
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
]

#: Annex K.3 typical chrominance Huffman tables.
DC_BITS_CHROMA = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
DC_HUFFVAL_CHROMA = list(range(12))
AC_BITS_CHROMA = [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77]
AC_HUFFVAL_CHROMA = [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21,
    0x31, 0x06, 0x12, 0x41, 0x51, 0x07, 0x61, 0x71,
    0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
    0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0,
    0x15, 0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34,
    0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
    0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48,
    0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
    0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
    0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
    0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
    0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96,
    0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
    0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3,
    0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2,
    0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9,
    0xEA, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA,
]

#: Progressive-scan AC Huffman table: every symbol an AC band scan can
#: emit — (run<<4)|size for run 0-15 / size 1-10, EOBn (r<<4) for
#: r 0-14, ZRL 0xF0 — as a flat 9-bit code (176 codes < 2^9, all-ones
#: prefix reserved, T.81 C.2-valid). Annex K's baseline AC tables lack
#: the EOBn symbols for n > 0 (baseline only ever emits EOB0), so
#: progressive encoders ship scan-specific tables; a fixed-length one
#: keeps this encoder simple at some size cost.
PROG_AC_HUFFVAL = sorted(
    {(r << 4) | s for r in range(16) for s in range(1, 11)}
    | {r << 4 for r in range(15)}
    | {0xF0}
)
PROG_AC_BITS = [0] * 8 + [len(PROG_AC_HUFFVAL)] + [0] * 7

JPEG_MAGIC = b"\xff\xd8"  # SOI

_M_SOI, _M_EOI, _M_SOS, _M_DQT, _M_DHT, _M_SOF0, _M_DRI = (
    0xD8, 0xD9, 0xDA, 0xDB, 0xC4, 0xC0, 0xDD,
)
_M_SOF2 = 0xC2  # progressive DCT, Huffman (T.81 Annex G)


def _dct_matrix():
    """8x8 DCT-II basis A with A[u, x] = c(u)/2 * cos((2x+1)u*pi/16);
    F = A f A^T, f = A^T F A (T.81 A.3.3)."""
    x = np.arange(8)
    a = np.cos((2 * x[None, :] + 1) * x[:, None] * np.pi / 16) / 2
    a[0, :] = 1 / (2 * np.sqrt(2))
    return a


#: The DCT basis and the zigzag permutation, computed once.
_DCT = _dct_matrix()
_ZZ = np.asarray(ZIGZAG)


def _build_codes(bits, huffval):
    """(BITS, HUFFVAL) -> {symbol: (code, length)} per T.81 C.2 — codes
    assigned in increasing length order, counting up within a length.
    Raises ValueError on a malformed table (BITS describing more codes
    than HUFFVAL supplies, or than length-N prefixes exist)."""
    if sum(bits) > len(huffval):
        raise ValueError("DHT BITS describe more codes than HUFFVAL holds")
    codes, code, k = {}, 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            if code >= (1 << length):
                raise ValueError("DHT BITS overflow the prefix space")
            codes[huffval[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return codes


#: An encoder Huffman table: its DHT class/id byte (Tc << 4 | Th), the
#: BITS and HUFFVAL it ships, and the {symbol: (code, length)} map.
_Table = namedtuple("_Table", "tc_th bits huffval codes")


def _table(tc_th, bits, huffval):
    return _Table(tc_th, bits, huffval, _build_codes(bits, huffval))


#: The encoders' tables, built once: Annex K luma (id 0) and chroma
#: (id 1), and the progressive AC table that luma and chroma AC scans
#: share under id 0 (it has the EOBn symbols Annex K lacks).
_DC_LUMA = _table(0x00, DC_BITS, DC_HUFFVAL)
_AC_LUMA = _table(0x10, AC_BITS, AC_HUFFVAL)
_DC_CHROMA = _table(0x01, DC_BITS_CHROMA, DC_HUFFVAL_CHROMA)
_AC_CHROMA = _table(0x11, AC_BITS_CHROMA, AC_HUFFVAL_CHROMA)
_AC_PROG = _table(0x10, PROG_AC_BITS, PROG_AC_HUFFVAL)


class _BitWriter:
    """MSB-first bit stream with T.81 byte stuffing (0x00 after 0xFF)."""

    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, length: int) -> None:
        self.acc = (self.acc << length) | (value & ((1 << length) - 1))
        self.nbits += length
        if self.nbits >= 8:
            rest = self.nbits & 7
            whole = (self.acc >> rest).to_bytes(self.nbits >> 3, "big")
            self.out += whole.replace(b"\xff", b"\xff\x00")
            self.nbits = rest
            self.acc &= (1 << rest) - 1

    def align(self) -> None:
        if self.nbits:  # pad with 1s (T.81 F.1.2.3)
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)

    def flush(self) -> bytes:
        self.align()
        return bytes(self.out)


#: Decode-LUT cache keyed by the table's canonical item tuple — the
#: standard Annex-K tables repeat across blobs, so each worker builds
#: their LUTs once, not once per image.
_LUT_CACHE: dict = {}


def _build_lut(table: dict) -> list:
    """(code, length) -> symbol table to a flat 2^16-entry decode LUT:
    ``lut[next16bits] = (symbol << 5) | code_length`` (0 = invalid
    prefix). One list index replaces a bit-by-bit tree walk — the
    classic fast-Huffman layout; 16 is the spec's max code length."""
    key = tuple(sorted(table.items()))
    cached = _LUT_CACHE.get(key)
    if cached is not None:
        return cached
    lut = np.zeros(1 << 16, dtype=np.int32)
    for (code, length), sym in table.items():
        lo = code << (16 - length)
        hi = (code + 1) << (16 - length)
        lut[lo:hi] = (sym << 5) | length
    out = lut.tolist()
    if len(_LUT_CACHE) > 32:
        _LUT_CACHE.clear()
    _LUT_CACHE[key] = out
    return out


def _category(v: int) -> int:
    """Coefficient magnitude category (bit length of |v|)."""
    return abs(v).bit_length()


def _extend(value: int, size: int) -> int:
    """T.81 F.12 EXTEND: map ``size`` received bits to a signed value."""
    if size == 0:
        return 0
    if value < (1 << (size - 1)):
        return value - (1 << size) + 1
    return value


def _block_units(frame, comps):
    """Yield a scan's blocks in T.81 order, grouped per restart-countable
    unit (A.2: one MCU for interleaved scans, one block for
    single-component scans). Each unit is a list of
    ``(component, block_index)``. ``frame`` is ``(width, height,
    frame components)``; the scan's components carry their sampling
    factors ``h``, ``v`` and their block-grid width ``bw``.

    Single-component scans iterate the COMPONENT's own block grid
    (ceil of its scaled dimensions), row-major — narrower than the
    padded interleaved grid when the image is not an exact multiple
    of the MCU size."""
    w, h, frame_comps = frame
    hmax = max(c["h"] for c in frame_comps)
    vmax = max(c["v"] for c in frame_comps)
    if len(comps) > 1:
        for my in range(-(-h // (8 * vmax))):
            for mx in range(-(-w // (8 * hmax))):
                yield [
                    (c, (my * c["v"] + v) * c["bw"] + mx * c["h"] + hh)
                    for c in comps
                    for v in range(c["v"])
                    for hh in range(c["h"])
                ]
    else:
        c = comps[0]
        cw = -(-(w * c["h"]) // hmax)
        ch = -(-(h * c["v"]) // vmax)
        for by in range(-(-ch // 8)):
            for bx in range(-(-cw // 8)):
                yield [(c, by * c["bw"] + bx)]


# ---------------------------------------------------------------------------
# Encode side: component records, scan coders, one frame writer
# ---------------------------------------------------------------------------


def _plane_zigzag_coefs(plane, quant, bh, bw):
    """Pad a uint8 plane to (bh*8, bw*8) by edge replication, DCT +
    quantize every block, and return the (bh*bw, 64) zigzag-ordered
    integer coefficients in raster block order."""
    px = np.asarray(plane, dtype=np.uint8)
    h, w = px.shape
    q = np.asarray(quant, dtype=np.int32)
    padded = np.empty((bh * 8, bw * 8), dtype=np.float64)
    padded[:h, :w] = px
    padded[h:, :w] = px[h - 1 : h, :]
    padded[:, w:] = padded[:, w - 1 : w]
    padded -= 128.0
    blocks = padded.reshape(bh, 8, bw, 8).transpose(0, 2, 1, 3)
    coefs = _DCT @ blocks @ _DCT.T  # F = A f A^T, broadcast over blocks
    quantized = np.rint(coefs / q.reshape(8, 8)).astype(np.int64)
    return quantized.reshape(-1, 64)[:, _ZZ]


def _subsample(plane):
    """4:2:0 chroma: the rounded mean of every 2x2 cell of the plane,
    edge-padded to even dimensions."""
    p = np.asarray(plane, dtype=np.float64)
    h, w = p.shape
    eh, ew = -(-h // 2) * 2, -(-w // 2) * 2
    pad = np.empty((eh, ew), dtype=np.float64)
    pad[:h, :w] = p
    pad[h:, :w] = p[h - 1 : h, :]
    pad[:, w:] = pad[:, w - 1 : w]
    m = pad.reshape(eh // 2, 2, ew // 2, 2).mean(axis=(1, 3))
    return np.rint(m).astype(np.uint8)


def _components(y, cb=None, cr=None, quant_luma=None, quant_chroma=None,
                subsample=False, progressive=False):
    """A gray plane ``y``, or Y/Cb/Cr planes, -> the frame ``(width,
    height, components)``. Each component record carries its id
    ``cid``, sampling factors ``h``/``v``, block-grid width ``bw``,
    quantization table ``q`` (raster order) and its id ``tq``, Huffman
    tables ``dc``/``ac`` (luma for Y, chroma for Cb/Cr; the shared
    progressive AC table when ``progressive``), and per block in raster
    order the quantized zigzag coefficients ``coefs`` and the index of
    the last nonzero AC coefficient ``last``. ``subsample=True`` is
    4:2:0: Y at 2x2, chroma at 1x1 on a half-resolution grid."""
    y = np.asarray(y, dtype=np.uint8)
    h, w = y.shape
    s = 2 if subsample else 1
    specs = [(y, s, quant_luma, QUANT_ANNEX_K, 0, _DC_LUMA, _AC_LUMA)]
    if cb is not None:
        for p in (cb, cr):
            p = _subsample(p) if subsample else np.asarray(p, dtype=np.uint8)
            specs.append(
                (p, 1, quant_chroma, QUANT_ANNEX_K_CHROMA, 1, _DC_CHROMA, _AC_CHROMA)
            )
    mcux, mcuy = -(-w // (8 * s)), -(-h // (8 * s))
    comps = []
    for cid, (px, hv, quant, default, tq, dc, ac) in enumerate(specs, 1):
        q = np.asarray(default if quant is None else quant, dtype=np.int32)
        coefs = _plane_zigzag_coefs(px, q, mcuy * hv, mcux * hv)
        nz = coefs[:, 1:] != 0
        last = np.where(nz.any(axis=1), 63 - np.argmax(nz[:, ::-1], axis=1), 0)
        comps.append(
            {
                "cid": cid,
                "h": hv,
                "v": hv,
                "bw": mcux * hv,
                "q": q,
                "tq": tq,
                "dc": dc,
                "ac": _AC_PROG if progressive else ac,
                "coefs": coefs,
                "last": last.tolist(),
            }
        )
    return w, h, comps


def _enc_sequential(writer, frame, comps, se=63, al=0, ri=0):
    """The sequential block coder (T.81 F.1.2) over one scan: per block
    the DC difference from its component's predictor, then, when
    ``se`` is 63, the AC coefficients as run-length symbols with ZRL
    and EOB. ``se == 0`` is the progressive DC first scan (G.1.2.1):
    the DCs point-transformed by ``al``, no AC. ``ri`` > 0 byte-aligns
    the stream and emits an RSTn marker (cyclic D0-D7) after every
    ``ri`` units, and the DC predictors restart from 0 (F.1.2.2.2)."""
    write = writer.write
    for c in comps:
        c["prev_dc"] = 0
    for i, unit in enumerate(_block_units(frame, comps)):
        if ri > 0 and i and i % ri == 0:
            writer.align()
            writer.out += bytes((0xFF, 0xD0 + ((i // ri - 1) & 7)))
            for c in comps:
                c["prev_dc"] = 0
        for c, bi in unit:
            row = c["coefs"][bi]
            dc = int(row[0]) >> al
            diff = dc - c["prev_dc"]
            c["prev_dc"] = dc
            s = _category(diff)
            code, length = c["dc"].codes[s]
            # the block's codes and extra bits, gathered for one write
            bits = (code << s) | (diff if diff >= 0 else diff + (1 << s) - 1)
            nbits = length + s
            if se:
                ac = c["ac"].codes
                end = c["last"][bi]
                run = 0
                for v in row[1 : end + 1].tolist() if end else ():
                    if v == 0:
                        run += 1
                        continue
                    while run > 15:
                        code, length = ac[0xF0]  # ZRL
                        bits = (bits << length) | code
                        nbits += length
                        run -= 16
                    s = _category(v)
                    code, length = ac[(run << 4) | s]
                    bits = (bits << (length + s)) | (code << s) | (
                        v if v >= 0 else v + (1 << s) - 1
                    )
                    nbits += length + s
                    run = 0
                if end < 63:
                    code, length = ac[0x00]  # EOB
                    bits = (bits << length) | code
                    nbits += length
            write(bits, nbits)


def _pt_ac(v: int, al: int) -> int:
    """AC point transform: divide by 2^Al truncating toward zero
    (T.81 G.1.2.1 — NOT an arithmetic shift for negatives)."""
    return v >> al if v >= 0 else -((-v) >> al)


def _enc_ac_first(writer, ac_codes, rows, ss, se, al):
    """AC first scan for band [ss, se] at approximation Al, with EOBn
    run coding across blocks (T.81 G.1.2.2)."""
    eobrun = 0

    def flush_eobrun():
        nonlocal eobrun
        while eobrun:
            chunk = min(eobrun, 32767)
            r = chunk.bit_length() - 1
            code, length = ac_codes[r << 4]
            writer.write(code, length)
            if r:
                writer.write(chunk - (1 << r), r)
            eobrun -= chunk

    zrl_code, zrl_len = ac_codes[0xF0]
    for row in rows:
        band = [_pt_ac(int(row[k]), al) for k in range(ss, se + 1)]
        last_nz = -1
        for i in range(len(band) - 1, -1, -1):
            if band[i]:
                last_nz = i
                break
        if last_nz < 0:
            eobrun += 1
            continue
        flush_eobrun()
        run = 0
        for i in range(last_nz + 1):
            v = band[i]
            if v == 0:
                run += 1
                continue
            while run > 15:
                writer.write(zrl_code, zrl_len)
                run -= 16
            s = _category(v)
            code, length = ac_codes[(run << 4) | s]
            writer.write(code, length)
            writer.write(v if v >= 0 else v + (1 << s) - 1, s)
            run = 0
        if last_nz < len(band) - 1:
            eobrun += 1
    flush_eobrun()


def _enc_ac_refine(writer, ac_codes, rows, ss, se, al):
    """AC refinement scan (T.81 G.1.2.3 encode side, the cjpeg
    structure): newly-significant coefficients emit (run<<4)|1 + a
    sign bit; already-significant ones owe a correction bit, buffered
    and flushed after the next emitted symbol; all-insignificant
    tails fold into an EOBn run whose buffered correction bits flush
    with it."""
    # Two correction-bit buffers (the jcphuff.c structure): ``be`` =
    # bits owed to the PENDING EOB RUN (completed blocks' tails,
    # emitted right after the EOBn symbol), ``br`` = the CURRENT
    # block's in-flight bits (emitted right after the next ZRL /
    # newly-significant symbol). Conflating them interleaves another
    # block's bits into this block's symbol stream — decoder desync.
    eobrun = 0
    be: list[int] = []
    br: list[int] = []

    def emit_bits(buf):
        for b in buf:
            writer.write(b, 1)
        buf.clear()

    def flush_eobrun():
        nonlocal eobrun
        if not eobrun:
            return
        while eobrun:
            chunk = min(eobrun, 32767)
            r = chunk.bit_length() - 1
            code, length = ac_codes[r << 4]
            writer.write(code, length)
            if r:
                writer.write(chunk - (1 << r), r)
            eobrun -= chunk
        emit_bits(be)

    zrl_code, zrl_len = ac_codes[0xF0]
    for row in rows:
        vals = [int(row[k]) for k in range(ss, se + 1)]
        absvals = [(v if v >= 0 else -v) >> al for v in vals]
        eob = -1  # last newly-significant position in the band
        for i, t in enumerate(absvals):
            if t == 1:
                eob = i
        r = 0
        for i, t in enumerate(absvals):
            if t == 0:
                r += 1
                continue
            while r > 15 and i <= eob:
                flush_eobrun()
                writer.write(zrl_code, zrl_len)
                r -= 16
                emit_bits(br)
            if t > 1:  # significant before this scan: correction bit
                br.append(t & 1)
                continue
            # newly significant (t == 1)
            flush_eobrun()
            code, length = ac_codes[(r << 4) | 1]
            writer.write(code, length)
            writer.write(1 if vals[i] >= 0 else 0, 1)
            emit_bits(br)
            r = 0
        if r > 0 or br:  # trailing zeros/bits fold into an EOB run
            eobrun += 1
            be.extend(br)
            br.clear()
            if eobrun == 32767:
                flush_eobrun()
    flush_eobrun()


#: JFIF 1.01 APP0 payload: no thumbnail, 1:1 pixel aspect.
_JFIF = b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"


def _seg(marker: int, payload: bytes) -> bytes:
    return struct.pack(">BBH", 0xFF, marker, len(payload) + 2) + payload


def _dht(table) -> bytes:
    return _seg(_M_DHT, bytes([table.tc_th, *table.bits, *table.huffval]))


def _sos(comps, ss, se, ah, al) -> bytes:
    """SOS header: a DC-only scan selects AC table 0 and an AC-only
    scan DC table 0, since neither reads that table."""
    body = [len(comps)]
    for c in comps:
        td = c["dc"].tc_th & 15 if ss == 0 else 0
        ta = c["ac"].tc_th & 15 if se else 0
        body += [c["cid"], (td << 4) | ta]
    return _seg(_M_SOS, bytes(body + [ss, se, (ah << 4) | al]))


def _write_frame(sof, frame, script, ri=0) -> bytes:
    """One JPEG file: SOI, JFIF APP0, a DQT per quantization table,
    DRI when ``ri`` > 0, the ``sof`` frame header, a DHT per Huffman
    table the components use, then for every ``(components, Ss, Se,
    Ah, Al)`` scan of ``script`` its SOS and entropy-coded data, and
    EOI. A scan with Ss = Ah = 0 is sequential (Se = 63) or a
    progressive DC first scan (Se = 0); the rest are progressive DC
    refinement (Ss = 0) and AC first / refinement scans over one
    component (T.81 G.1.1.1.1). Restarts apply to the former."""
    w, h, comps = frame
    out = bytearray(JPEG_MAGIC)
    out += _seg(0xE0, _JFIF)
    for tq, q in {c["tq"]: c["q"] for c in comps}.items():
        out += _seg(_M_DQT, bytes([tq, *(int(q[z]) for z in ZIGZAG)]))
    if ri > 0:
        out += _seg(_M_DRI, struct.pack(">H", ri))
    out += _seg(
        sof,
        struct.pack(">BHHB", 8, h, w, len(comps))
        + bytes(
            b for c in comps for b in (c["cid"], (c["h"] << 4) | c["v"], c["tq"])
        ),
    )
    tables = []
    for c in comps:
        for t in (c["dc"], c["ac"]):
            if t not in tables:
                tables.append(t)
                out += _dht(t)
    for scan_comps, ss, se, ah, al in script:
        out += _sos(scan_comps, ss, se, ah, al)
        writer = _BitWriter()
        if ss == 0 and ah == 0:
            _enc_sequential(writer, frame, scan_comps, se, al, ri)
        else:
            blocks = [b for unit in _block_units(frame, scan_comps) for b in unit]
            if ss == 0:  # DC refinement: bit Al of every DC
                for c, bi in blocks:
                    writer.write((int(c["coefs"][bi, 0]) >> al) & 1, 1)
            else:  # AC scans cover one component (G.1.1.1.1)
                c = scan_comps[0]
                rows = c["coefs"][[bi for _, bi in blocks]].tolist()
                coder = _enc_ac_first if ah == 0 else _enc_ac_refine
                coder(writer, c["ac"].codes, rows, ss, se, al)
        out += writer.flush()
    out += b"\xff\xd9"  # EOI
    return bytes(out)


def encode_jpeg_gray(pixels, quant=None, restart_interval: int = 0) -> bytes:
    """Grayscale (h, w) uint8 raster -> a GENUINE baseline JPEG
    (JFIF APP0, DQT, SOF0 1-component, Annex-K Huffman DHTs, SOS,
    entropy-coded scan with byte stuffing, EOI). ``quant`` is a 64-entry
    raster-order quantization table (default :data:`QUANT_ANNEX_K`;
    pass :data:`QUANT_UNITY` for the near-lossless mode).

    ``restart_interval`` > 0 emits a DRI segment and an RSTn marker
    (cyclic D0-D7) after every that-many MCUs: the bit stream is
    byte-aligned (1-padded) before each marker and the DC predictor
    resets after it — T.81 F.1.2.2.2, the camera-output resync feature
    real-world JPEGs carry."""
    frame = _components(pixels, quant_luma=quant)
    return _write_frame(
        _M_SOF0, frame, [(frame[2], 0, 63, 0, 0)], int(restart_interval)
    )


def encode_jpeg_progressive_gray(pixels, quant=None) -> bytes:
    """Grayscale (h, w) uint8 raster -> a GENUINE progressive JPEG
    (SOF2) exercising all four scan types: DC first (Al=1), AC first
    for two spectral bands (Al=1), AC refinement for both bands
    (Ah=1, Al=0), DC refinement (Ah=1, Al=0). Fully refined, so the
    decoded image is bit-identical to the baseline encoding at the
    same quantization table."""
    frame = _components(pixels, quant_luma=quant, progressive=True)
    c = frame[2]
    return _write_frame(_M_SOF2, frame, [
        (c, 0, 0, 0, 1), (c, 1, 5, 0, 1), (c, 6, 63, 0, 1),
        (c, 1, 5, 1, 0), (c, 6, 63, 1, 0), (c, 0, 0, 1, 0),
    ])


def encode_jpeg_color_multiscan(
    y, cb, cr, quant_luma=None, quant_chroma=None, subsample=False
) -> bytes:
    """YCbCr planes -> a BASELINE (SOF0) color JPEG whose components
    arrive in THREE single-component sequential scans (T.81 A.2
    non-interleaved order) instead of one interleaved scan — the
    multi-scan baseline layout some encoders emit. Every block is
    fully coded (DC diff + run-length AC, Annex-K tables); per-scan
    DC predictors."""
    frame = _components(y, cb, cr, quant_luma, quant_chroma, subsample)
    return _write_frame(_M_SOF0, frame, [([c], 0, 63, 0, 0) for c in frame[2]])


def encode_jpeg_progressive_color(
    y, cb, cr, quant_luma=None, quant_chroma=None, subsample=False
) -> bytes:
    """YCbCr planes -> a progressive (SOF2) color JPEG: interleaved
    DC first scan over all three components, per-component AC first +
    AC refinement scans (progressive AC scans are single-component by
    G.1.1.1.1), interleaved DC refinement. ``subsample=True`` encodes
    4:2:0 (luma 2x2, chroma 1x1 on a half-resolution grid)."""
    frame = _components(
        y, cb, cr, quant_luma, quant_chroma, subsample, progressive=True
    )
    comps = frame[2]
    return _write_frame(
        _M_SOF2,
        frame,
        [(comps, 0, 0, 0, 1)]
        + [([c], 1, 63, 0, 1) for c in comps]
        + [([c], 1, 63, 1, 0) for c in comps]
        + [(comps, 0, 0, 1, 0)],
    )


def encode_jpeg_color(y, cb, cr, quant_luma=None, quant_chroma=None,
                      subsample=False) -> bytes:
    """Full-resolution (h, w) uint8 Y/Cb/Cr planes -> a GENUINE
    baseline YCbCr JPEG: SOF0 3-component frame, two DQTs (luma +
    chroma), four Annex-K DHTs, and one interleaved entropy-coded
    scan. ``subsample=False`` emits 4:4:4 (every component 1x1);
    ``subsample=True`` emits 4:2:0 (Y at 2x2, chroma reduced by a
    rounded 2x2 mean) — the two layouts that cover essentially all
    real-corpus color JPEGs. With unity quant tables and planes
    constant per MCU, the lossy format round-trips EXACTLY (DC-only
    blocks; same argument as the grayscale module doc)."""
    frame = _components(y, cb, cr, quant_luma, quant_chroma, subsample)
    return _write_frame(_M_SOF0, frame, [(frame[2], 0, 63, 0, 0)])


def ycbcr_to_rgb(y, cb, cr):
    """JFIF YCbCr -> RGB (uint8 planes in, uint8 planes out): the
    public fixed conversion R = Y + 1.402(Cr-128), G = Y -
    0.344136(Cb-128) - 0.714136(Cr-128), B = Y + 1.772(Cb-128),
    rounded and clipped."""
    yf = np.asarray(y, dtype=np.float64)
    cbf = np.asarray(cb, dtype=np.float64) - 128.0
    crf = np.asarray(cr, dtype=np.float64) - 128.0
    r = yf + 1.402 * crf
    g = yf - 0.344136 * cbf - 0.714136 * crf
    b = yf + 1.772 * cbf
    clip = lambda p: np.clip(np.rint(p), 0, 255).astype(np.uint8)  # noqa: E731
    return clip(r), clip(g), clip(b)


def rgb_to_ycbcr(r, g, b):
    """JFIF RGB -> YCbCr (uint8 planes in, uint8 planes out): Y =
    0.299R + 0.587G + 0.114B, Cb = 128 - 0.168736R - 0.331264G +
    0.5B, Cr = 128 + 0.5R - 0.418688G - 0.081312B, rounded/clipped."""
    rf = np.asarray(r, dtype=np.float64)
    gf = np.asarray(g, dtype=np.float64)
    bf = np.asarray(b, dtype=np.float64)
    y = 0.299 * rf + 0.587 * gf + 0.114 * bf
    cb = 128.0 - 0.168736 * rf - 0.331264 * gf + 0.5 * bf
    cr = 128.0 + 0.5 * rf - 0.418688 * gf - 0.081312 * bf
    clip = lambda p: np.clip(np.rint(p), 0, 255).astype(np.uint8)  # noqa: E731
    return clip(y), clip(cb), clip(cr)


# ---------------------------------------------------------------------------
# Decode side
# ---------------------------------------------------------------------------


def decode_jpeg(data: bytes):
    """Parse a REAL JPEG into ``(width, height, planes)`` where
    ``planes`` is a list of row-major uint8 (h, w) arrays — one for
    grayscale, three (Y, Cb, Cr, chroma upsampled to full size by
    sample replication) for color. Handles baseline sequential (SOF0)
    scans, interleaved or one per component, AND progressive (SOF2,
    T.81 Annex G: DC/AC first + refinement scans, EOBn runs), with
    sampling factors 1-2 in each direction (4:4:4, 4:2:2, 4:2:0) and
    restart intervals (DRI/RSTn — standard camera output: the entropy
    stream resyncs and DC predictors reset at every RSTn). Returns
    ``None`` when the blob does not start with SOI (not a JPEG — the
    operator's null path); raises ``NotImplementedError`` at the
    codec's honest boundaries (lossless/hierarchical frames, 12-bit
    precision, >2x sampling factors, 16-bit quant tables) and
    ``ValueError`` on corrupt streams.

    Every scan decodes into persistent per-component coefficient
    state. A sequential scan over every frame component completes the
    image, so it returns at once, EOI or not; any other stream must
    reach its EOI."""
    if len(data) < 4 or data[:2] != JPEG_MAGIC:
        return None
    pos = 2
    quant_tables: dict[int, list[int]] = {}
    huff_tables: dict[tuple[int, int], dict] = {}
    frame = None
    progressive = False
    state = None  # per frame component id, persists across scans
    restart_interval = 0
    while pos + 2 <= len(data):
        if data[pos] != 0xFF:
            raise ValueError(f"expected marker at {pos}, got 0x{data[pos]:02X}")
        marker = data[pos + 1]
        if marker == 0xFF:  # fill byte (B.1.1.2)
            pos += 1
            continue
        if 0xD0 <= marker <= 0xD7 or marker == 0x01:  # RSTn/TEM: no length
            pos += 2
            continue
        if marker == _M_EOI:
            if state is not None:
                return frame[0], frame[1], _reconstruct(frame, state)
            raise ValueError("EOI before SOS")
        if pos + 4 > len(data):
            raise ValueError(f"truncated segment 0xFF{marker:02X}")
        seg_len = struct.unpack(">H", data[pos + 2 : pos + 4])[0]
        payload = data[pos + 4 : pos + 2 + seg_len]
        if seg_len < 2 or len(payload) != seg_len - 2:
            raise ValueError(f"truncated segment 0xFF{marker:02X}")
        pos += 2 + seg_len
        if marker == _M_DQT:
            p = 0
            while p < len(payload):
                pq, tq = payload[p] >> 4, payload[p] & 0x0F
                if pq != 0:
                    raise NotImplementedError("16-bit quantization tables")
                if p + 65 > len(payload):
                    raise ValueError("truncated DQT table")
                zz_table = payload[p + 1 : p + 65]
                raster = [0] * 64
                for i in range(64):
                    raster[ZIGZAG[i]] = zz_table[i]
                quant_tables[tq] = raster
                p += 65
        elif marker == _M_DHT:
            p = 0
            while p < len(payload):
                if p + 17 > len(payload):
                    raise ValueError("truncated DHT table")
                tc, th = payload[p] >> 4, payload[p] & 0x0F
                bits = list(payload[p + 1 : p + 17])
                n = sum(bits)
                huffval = list(payload[p + 17 : p + 17 + n])
                codes = _build_codes(bits, huffval)
                huff_tables[(tc, th)] = {
                    (c, ln): sym for sym, (c, ln) in codes.items()
                }
                p += 17 + n
        elif marker in (0xC1, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA,
                        0xCB, 0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                f"non-baseline JPEG frame (SOF marker 0x{marker:02X}); "
                "baseline sequential (SOF0) and progressive (SOF2) "
                "are supported"
            )
        elif marker in (_M_SOF0, _M_SOF2):
            if state is not None:  # the scans' state is sized by the frame
                raise ValueError("SOF after the first SOS")
            progressive = marker == _M_SOF2
            if len(payload) < 6:
                raise ValueError("truncated SOF0 segment")
            precision, h, w, ncomp = struct.unpack(">BHHB", payload[:6])
            if precision != 8:
                raise NotImplementedError(f"{precision}-bit precision")
            if ncomp not in (1, 3):
                raise NotImplementedError(
                    f"{ncomp}-component JPEG; grayscale and YCbCr only"
                )
            if len(payload) < 6 + 3 * ncomp:
                raise ValueError("truncated SOF0 component list")
            comps = []
            for c in range(ncomp):
                cid = payload[6 + 3 * c]
                hv = payload[7 + 3 * c]
                tq = payload[8 + 3 * c]
                hi, vi = hv >> 4, hv & 0x0F
                if not (1 <= hi <= 2 and 1 <= vi <= 2):
                    raise NotImplementedError(
                        f"sampling factor {hi}x{vi} (only 1-2 supported)"
                    )
                comps.append({"cid": cid, "h": hi, "v": vi, "tq": tq})
            if ncomp == 1 and (comps[0]["h"], comps[0]["v"]) != (1, 1):
                raise NotImplementedError("subsampled single component")
            frame = (w, h, comps)
        elif marker == _M_DRI:
            if len(payload) < 2:
                raise ValueError("truncated DRI segment")
            restart_interval = struct.unpack(">H", payload[:2])[0]
        elif marker == _M_SOS:
            if frame is None:
                raise ValueError("SOS before SOF")
            if len(payload) < 1:
                raise ValueError("truncated SOS segment")
            ns = payload[0]
            if ns < 1:
                raise ValueError("SOS with zero components")
            w, h, comps = frame
            if len(payload) < 1 + 2 * ns + 3:
                raise ValueError("truncated SOS segment")
            # DHT/DRI may be redefined between scans; the coefficient
            # state lives from the first scan to the reconstruction.
            if state is None:
                hmax = max(c["h"] for c in comps)
                vmax = max(c["v"] for c in comps)
                mcux = -(-w // (8 * hmax))
                mcuy = -(-h // (8 * vmax))
                state = {}
                for c in comps:
                    if c["tq"] not in quant_tables:
                        raise ValueError(
                            f"SOF references undefined DQT table {c['tq']}"
                        )
                    bwc, bhc = mcux * c["h"], mcuy * c["v"]
                    state[c["cid"]] = {
                        "coefs": np.zeros((bhc * bwc, 64), dtype=np.int64),
                        "bw": bwc,
                        "bh": bhc,
                        "h": c["h"],
                        "v": c["v"],
                        "quant": quant_tables[c["tq"]],
                        "prev_dc": 0,
                        "dc_lut": None,
                        "ac_lut": None,
                    }
            ss_, se_ = payload[1 + 2 * ns], payload[2 + 2 * ns]
            approx = payload[3 + 2 * ns]
            ah_, al_ = approx >> 4, approx & 0x0F
            if progressive and ss_ > 0 and ns != 1:
                raise ValueError("progressive AC scan with multiple components")
            scan_states = []
            for s in range(ns):
                cs = payload[1 + 2 * s]
                td, ta = payload[2 + 2 * s] >> 4, payload[2 + 2 * s] & 0x0F
                st = state.get(cs)
                if st is None:
                    raise ValueError(f"SOS component {cs} not in SOF")
                if any(st is prev for prev in scan_states):
                    # T.81 B.2.3: a scan's component selectors are distinct
                    raise ValueError(f"SOS lists component {cs} twice")
                if not progressive or (ss_ == 0 and ah_ == 0):
                    # sequential scans and progressive DC-first need DC
                    if (0, td) not in huff_tables:
                        raise ValueError(
                            f"SOS references undefined DC DHT table {td}"
                        )
                    st["dc_lut"] = _build_lut(huff_tables[(0, td)])
                if not progressive or ss_ > 0:
                    # sequential scans and progressive AC scans need AC
                    if (1, ta) not in huff_tables:
                        raise ValueError(
                            f"SOS references undefined AC DHT table {ta}"
                        )
                    st["ac_lut"] = _build_lut(huff_tables[(1, ta)])
                scan_states.append(st)
            if progressive:
                pos = _decode_scan_progressive(
                    data, pos, frame, scan_states, ss_, se_, ah_, al_,
                    restart_interval,
                )
                continue
            pos = _decode_scan_sequential(
                data, pos, frame, scan_states, restart_interval
            )
            if ns == len(comps):
                return w, h, _reconstruct(frame, state)
        # else: APPn/COM/etc — skipped via seg_len
    if state is not None:
        # Strict pipeline semantics: a multi-scan stream without its
        # EOI is a truncated download, not a partially-refined preview
        # — raise rather than silently return a lower-fidelity image.
        raise ValueError("truncated multi-scan stream (no EOI)")
    raise ValueError("no SOS marker found")


def _reconstruct(frame, state):
    """Dequantize + IDCT every frame component's zigzag coefficient
    blocks and crop/upsample them to (h, w) planes, in frame order."""
    w, h, comps = frame
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    planes = []
    for c in comps:
        st = state[c["cid"]]
        q = np.asarray(st["quant"], dtype=np.float64)
        dez = np.zeros((st["bh"] * st["bw"], 64), dtype=np.float64)
        dez[:, _ZZ] = st["coefs"]  # de-zigzag, all blocks at once
        blocks = (dez * q).reshape(st["bh"], st["bw"], 8, 8)
        spatial = _DCT.T @ blocks @ _DCT  # f = A^T F A, broadcast over blocks
        raster = spatial.transpose(0, 2, 1, 3).reshape(
            st["bh"] * 8, st["bw"] * 8
        )
        plane = np.clip(np.rint(raster) + 128, 0, 255).astype(np.uint8)
        # Upsample subsampled chroma by replication, then crop.
        fy, fx = vmax // st["v"], hmax // st["h"]
        if fy > 1:
            plane = np.repeat(plane, fy, axis=0)
        if fx > 1:
            plane = np.repeat(plane, fx, axis=1)
        planes.append(plane[:h, :w])
    return planes


def _entropy_segments(data, pos, ri):
    """Split a scan's entropy data at RSTn markers, unstuffing each
    segment (0xFF 0x00 -> 0xFF; legal because entropy data holds no
    other 0xFF-started pair inside a segment); returns ``(segments,
    end_pos)`` with ``end_pos`` the offset of the first non-RST marker
    after the scan (where the caller's marker loop resumes)."""
    if ri <= 0:
        m = _MARKER_RE.search(data, pos)
        end = m.start() if m else len(data)
        return [data[pos:end].replace(b"\xff\x00", b"\xff")], end
    segments = []
    start = p = pos
    while True:
        m = _MARKER_RE.search(data, p)
        if m is None:
            segments.append(data[start:].replace(b"\xff\x00", b"\xff"))
            return segments, len(data)
        segments.append(data[start : m.start()].replace(b"\xff\x00", b"\xff"))
        if 0xD0 <= data[m.start() + 1] <= 0xD7:
            start = p = m.start() + 2
        else:
            return segments, m.start()


def _decode_scan_sequential(data, pos, frame, scan_states, ri):
    """Entropy-decode ONE baseline sequential scan — interleaved, or
    over a subset of the frame's components (T.81 A.2) — into the
    persistent coefficient state: every block arrives complete (DC
    diff + run-length AC), DC predictors reset per scan and at RSTn
    (F.2.2.5). Returns the position after the scan's entropy data.

    Each restart segment is read through 16-bit-window integer peeks
    against the prefix LUTs — a handful of int ops per coefficient
    instead of a per-bit method-call walk. The over-read check before
    every block stops a corrupt frame size from walking all its blocks
    through the zero padding."""
    segments, end = _entropy_segments(data, pos, ri)
    seg_idx = 0
    buf = segments[0] + b"\x00\x00\x00\x00"
    nbits_total = len(segments[0]) * 8
    bitpos = 0
    from_bytes = int.from_bytes
    for st in scan_states:
        st["prev_dc"] = 0
    for ui, unit in enumerate(_block_units(frame, scan_states)):
        if ri > 0 and ui and ui % ri == 0:
            if bitpos > nbits_total:
                raise ValueError("entropy stream truncated")
            seg_idx += 1
            if seg_idx >= len(segments):
                raise ValueError("missing RSTn marker in scan")
            buf = segments[seg_idx] + b"\x00\x00\x00\x00"
            nbits_total = len(segments[seg_idx]) * 8
            bitpos = 0
            for st in scan_states:
                st["prev_dc"] = 0
        for st, bi in unit:
            if bitpos > nbits_total:
                raise ValueError("entropy stream truncated")
            dc_lut, ac_lut = st["dc_lut"], st["ac_lut"]
            byteidx = bitpos >> 3
            chunk = from_bytes(buf[byteidx : byteidx + 4], "big")
            ent = dc_lut[(chunk >> (16 - (bitpos & 7))) & 0xFFFF]
            if ent == 0:
                raise ValueError("invalid Huffman code in scan")
            s = ent >> 5
            bitpos += ent & 31
            if s:
                byteidx = bitpos >> 3
                chunk = from_bytes(buf[byteidx : byteidx + 4], "big")
                val = (chunk >> (32 - s - (bitpos & 7))) & ((1 << s) - 1)
                bitpos += s
                st["prev_dc"] += _extend(val, s)
            block = st["coefs"][bi]
            block[0] = st["prev_dc"]
            i = 1
            while i < 64:
                byteidx = bitpos >> 3
                chunk = from_bytes(buf[byteidx : byteidx + 4], "big")
                ent = ac_lut[(chunk >> (16 - (bitpos & 7))) & 0xFFFF]
                if ent == 0:
                    raise ValueError("invalid Huffman code in scan")
                sym = ent >> 5
                bitpos += ent & 31
                size = sym & 0x0F
                if size == 0:
                    if sym != 0xF0:  # EOB: every run but 15 (F.2.2.2)
                        break
                    i += 16  # ZRL
                    continue
                i += sym >> 4
                if i >= 64:
                    raise ValueError("AC run past block end")
                byteidx = bitpos >> 3
                chunk = from_bytes(buf[byteidx : byteidx + 4], "big")
                val = (chunk >> (32 - size - (bitpos & 7))) & ((1 << size) - 1)
                bitpos += size
                block[i] = _extend(val, size)
                i += 1
    if bitpos > nbits_total:
        raise ValueError("entropy stream truncated")
    return end


class _ScanBits:
    """MSB-first bit reader over RST-segmented unstuffed entropy data,
    using the same 16-bit-window LUT peek as the sequential decoder.
    ``restart()`` jumps to the next RST segment (byte-aligned by
    construction) and ``finish()`` validates no segment over-read."""

    __slots__ = ("segments", "idx", "buf", "nbits", "pos")

    def __init__(self, segments):
        self.segments = segments
        self._load(0)

    def _load(self, i):
        if i >= len(self.segments):
            raise ValueError("missing RSTn marker in scan")
        self.idx = i
        ent = self.segments[i]
        self.buf = ent + b"\x00\x00\x00\x00"
        self.nbits = len(ent) * 8
        self.pos = 0

    def restart(self):
        self.finish()
        self._load(self.idx + 1)

    def finish(self):
        if self.pos > self.nbits:
            raise ValueError("entropy stream truncated")

    def decode(self, lut):
        byteidx = self.pos >> 3
        chunk = int.from_bytes(self.buf[byteidx : byteidx + 4], "big")
        ent = lut[(chunk >> (16 - (self.pos & 7))) & 0xFFFF]
        if ent == 0:
            raise ValueError("invalid Huffman code in scan")
        self.pos += ent & 31
        return ent >> 5

    def bits(self, n):
        if n == 0:
            return 0
        byteidx = self.pos >> 3
        chunk = int.from_bytes(self.buf[byteidx : byteidx + 4], "big")
        v = (chunk >> (32 - n - (self.pos & 7))) & ((1 << n) - 1)
        self.pos += n
        return v

    def bit(self):
        return self.bits(1)


def _decode_scan_progressive(
    data, pos, frame, scan_states, ss, se, ah, al, ri
):
    """Entropy-decode ONE progressive scan into the frame's persistent
    coefficient state (T.81 G.2): DC first / DC refinement (interleaved
    or single-component) and AC first / AC refinement (single-component
    only, per G.1.1.1.1). Returns the stream position after the scan's
    entropy data."""
    if not ss <= se <= 63:
        raise ValueError(f"progressive scan band [{ss}, {se}] out of range")
    segments, end = _entropy_segments(data, pos, ri)
    rd = _ScanBits(segments)

    def checked_units():
        # an over-read stops the walk at once: a corrupt frame size
        # must not walk all its blocks through the zero padding
        for unit in _block_units(frame, scan_states):
            rd.finish()
            yield unit

    units = checked_units()

    if ss == 0:  # DC scan (Se must be 0 per G.1.1.1.1)
        if se != 0:
            raise ValueError("progressive DC scan with Se != 0")
        for st in scan_states:
            st["prev_dc"] = 0
        if ah == 0:  # first pass: Huffman diffs, shifted left Al
            for i, unit in enumerate(units):
                if ri and i and i % ri == 0:
                    rd.restart()
                    for st in scan_states:
                        st["prev_dc"] = 0
                for st, bi in unit:
                    s = rd.decode(st["dc_lut"])
                    st["prev_dc"] += _extend(rd.bits(s), s) if s else 0
                    st["coefs"][bi][0] = st["prev_dc"] << al
        else:  # refinement: one raw bit per block, OR into bit Al
            p1 = 1 << al
            for i, unit in enumerate(units):
                if ri and i and i % ri == 0:
                    rd.restart()
                for st, bi in unit:
                    if rd.bit():
                        st["coefs"][bi][0] |= p1
        rd.finish()
        return end

    st = scan_states[0]  # AC scan: one component (checked at the SOS header)
    ac_lut = st["ac_lut"]
    coefs = st["coefs"]
    eobrun = 0
    if ah == 0:  # AC first pass for this band
        for i, unit in enumerate(units):
            if ri and i and i % ri == 0:
                rd.restart()
                eobrun = 0
            if eobrun:
                eobrun -= 1
                continue
            block = coefs[unit[0][1]]
            k = ss
            while k <= se:
                rs = rd.decode(ac_lut)
                r, s = rs >> 4, rs & 15
                if s == 0:
                    if r != 15:  # EOBn: run of (1<<r) + extra blocks
                        eobrun = (1 << r) - 1
                        if r:
                            eobrun += rd.bits(r)
                        break
                    k += 16  # ZRL
                    continue
                k += r
                if k > se:
                    raise ValueError("AC run past band end")
                block[k] = _extend(rd.bits(s), s) << al
                k += 1
    else:  # AC refinement (G.1.2.3)
        p1, m1 = 1 << al, -1 << al

        def correct(block, k):
            if rd.bit() and not (block[k] & p1):
                block[k] += p1 if block[k] >= 0 else m1

        for i, unit in enumerate(units):
            if ri and i and i % ri == 0:
                rd.restart()
                eobrun = 0
            block = coefs[unit[0][1]]
            k = ss
            if eobrun == 0:
                while k <= se:
                    rs = rd.decode(ac_lut)
                    r, s = rs >> 4, rs & 15
                    newval = 0
                    if s == 0:
                        if r != 15:
                            eobrun = 1 << r
                            if r:
                                eobrun += rd.bits(r)
                            break  # rest of block handled as EOB below
                        # r == 15, s == 0: skip 16 zero-history coefs
                    else:
                        if s != 1:
                            raise ValueError(
                                "invalid refinement magnitude in AC scan"
                            )
                        newval = p1 if rd.bit() else m1
                    # advance past r zero-history coefficients, emitting
                    # correction bits for nonzero-history ones passed
                    while k <= se:
                        if block[k] != 0:
                            correct(block, k)
                        else:
                            if r == 0:
                                if newval:
                                    block[k] = newval
                                k += 1
                                break
                            r -= 1
                        k += 1
            if eobrun > 0:
                # inside an EOB run: correction bits only, for every
                # nonzero-history coefficient left in the band
                while k <= se:
                    if block[k] != 0:
                        correct(block, k)
                    k += 1
                eobrun -= 1
    rd.finish()
    return end


def decode_jpeg_gray(data: bytes):
    """Grayscale view of :func:`decode_jpeg`: ``(width, height, gray)``
    with ``gray`` the luma plane — the Y channel for color JPEGs, the
    single component for grayscale ones. ``None`` for non-JPEG blobs."""
    out = decode_jpeg(data)
    if out is None:
        return None
    w, h, planes = out
    return w, h, planes[0]
