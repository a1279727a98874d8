"""Pure-numpy baseline JPEG + stdlib-zlib PNG codecs (G11/G69 — r8 verdict #7).

A real crawl's images are JPEG-first, but this environment has no
Pillow/libjpeg — so the perceptual-image family (G69 dHash dedup,
feature extraction) previously exercised its pipeline on PPM
only. This module implements the baseline subset of ITU-T T.81 (the
public JPEG spec) with numpy as the only dependency:

- DECODE (``decode_jpeg_baseline``): baseline + extended-sequential
  Huffman DCT (SOF0/SOF1) AND progressive (SOF2, r10 — T.81 Annex G.2:
  spectral selection, successive approximation, EOB runs, DC/AC
  refinement, multi-scan DHT/DRI updates), 8-bit samples, grayscale or
  YCbCr with any sampling factors (4:4:4, 4:2:0, 4:2:2, 4:1:1 all fall
  out of the generic Hmax/Vmax MCU walk), restart markers (DRI/RSTn),
  8- and 16-bit quant tables. Unsupported variants raise ``ValueError``
  with the reason — arithmetic coding (SOF9+), 12-bit,
  lossless/differential/hierarchical — so callers quarantine them per
  the E1 contract exactly like a truncated PPM.
- ENCODE (``encode_jpeg_baseline``): baseline 4:4:4 (or grayscale),
  Annex-K quant tables scaled by the libjpeg quality convention,
  Annex-K Huffman tables. Exists so test fixtures work without any
  external codec (no engine path encodes); it is an independent
  implementation of the forward path (FDCT + quantize + Huffman),
  which is what makes the decode/encode round-trip a meaningful test.
  ``encode_jpeg_progressive`` (r10) emits the same quantized
  coefficients through a SOF2 scan script, so a progressive stream and
  its baseline twin decode BIT-IDENTICALLY — the cross-path pin.

Entropy decoding is sequential by nature (bit-serial Huffman), so the
per-block loop is Python — but every block's coefficients land in one
numpy array and the heavy math (dequant, the 2-D IDCT over all blocks,
chroma upsampling, YCbCr→RGB) runs as vectorized einsum/array ops.
Inside the engine this code only ever executes inside Arrow-batched
``mapInPandas`` bodies (operators/multimodal.py), so the Spark plan is
identical to the PPM path's.

No reference counterpart (the reference is an XBRL ETL); SURVEY.md
§2.12 G11/G69 multimodal surface.
"""

from __future__ import annotations

import struct

import numpy as np

# zigzag index: ZIGZAG[i] = natural (row-major) position of the i-th
# coefficient in zigzag order (T.81 Figure A.6)
_ZZ = np.array(
    [
        0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
        12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
    ],
    dtype=np.int64,
)

# orthonormal 8-point DCT basis: M[x, u] = 0.5 * c(u) * cos((2x+1)uπ/16)
# IDCT: s = M @ S @ M.T ; FDCT: S = M.T @ s @ M
_M = np.zeros((8, 8))
for _x in range(8):
    for _u in range(8):
        _c = (1 / np.sqrt(2)) if _u == 0 else 1.0
        _M[_x, _u] = 0.5 * _c * np.cos((2 * _x + 1) * _u * np.pi / 16)

# Annex K.1 luminance / K.2 chrominance quant tables (natural order via
# zigzag of the spec's zigzag listing — the spec lists them in natural
# row-major form already)
_QL = np.array(
    [
        16, 11, 10, 16, 24, 40, 51, 61,
        12, 12, 14, 19, 26, 58, 60, 55,
        14, 13, 16, 24, 40, 57, 69, 56,
        14, 17, 22, 29, 51, 87, 80, 62,
        18, 22, 37, 56, 68, 109, 103, 77,
        24, 35, 55, 64, 81, 104, 113, 92,
        49, 64, 78, 87, 103, 121, 120, 101,
        72, 92, 95, 98, 112, 100, 103, 99,
    ],
    dtype=np.int64,
)
_QC = np.array(
    [
        17, 18, 24, 47, 99, 99, 99, 99,
        18, 21, 26, 66, 99, 99, 99, 99,
        24, 26, 56, 99, 99, 99, 99, 99,
        47, 66, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
    ],
    dtype=np.int64,
)

# Annex K.3 typical Huffman tables: (bits[1..16], values)
_HT_DC_L = (
    [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
    list(range(12)),
)
_HT_DC_C = (
    [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
    list(range(12)),
)
_HT_AC_L = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
    [
        0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
        0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
        0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
        0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
        0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
        0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
        0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
        0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
        0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
        0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
        0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
        0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
        0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
        0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
        0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ],
)
_HT_AC_C = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
    [
        0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
        0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14,
        0x42, 0x91, 0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15,
        0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17,
        0x18, 0x19, 0x1A, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37,
        0x38, 0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A,
        0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65,
        0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
        0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A,
        0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
        0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5,
        0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
        0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9,
        0xDA, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2,
        0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ],
)


def _canonical_codes(bits: list[int], values: list[int]):
    """(length, code) -> symbol map per T.81 Annex C (canonical codes:
    counts per length, codes assigned in value order)."""
    table = {}
    code = 0
    idx = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            table[(length, code)] = values[idx]
            code += 1
            idx += 1
        code <<= 1
    return table


class _BitReader:
    """MSB-first bit reader over entropy-coded data with 0xFF00
    unstuffing; stops AT markers (0xFF followed by non-zero)."""

    def __init__(self, buf: bytes, pos: int):
        self.buf = buf
        self.pos = pos
        self.bit = 0

    def read_bit(self) -> int:
        if self.pos >= len(self.buf):
            raise ValueError("truncated JPEG scan data")
        byte = self.buf[self.pos]
        if byte == 0xFF:
            nxt = self.buf[self.pos + 1] if self.pos + 1 < len(self.buf) else None
            if nxt != 0x00:
                raise ValueError("hit marker inside entropy data")
        b = (byte >> (7 - self.bit)) & 1
        self.bit += 1
        if self.bit == 8:
            self.bit = 0
            self.pos += 1 if byte != 0xFF else 2  # skip the stuffed 0x00
        return b

    def receive(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def align_and_expect_rst(self, n: int) -> None:
        """Byte-align and consume the RSTn marker (T.81 restart)."""
        self.bit = 0
        # skip any pad bits already handled by alignment; find marker
        while self.pos + 1 < len(self.buf) and not (
            self.buf[self.pos] == 0xFF and self.buf[self.pos + 1] != 0x00
        ):
            self.pos += 1
        if (
            self.pos + 1 >= len(self.buf)
            or self.buf[self.pos + 1] != 0xD0 + (n % 8)
        ):
            raise ValueError("missing/invalid restart marker")
        self.pos += 2


def _extend(v: int, n: int) -> int:
    if n == 0:
        return 0
    return v if v >= (1 << (n - 1)) else v - (1 << n) + 1


def _decode_huffman(r: _BitReader, table: dict) -> int:
    code = 0
    for length in range(1, 17):
        code = (code << 1) | r.read_bit()
        sym = table.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("invalid Huffman code in JPEG stream")


def decode_jpeg_baseline(b: bytes) -> np.ndarray:
    """Decode baseline/extended-sequential OR progressive (SOF2,
    r10 — T.81 Annex G.2) Huffman JPEG bytes into an (h, w, 3) uint8
    RGB array (grayscale replicates to 3 channels, the ``decode_ppm``
    contract). Raises ``ValueError`` on malformed input AND on
    out-of-scope variants (arithmetic coding, 12-bit,
    lossless/differential/hierarchical) — callers quarantine either
    way (E1)."""
    if len(b) < 4 or b[0] != 0xFF or b[1] != 0xD8:
        raise ValueError("not a JPEG (no SOI)")
    pos = 2
    qt: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], dict] = {}
    frame = None  # (h, w, comps) ; comps = [(cid, hs, vs, tq)]
    ri = 0
    progressive = False
    while pos + 4 <= len(b):
        if b[pos] != 0xFF:
            raise ValueError("bad marker alignment")
        marker = b[pos + 1]
        if marker == 0xD9:  # EOI
            break
        seglen = struct.unpack(">H", b[pos + 2 : pos + 4])[0]
        seg = b[pos + 4 : pos + 2 + seglen]
        if marker == 0xDB:  # DQT
            i = 0
            while i < len(seg):
                pq, tq = seg[i] >> 4, seg[i] & 0xF
                i += 1
                if pq == 0:
                    tab = np.frombuffer(seg[i : i + 64], dtype=np.uint8)
                    i += 64
                else:
                    tab = np.frombuffer(
                        seg[i : i + 128], dtype=">u2"
                    )
                    i += 128
                nat = np.zeros(64, dtype=np.int64)
                nat[_ZZ] = tab.astype(np.int64)  # zigzag -> natural
                qt[tq] = nat.reshape(8, 8)
        elif marker in (0xC0, 0xC1, 0xC2):  # SOF0/SOF1/SOF2
            prec = seg[0]
            if prec != 8:
                raise ValueError(f"unsupported sample precision {prec}")
            h, w = struct.unpack(">HH", seg[1:5])
            ncomp = seg[5]
            comps = []
            for c in range(ncomp):
                cid, hv, tq2 = seg[6 + 3 * c : 9 + 3 * c]
                comps.append((cid, hv >> 4, hv & 0xF, tq2))
            frame = (h, w, comps)
            progressive = marker == 0xC2
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7):
            raise ValueError(
                "unsupported JPEG variant (lossless/differential) — "
                "sequential and progressive Huffman only"
            )
        elif marker in (0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError("arithmetic-coded JPEG not supported")
        elif marker == 0xC4:  # DHT
            i = 0
            while i < len(seg):
                tc, th = seg[i] >> 4, seg[i] & 0xF
                bits = list(seg[i + 1 : i + 17])
                nval = sum(bits)
                vals = list(seg[i + 17 : i + 17 + nval])
                huff[(tc, th)] = _canonical_codes(bits, vals)
                i += 17 + nval
        elif marker == 0xDD:  # DRI
            ri = struct.unpack(">H", seg[:2])[0]
        elif marker == 0xDA:  # SOS — entropy data follows
            if frame is None:
                raise ValueError("SOS before SOF")
            if progressive:
                # the multi-scan walker takes over from THIS marker
                return _decode_progressive(b, pos, frame, qt, huff, ri)
            ns = seg[0]
            scomp = []
            for c in range(ns):
                cs, tda = seg[1 + 2 * c : 3 + 2 * c]
                scomp.append((cs, tda >> 4, tda & 0xF))
            data_start = pos + 2 + seglen
            return _decode_scan(
                b, data_start, frame, scomp, qt, huff, ri
            )
        # all other markers (APPn, COM): skip
        pos += 2 + seglen
    raise ValueError("no SOS in JPEG stream")


def _decode_scan(b, pos, frame, scomp, qt, huff, ri) -> np.ndarray:
    h, w, comps = frame
    if h == 0 or w == 0:
        raise ValueError("zero-sized JPEG frame")
    by_id = {cid: (hs, vs, tq) for cid, hs, vs, tq in comps}
    hmax = max(hs for _, hs, _, _ in comps)
    vmax = max(vs for _, _, vs, _ in comps)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    # per-scan-component coefficient stores + geometry
    planes = []
    for cs, td, ta in scomp:
        if cs not in by_id:
            raise ValueError(f"scan references unknown component {cs}")
        hs, vs, tq = by_id[cs]
        if tq not in qt:
            raise ValueError(f"missing quant table {tq}")
        if (0, td) not in huff or (1, ta) not in huff:
            raise ValueError("missing Huffman table for scan")
        planes.append(
            {
                "hs": hs,
                "vs": vs,
                "q": qt[tq],
                "dc": huff[(0, td)],
                "ac": huff[(1, ta)],
                "coef": np.zeros(
                    (mcuy * vs, mcux * hs, 64), dtype=np.int64
                ),
                "pred": 0,
            }
        )
    r = _BitReader(b, pos)
    mcu_count = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if ri and mcu_count and mcu_count % ri == 0:
                r.align_and_expect_rst(mcu_count // ri - 1)
                for p in planes:
                    p["pred"] = 0
            for p in planes:
                for v in range(p["vs"]):
                    for hh in range(p["hs"]):
                        blk = p["coef"][
                            my * p["vs"] + v, mx * p["hs"] + hh
                        ]
                        # DC
                        ssss = _decode_huffman(r, p["dc"])
                        diff = _extend(r.receive(ssss), ssss)
                        p["pred"] += diff
                        blk[0] = p["pred"]
                        # AC
                        kk = 1
                        while kk < 64:
                            rs = _decode_huffman(r, p["ac"])
                            rrrr, size = rs >> 4, rs & 0xF
                            if size == 0:
                                if rrrr == 15:  # ZRL
                                    kk += 16
                                    continue
                                break  # EOB
                            kk += rrrr
                            if kk > 63:
                                raise ValueError("AC index overflow")
                            blk[_ZZ[kk]] = _extend(
                                r.receive(size), size
                            )
                            kk += 1
            mcu_count += 1
    return _reconstruct(planes, h, w, hmax, vmax)


def _reconstruct(planes, h, w, hmax, vmax) -> np.ndarray:
    """Vectorized dequant + 2-D IDCT per component, then upsample,
    crop, and color-convert — shared by the sequential and progressive
    paths (a progressive stream reconstructs from the SAME coefficient
    arrays once all scans have landed, T.81 G.1)."""
    out_planes = []
    for p in planes:
        blocks = p["coef"].reshape(-1, 8, 8) * p["q"]
        spatial = np.einsum(
            "xu,buv,yv->bxy", _M, blocks.astype(np.float64), _M
        )
        by, bx = p["coef"].shape[:2]
        plane = (
            spatial.reshape(by, bx, 8, 8)
            .transpose(0, 2, 1, 3)
            .reshape(by * 8, bx * 8)
        )
        plane = np.clip(np.round(plane) + 128, 0, 255).astype(np.uint8)
        # upsample to full MCU grid resolution, crop to (h, w)
        plane = np.repeat(
            np.repeat(plane, vmax // p["vs"], axis=0),
            hmax // p["hs"],
            axis=1,
        )[:h, :w]
        out_planes.append(plane.astype(np.float64))
    if len(out_planes) == 1:
        g = out_planes[0].astype(np.uint8)
        return np.stack([g, g, g], axis=-1)
    if len(out_planes) != 3:
        raise ValueError(f"unsupported component count {len(out_planes)}")
    y, cb, cr = out_planes
    r_ = y + 1.402 * (cr - 128.0)
    g_ = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b_ = y + 1.772 * (cb - 128.0)
    rgb = np.stack([r_, g_, b_], axis=-1)
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)


# ------------------------------------------------- progressive decode
# T.81 Annex G.2: spectral selection + successive approximation. The
# coefficient arrays persist across scans; DC refinement is a
# two's-complement low-bit OR (the first DC scan lands value<<Al via an
# arithmetic-shift point transform), AC refinement is sign-magnitude
# (corrections move coefficients away from zero) with EOB-run state
# that persists across blocks within a scan (G.1.2.2 / G.1.2.3).


def _decode_progressive(b, pos, frame, qt, huff, ri):
    """Walk every scan from the first SOS (``pos`` = its 0xFF) to EOI,
    accumulating coefficients, then reconstruct once."""
    h, w, comps = frame
    if h == 0 or w == 0:
        raise ValueError("zero-sized JPEG frame")
    hmax = max(hs for _, hs, _, _ in comps)
    vmax = max(vs for _, _, vs, _ in comps)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    state = {}
    for cid, hs, vs, tq in comps:
        # non-interleaved block grid (T.81 A.2.2): ceil over the
        # component's OWN sample dimensions — the MCU-grid array is its
        # superset (padding blocks are only coded in interleaved scans)
        cw = -(-(w * hs) // hmax)
        ch = -(-(h * vs) // vmax)
        state[cid] = {
            "hs": hs,
            "vs": vs,
            "tq": tq,
            "bw": -(-cw // 8),
            "bh": -(-ch // 8),
            "coef": np.zeros((mcuy * vs, mcux * hs, 64), dtype=np.int64),
        }
    saw_scan = False
    while pos + 2 <= len(b):
        if b[pos] != 0xFF:
            raise ValueError("bad marker alignment in progressive stream")
        marker = b[pos + 1]
        if marker == 0xD9:  # EOI
            break
        if 0xD0 <= marker <= 0xD7:  # stray RST between segments
            pos += 2
            continue
        if pos + 4 > len(b):
            raise ValueError("truncated progressive stream")
        seglen = struct.unpack(">H", b[pos + 2 : pos + 4])[0]
        seg = b[pos + 4 : pos + 2 + seglen]
        if marker == 0xC4:  # DHT between scans
            i = 0
            while i < len(seg):
                tc, th = seg[i] >> 4, seg[i] & 0xF
                bits = list(seg[i + 1 : i + 17])
                nval = sum(bits)
                vals = list(seg[i + 17 : i + 17 + nval])
                huff[(tc, th)] = _canonical_codes(bits, vals)
                i += 17 + nval
        elif marker == 0xDD:
            ri = struct.unpack(">H", seg[:2])[0]
        elif marker == 0xDA:
            ns = seg[0]
            scomp = []
            for c in range(ns):
                cs, tda = seg[1 + 2 * c : 3 + 2 * c]
                scomp.append((cs, tda >> 4, tda & 0xF))
            ss, se, ahal = seg[1 + 2 * ns : 4 + 2 * ns]
            r = _BitReader(b, pos + 2 + seglen)
            _progressive_scan(
                r, scomp, state, ss, se, ahal >> 4, ahal & 0xF,
                huff, ri, mcux, mcuy,
            )
            saw_scan = True
            # resync: advance past any partial byte, then to the next
            # marker (entropy data never contains FF xx, xx != 0)
            pos = r.pos + (1 if r.bit else 0)
            while pos + 1 < len(b) and not (
                b[pos] == 0xFF and b[pos + 1] != 0x00
            ):
                pos += 1
            continue
        pos += 2 + seglen
    if not saw_scan:
        raise ValueError("no scan decoded in progressive stream")
    planes = []
    for cid, hs, vs, tq in comps:
        if tq not in qt:
            raise ValueError(f"missing quant table {tq}")
        planes.append(
            {"coef": state[cid]["coef"], "q": qt[tq], "hs": hs, "vs": vs}
        )
    return _reconstruct(planes, h, w, hmax, vmax)


def _progressive_scan(
    r, scomp, state, ss, se, ah, al, huff, ri, mcux, mcuy
):
    """Decode one progressive scan into the persistent coefficient
    arrays. Interleaved scans (ns > 1, DC only per T.81) walk the MCU
    grid; non-interleaved scans walk the component's own block grid.
    Restart intervals reset DC predictors AND the EOB run."""
    ns = len(scomp)
    if ss == 0 and se != 0:
        raise ValueError("bad spectral band (Ss=0 requires Se=0)")
    if ss > 0 and ns != 1:
        raise ValueError("progressive AC scan must be single-component")
    if ss > se or se > 63:
        raise ValueError("bad spectral selection range")
    for cs, td, ta in scomp:
        if cs not in state:
            raise ValueError(f"scan references unknown component {cs}")
        if ss == 0 and ah == 0 and (0, td) not in huff:
            raise ValueError("missing DC Huffman table for scan")
        if ss > 0 and ah == 0 and (1, ta) not in huff:
            raise ValueError("missing AC Huffman table for scan")
    preds = {cs: 0 for cs, _, _ in scomp}
    eob = [0]  # EOB run, shared across blocks within the scan

    def _dc_unit(blk, cs, td):
        if ah == 0:
            ssss = _decode_huffman(r, huff[(0, td)])
            diff = _extend(r.receive(ssss), ssss)
            preds[cs] += diff
            blk[0] = preds[cs] << al
        else:  # refinement: two's-complement low-bit OR
            if r.read_bit():
                blk[0] = int(blk[0]) | (1 << al)

    units = []
    if ns > 1:  # interleaved (DC) scan: MCU walk
        for my in range(mcuy):
            for mx in range(mcux):
                unit = []
                for cs, td, ta in scomp:
                    st = state[cs]
                    for v in range(st["vs"]):
                        for hh in range(st["hs"]):
                            unit.append(
                                (
                                    st["coef"][
                                        my * st["vs"] + v,
                                        mx * st["hs"] + hh,
                                    ],
                                    cs,
                                    td,
                                    ta,
                                )
                            )
                units.append(unit)
    else:
        cs, td, ta = scomp[0]
        st = state[cs]
        for by in range(st["bh"]):
            for bx in range(st["bw"]):
                units.append([(st["coef"][by, bx], cs, td, ta)])

    count = 0
    rst = 0
    for unit in units:
        if ri and count and count % ri == 0:
            r.align_and_expect_rst(rst % 8)
            rst += 1
            for k in preds:
                preds[k] = 0
            eob[0] = 0
        for blk, cs, td, ta in unit:
            if ss == 0:
                _dc_unit(blk, cs, td)
            elif ah == 0:
                _ac_first(r, blk, ss, se, al, huff[(1, ta)], eob)
            else:
                _ac_refine(r, blk, ss, se, al, huff.get((1, ta)), eob)
        count += 1


def _ac_first(r, blk, ss, se, al, act, eob):
    """G.1.2.2: first AC scan of a band — EOBn codes cover runs of
    all-zero (in this band, at this precision) blocks."""
    if eob[0] > 0:
        eob[0] -= 1
        return
    k = ss
    while k <= se:
        rs = _decode_huffman(r, act)
        rr, s = rs >> 4, rs & 0xF
        if s == 0:
            if rr == 15:  # ZRL
                k += 16
                continue
            eob[0] = (1 << rr) - 1
            if rr:
                eob[0] += r.receive(rr)
            return  # current block consumed
        k += rr
        if k > se:
            raise ValueError("AC index overflow in progressive scan")
        blk[_ZZ[k]] = _extend(r.receive(s), s) << al
        k += 1


def _ac_refine(r, blk, ss, se, al, act, eob):
    """G.1.2.3: AC refinement — newly-significant coefficients arrive
    as ±1<<Al; every already-nonzero coefficient crossed on the way
    carries one correction bit that moves it away from zero
    (sign-magnitude). The EOB-run tail still reads correction bits for
    the remaining nonzero history."""
    p1, m1 = 1 << al, -1 << al
    k = ss
    if eob[0] == 0:
        while k <= se:
            rs = _decode_huffman(r, act)
            rr, s = rs >> 4, rs & 0xF
            if s == 0:
                if rr != 15:
                    eob[0] = 1 << rr
                    if rr:
                        eob[0] += r.receive(rr)
                    break  # tail below handles this block
                val = 0  # ZRL: pass 16 zero-history positions
            else:
                if s != 1:
                    raise ValueError("bad refinement magnitude")
                val = p1 if r.read_bit() else m1
            while k <= se:
                z = _ZZ[k]
                cur = int(blk[z])
                if cur != 0:
                    if r.read_bit() and (cur & p1) == 0:
                        blk[z] = cur + (p1 if cur > 0 else m1)
                else:
                    if rr == 0:
                        break
                    rr -= 1
                k += 1
            if val != 0 and k <= se:
                blk[_ZZ[k]] = val
            k += 1
    if eob[0] > 0:
        while k <= se:
            z = _ZZ[k]
            cur = int(blk[z])
            if cur != 0 and r.read_bit() and (cur & p1) == 0:
                blk[z] = cur + (p1 if cur > 0 else m1)
            k += 1
        eob[0] -= 1


# ---------------------------------------------------------------- encode


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, n: int) -> None:
        for i in range(n - 1, -1, -1):
            self.acc = (self.acc << 1) | ((value >> i) & 1)
            self.nbits += 1
            if self.nbits == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:
                    self.out.append(0x00)  # byte stuffing
                self.acc = 0
                self.nbits = 0

    def flush(self) -> None:
        if self.nbits:
            self.acc <<= 8 - self.nbits
            self.acc |= (1 << (8 - self.nbits)) - 1  # pad with 1s
            self.out.append(self.acc)
            if self.acc == 0xFF:
                self.out.append(0x00)
            self.acc = 0
            self.nbits = 0


def _encode_codes(bits, values):
    """symbol -> (code, length), canonical (inverse of decode table)."""
    table = {}
    code = 0
    idx = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            table[values[idx]] = (code, length)
            code += 1
            idx += 1
        code <<= 1
    return table


def _quality_scale(q_tab: np.ndarray, quality: int) -> np.ndarray:
    quality = min(100, max(1, quality))
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    return np.clip((q_tab * scale + 50) // 100, 1, 255).astype(np.int64)


def _magnitude(v: int) -> int:
    return 0 if v == 0 else int(abs(v)).bit_length()


def _encode_block(
    bw: _BitWriter, blk: np.ndarray, pred: int, dc_tab, ac_tab
) -> int:
    """Huffman-encode one quantized 8x8 block (natural order in);
    returns the new DC predictor."""
    zz = blk.reshape(64)[_ZZ]
    diff = int(zz[0]) - pred
    ssss = _magnitude(diff)
    code, n = dc_tab[ssss]
    bw.write(code, n)
    if ssss:
        bw.write(diff if diff > 0 else diff + (1 << ssss) - 1, ssss)
    run = 0
    for k in range(1, 64):
        v = int(zz[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, n = ac_tab[0xF0]  # ZRL
            bw.write(code, n)
            run -= 16
        size = _magnitude(v)
        code, n = ac_tab[(run << 4) | size]
        bw.write(code, n)
        bw.write(v if v > 0 else v + (1 << size) - 1, size)
        run = 0
    if run:
        code, n = ac_tab[0x00]  # EOB
        bw.write(code, n)
    return int(zz[0])


def _fdct_quant(plane: np.ndarray, q: np.ndarray) -> np.ndarray:
    """(H, W) float plane (level-shifted) -> (by, bx, 8, 8) quantized
    int coefficients, vectorized."""
    hh, ww = plane.shape
    by, bx = hh // 8, ww // 8
    blocks = (
        plane.reshape(by, 8, bx, 8).transpose(0, 2, 1, 3).reshape(-1, 8, 8)
    )
    coeffs = np.einsum("xu,bxy,yv->buv", _M, blocks, _M)
    return np.round(coeffs / q).astype(np.int64).reshape(by, bx, 8, 8)


def encode_jpeg_baseline(
    arr: np.ndarray,
    quality: int = 85,
    subsampling: str = "444",
    restart_interval: int = 0,
) -> bytes:
    """Encode an (h, w) grayscale or (h, w, 3) RGB uint8 array as a
    baseline JFIF JPEG (Annex-K tables at the libjpeg quality scaling).
    ``subsampling``: ``"444"`` (every component full-resolution) or
    ``"420"`` (chroma box-filtered 2×2, the web's dominant layout —
    exists mainly so the decoder's generic MCU walk and upsampler have
    a self-contained fixture source). ``restart_interval`` > 0 emits
    DRI + RSTn markers every that-many MCUs. Pads to MCU multiples by
    edge replication."""
    arr = np.asarray(arr, dtype=np.uint8)
    gray = arr.ndim == 2
    if subsampling not in ("444", "420"):
        raise ValueError("subsampling must be '444' or '420'")
    if gray:
        samp = [(1, 1)]
    elif subsampling == "444":
        samp = [(1, 1), (1, 1), (1, 1)]
    else:
        samp = [(2, 2), (1, 1), (1, 1)]
    hmax = max(s[0] for s in samp)
    vmax = max(s[1] for s in samp)
    h, w = arr.shape[:2]
    if h == 0 or w == 0:
        raise ValueError("empty image")
    ph = -(-h // (8 * vmax)) * 8 * vmax
    pw = -(-w // (8 * hmax)) * 8 * hmax
    arr = np.pad(
        arr,
        [(0, ph - h), (0, pw - w)] + ([] if gray else [(0, 0)]),
        mode="edge",
    ).astype(np.float64)
    if gray:
        full = [arr - 128.0]
    else:
        r_, g_, b_ = arr[..., 0], arr[..., 1], arr[..., 2]
        y = 0.299 * r_ + 0.587 * g_ + 0.114 * b_
        cb = -0.168736 * r_ - 0.331264 * g_ + 0.5 * b_ + 128.0
        cr = 0.5 * r_ - 0.418688 * g_ - 0.081312 * b_ + 128.0
        full = [y - 128.0, cb - 128.0, cr - 128.0]
    # subsample each component to its (hs, vs) grid (box filter)
    planes = []
    for p, (hs, vs) in zip(full, samp):
        fy, fx = vmax // vs, hmax // hs
        if fy > 1 or fx > 1:
            hh, ww2 = p.shape
            p = p.reshape(hh // fy, fy, ww2 // fx, fx).mean(axis=(1, 3))
        planes.append(p)
    ql = _quality_scale(_QL.reshape(8, 8), quality)
    qc = _quality_scale(_QC.reshape(8, 8), quality)
    qs = [ql] + ([qc, qc] if not gray else [])

    out = bytearray(b"\xff\xd8")  # SOI
    # DQT (table 0 = luma; table 1 = chroma when color)
    for tid, q in ([(0, ql)] + ([(1, qc)] if not gray else [])):
        zz = q.reshape(64)[_ZZ].astype(np.uint8)
        out += b"\xff\xdb" + struct.pack(">H", 67) + bytes([tid]) + bytes(zz)
    # SOF0
    ncomp = 1 if gray else 3
    sof = struct.pack(">BHHB", 8, h, w, ncomp)
    for cid in range(1, ncomp + 1):
        hs, vs = samp[cid - 1]
        sof += bytes([cid, (hs << 4) | vs, 0 if cid == 1 else 1])
    out += b"\xff\xc0" + struct.pack(">H", 2 + len(sof)) + sof
    # DHT (the four Annex-K tables, or two for grayscale)
    hts = [(0, 0, _HT_DC_L), (1, 0, _HT_AC_L)]
    if not gray:
        hts += [(0, 1, _HT_DC_C), (1, 1, _HT_AC_C)]
    for tc, th, (bits, vals) in hts:
        body = bytes([tc << 4 | th]) + bytes(bits) + bytes(vals)
        out += b"\xff\xc4" + struct.pack(">H", 2 + len(body)) + body
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    # SOS
    sos = bytes([ncomp])
    for cid in range(1, ncomp + 1):
        sos += bytes([cid, 0x00 if cid == 1 else 0x11])
    sos += bytes([0, 63, 0])
    out += b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos

    dc_l, ac_l = _encode_codes(*_HT_DC_L), _encode_codes(*_HT_AC_L)
    dc_c, ac_c = _encode_codes(*_HT_DC_C), _encode_codes(*_HT_AC_C)
    coefs = [_fdct_quant(p, q) for p, q in zip(planes, qs)]
    bw = _BitWriter()
    preds = [0] * ncomp
    mcuy, mcux = ph // (8 * vmax), pw // (8 * hmax)
    mcu_count = 0
    rst = 0
    for myx in range(mcuy):
        for mxx in range(mcux):
            if (
                restart_interval
                and mcu_count
                and mcu_count % restart_interval == 0
            ):
                bw.flush()
                bw.out += bytes([0xFF, 0xD0 + (rst % 8)])
                rst += 1
                preds = [0] * ncomp
            for ci in range(ncomp):
                hs, vs = samp[ci]
                dc_t, ac_t = (dc_l, ac_l) if ci == 0 else (dc_c, ac_c)
                for v in range(vs):
                    for hh in range(hs):
                        preds[ci] = _encode_block(
                            bw,
                            coefs[ci][myx * vs + v, mxx * hs + hh],
                            preds[ci],
                            dc_t,
                            ac_t,
                        )
            mcu_count += 1
    bw.flush()
    out += bw.out
    out += b"\xff\xd9"  # EOI
    return bytes(out)


# ------------------------------------------------- progressive encode
# Exists so the progressive decoder has a self-contained fixture
# source (the same reason encode_jpeg_baseline exists): an independent
# implementation of T.81 G.1.2's encoding procedures whose output any
# conformant decoder accepts. One deliberately simple design choice: a
# single UNIVERSAL Huffman table (255 symbols at 9 bits + 1 at 10 —
# Kraft-valid, no all-ones code) covers every DC size and every
# (run, size)/EOBn/ZRL symbol, so no per-scan frequency pass is needed
# and EOB runs > 1 are expressible (the Annex-K tables lack EOBn
# symbols above EOB0, which would leave the decoder's EOB-run path
# untested). Fixture-grade output: ~1 bit/symbol larger than optimized
# tables, irrelevant here.

_HT_UNIV = ([0] * 8 + [255, 1] + [0] * 6, list(range(256)))


def _flush_eobrun(bw, act, st):
    """Emit the pending EOBn code (+ extension bits), then the
    correction bits that belong to the deferred blocks (G.1.2.3's BE
    buffer — the decoder reads them in its EOB-run tails)."""
    e = st["eobrun"]
    if e:
        nbits = e.bit_length() - 1
        code, n = act[nbits << 4]
        bw.write(code, n)
        if nbits:
            bw.write(e - (1 << nbits), nbits)
        st["eobrun"] = 0
    for bit in st["be"]:
        bw.write(bit, 1)
    st["be"] = []


def _emit_br(bw, st):
    """Emit the CURRENT block's buffered correction bits — always
    directly after the symbol (ZRL or runlength/1 code) whose decoder
    walk crosses their positions; BE and BR are distinct buffers for
    exactly this reason (bits deferred into an EOB run ride after the
    EOBn code instead)."""
    for bit in st["br"]:
        bw.write(bit, 1)
    st["br"] = []


def _enc_ac_first(bw, act, zz, ss, se, al, st):
    """Encode one block of a first AC scan (G.1.2.2): magnitudes are
    the point-transformed abs values, EOB runs accumulate in ``st``."""
    run = 0
    for k in range(ss, se + 1):
        t = int(zz[k])
        m = (t if t >= 0 else -t) >> al
        if m == 0:
            run += 1
            continue
        _flush_eobrun(bw, act, st)
        while run > 15:
            code, n = act[0xF0]
            bw.write(code, n)
            run -= 16
        s = m.bit_length()
        code, n = act[(run << 4) | s]
        bw.write(code, n)
        bw.write(m if t > 0 else m ^ ((1 << s) - 1), s)
        run = 0
    if run:
        st["eobrun"] += 1
        if st["eobrun"] == 0x7FFF:
            _flush_eobrun(bw, act, st)


def _enc_ac_refine(bw, act, zz, ss, se, al, st):
    """Encode one block of an AC refinement scan (G.1.2.3):
    newly-significant coefficients (|coef|>>Al == 1) get (run, 1) codes
    + a sign bit; already-nonzero history gets one buffered correction
    bit each; trailing content defers into the shared EOB run. The ZRL
    check runs at EVERY nonzero coefficient — significant or history —
    and only while inside the band's significant span (``eobpos``):
    emitting it lazily at the next significant coefficient would put
    correction bits for positions beyond the 16-zero window on the
    wire before the decoder's walk can reach them (the subtlety the
    spec buries in figure G.7's flow)."""
    vals = [int(zz[k]) for k in range(ss, se + 1)]
    mags = [(v if v >= 0 else -v) >> al for v in vals]
    eobpos = -1  # index of the LAST newly-significant coefficient
    for i, m in enumerate(mags):
        if m == 1:
            eobpos = i
    run = 0
    for i, m in enumerate(mags):
        if m == 0:
            run += 1
            continue
        while run > 15 and i <= eobpos:
            _flush_eobrun(bw, act, st)
            code, n = act[0xF0]
            bw.write(code, n)
            run -= 16
            _emit_br(bw, st)
        if m > 1:  # history coefficient: one correction bit
            st["br"].append(m & 1)
            continue
        # newly significant at this precision
        _flush_eobrun(bw, act, st)
        code, n = act[(run << 4) | 1]
        bw.write(code, n)
        bw.write(1 if vals[i] > 0 else 0, 1)
        _emit_br(bw, st)
        run = 0
    if run or st["br"]:
        st["eobrun"] += 1
        st["be"] += st["br"]
        st["br"] = []
        if st["eobrun"] == 0x7FFF:
            _flush_eobrun(bw, act, st)


# Default scan script: DC first at Al=1 (interleaved), split luma AC
# bands at Al=2, chroma AC at Al=1, then the refinement ladder down to
# Al=0 — exercises spectral selection, successive approximation, EOB
# runs, ZRL-in-refinement, and correction bits in one file.
_PROG_SCANS_COLOR = [
    ([0, 1, 2], 0, 0, 0, 1),
    ([0], 1, 5, 0, 2),
    ([0], 6, 63, 0, 2),
    ([1], 1, 63, 0, 1),
    ([2], 1, 63, 0, 1),
    ([0], 1, 63, 2, 1),
    ([0], 1, 63, 1, 0),
    ([1], 1, 63, 1, 0),
    ([2], 1, 63, 1, 0),
    ([0, 1, 2], 0, 0, 1, 0),
]
_PROG_SCANS_GRAY = [
    ([0], 0, 0, 0, 1),
    ([0], 1, 5, 0, 2),
    ([0], 6, 63, 0, 2),
    ([0], 1, 63, 2, 1),
    ([0], 1, 63, 1, 0),
    ([0], 0, 0, 1, 0),
]


def encode_jpeg_progressive(
    arr: np.ndarray, quality: int = 85, scans: list | None = None
) -> bytes:
    """Encode an (h, w) grayscale or (h, w, 3) RGB uint8 array as a
    progressive (SOF2) JFIF JPEG, 4:4:4, same quant tables and forward
    path as :func:`encode_jpeg_baseline` — so a baseline twin at the
    same quality decodes to the BIT-IDENTICAL image (identical
    quantized coefficients in, identical IDCT out; the pytest pin).
    ``scans``: list of (component indexes, Ss, Se, Ah, Al); successive
    approximation per component must step Al down by exactly 1 per
    refinement and end at 0 (T.81 G.1.1.1.2), as the defaults do."""
    arr = np.asarray(arr, dtype=np.uint8)
    gray = arr.ndim == 2
    h, w = arr.shape[:2]
    if h == 0 or w == 0:
        raise ValueError("empty image")
    ph, pw = -(-h // 8) * 8, -(-w // 8) * 8
    arr = np.pad(
        arr, [(0, ph - h), (0, pw - w)] + ([] if gray else [(0, 0)]),
        mode="edge",
    ).astype(np.float64)
    if gray:
        full = [arr - 128.0]
    else:
        r_, g_, b_ = arr[..., 0], arr[..., 1], arr[..., 2]
        y = 0.299 * r_ + 0.587 * g_ + 0.114 * b_
        cb = -0.168736 * r_ - 0.331264 * g_ + 0.5 * b_ + 128.0
        cr = 0.5 * r_ - 0.418688 * g_ - 0.081312 * b_ + 128.0
        full = [y - 128.0, cb - 128.0, cr - 128.0]
    ql = _quality_scale(_QL.reshape(8, 8), quality)
    qc = _quality_scale(_QC.reshape(8, 8), quality)
    qs = [ql] + ([qc, qc] if not gray else [])
    coefs = [_fdct_quant(p, q) for p, q in zip(full, qs)]
    by, bx = ph // 8, pw // 8
    ncomp = 1 if gray else 3
    if scans is None:
        scans = _PROG_SCANS_GRAY if gray else _PROG_SCANS_COLOR

    out = bytearray(b"\xff\xd8")
    for tid, q in ([(0, ql)] + ([(1, qc)] if not gray else [])):
        zzq = q.reshape(64)[_ZZ].astype(np.uint8)
        out += b"\xff\xdb" + struct.pack(">H", 67) + bytes([tid]) + bytes(zzq)
    sof = struct.pack(">BHHB", 8, h, w, ncomp)
    for cid in range(1, ncomp + 1):
        sof += bytes([cid, 0x11, 0 if cid == 1 else 1])
    out += b"\xff\xc2" + struct.pack(">H", 2 + len(sof)) + sof
    for tc in (0, 1):
        bits, vals = _HT_UNIV
        body = bytes([tc << 4]) + bytes(bits) + bytes(vals)
        out += b"\xff\xc4" + struct.pack(">H", 2 + len(body)) + body

    tab = _encode_codes(*_HT_UNIV)
    for comp_ix, ss, se, ah, al in scans:
        sos = bytes([len(comp_ix)])
        for ci in comp_ix:
            sos += bytes([ci + 1, 0x00])
        sos += bytes([ss, se, (ah << 4) | al])
        out += b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos
        bw = _BitWriter()
        preds = {ci: 0 for ci in comp_ix}
        st = {"eobrun": 0, "be": [], "br": []}
        for yb in range(by):
            for xb in range(bx):
                for ci in comp_ix:
                    blk = coefs[ci][yb, xb]
                    zz = blk.reshape(64)[_ZZ]
                    if ss == 0:
                        dc = int(zz[0])
                        if ah == 0:
                            v = dc >> al  # arithmetic shift (G.1.2.1)
                            diff = v - preds[ci]
                            preds[ci] = v
                            ssss = _magnitude(diff)
                            code, n = tab[ssss]
                            bw.write(code, n)
                            if ssss:
                                bw.write(
                                    diff if diff > 0
                                    else diff + (1 << ssss) - 1,
                                    ssss,
                                )
                        else:
                            bw.write((dc >> al) & 1, 1)
                    elif ah == 0:
                        _enc_ac_first(bw, tab, zz, ss, se, al, st)
                    else:
                        _enc_ac_refine(bw, tab, zz, ss, se, al, st)
        _flush_eobrun(bw, tab, st)
        bw.flush()
        out += bw.out
    out += b"\xff\xd9"
    return bytes(out)


# ---------------------------------------------------------------- PNG
# PNG rides in this module because it shares the mission (real decode
# for the wire formats a crawl actually serves) and the dependency
# budget (stdlib zlib + numpy only). Spec: RFC 2083 / W3C PNG.

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_unfilter(raw: np.ndarray, h: int, stride: int, bpp: int) -> np.ndarray:
    """Undo per-scanline filtering (types 0-4). Rows carry a leading
    filter byte; bpp = bytes per pixel. Sequential by spec (each row
    depends on the previous), vectorized within a row where the filter
    allows."""
    out = np.zeros((h, stride), dtype=np.uint8)
    pos = 0
    for y in range(h):
        ftype = raw[pos]
        row = raw[pos + 1 : pos + 1 + stride].astype(np.int64)
        pos += 1 + stride
        prev = out[y - 1].astype(np.int64) if y else np.zeros(stride, np.int64)
        if ftype == 0:
            cur = row
        elif ftype == 2:  # up
            cur = (row + prev) & 0xFF
        elif ftype == 1:  # sub — sequential in x by definition
            cur = row.copy()
            for x in range(bpp, stride):
                cur[x] = (cur[x] + cur[x - bpp]) & 0xFF
        elif ftype == 3:  # average
            cur = row.copy()
            for x in range(stride):
                left = cur[x - bpp] if x >= bpp else 0
                cur[x] = (cur[x] + ((left + prev[x]) >> 1)) & 0xFF
        elif ftype == 4:  # paeth
            cur = row.copy()
            for x in range(stride):
                a = cur[x - bpp] if x >= bpp else 0
                b = prev[x]
                c = prev[x - bpp] if x >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                cur[x] = (cur[x] + pr) & 0xFF
        else:
            raise ValueError(f"unknown PNG filter type {ftype}")
        out[y] = cur.astype(np.uint8)
    return out


def decode_png(b: bytes) -> np.ndarray:
    """Decode an 8-bit-depth, non-interlaced PNG into (h, w, 3) uint8
    RGB — stdlib zlib + numpy. Color types: 0 grayscale, 2 RGB,
    3 palette, 4 gray+alpha, 6 RGBA (alpha dropped — the perceptual
    pipeline hashes opaque pixels). Raises ``ValueError`` on malformed
    bytes and on out-of-scope variants (16-bit depth, Adam7 interlace)
    so callers quarantine per E1, exactly like the JPEG/PPM paths."""
    import zlib

    if b[:8] != _PNG_SIG:
        raise ValueError("not a PNG (bad signature)")
    pos = 8
    ihdr = None
    plte = None
    idat = bytearray()
    while pos + 8 <= len(b):
        clen = struct.unpack(">I", b[pos : pos + 4])[0]
        ctype = b[pos + 4 : pos + 8]
        data = b[pos + 8 : pos + 8 + clen]
        if len(data) != clen:
            raise ValueError("truncated PNG chunk")
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", data)
        elif ctype == b"PLTE":
            plte = np.frombuffer(data, dtype=np.uint8).reshape(-1, 3)
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            break
        pos += 12 + clen  # len + type + data + crc
    if ihdr is None or not idat:
        raise ValueError("PNG missing IHDR/IDAT")
    w, h, depth, ctype_, comp, filt, interlace = ihdr
    if depth != 8:
        raise ValueError(f"unsupported PNG bit depth {depth}")
    if interlace != 0:
        raise ValueError("Adam7-interlaced PNG not supported")
    if comp != 0 or filt != 0:
        raise ValueError("nonstandard PNG compression/filter method")
    channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(ctype_)
    if channels is None:
        raise ValueError(f"unknown PNG color type {ctype_}")
    if w == 0 or h == 0:
        raise ValueError("zero-sized PNG")
    try:
        raw = np.frombuffer(zlib.decompress(bytes(idat)), dtype=np.uint8)
    except zlib.error as e:
        raise ValueError(f"corrupt PNG zlib stream: {e}") from e
    stride = w * channels
    if len(raw) < h * (stride + 1):
        raise ValueError("truncated PNG pixel data")
    px = _png_unfilter(raw, h, stride, channels).reshape(h, w, channels)
    if ctype_ == 0:
        g = px[..., 0]
        return np.stack([g, g, g], axis=-1)
    if ctype_ == 2:
        return px.copy()
    if ctype_ == 3:
        if plte is None:
            raise ValueError("palette PNG without PLTE")
        idx = px[..., 0]
        if int(idx.max()) >= len(plte):
            raise ValueError("PNG palette index out of range")
        return plte[idx]
    if ctype_ == 4:
        g = px[..., 0]
        return np.stack([g, g, g], axis=-1)
    return px[..., :3].copy()  # 6: RGBA -> RGB


def encode_png(arr: np.ndarray) -> bytes:
    """Encode an (h, w) grayscale or (h, w, 3) RGB uint8 array as a
    minimal PNG (color type 0/2, filter 0 scanlines, one IDAT) —
    stdlib zlib. Lossless, so round-trips are byte-exact on pixels."""
    import zlib

    arr = np.asarray(arr, dtype=np.uint8)
    gray = arr.ndim == 2
    h, w = arr.shape[:2]
    if h == 0 or w == 0:
        raise ValueError("empty image")
    ctype = 0 if gray else 2
    body = arr.reshape(h, -1)
    raw = b"".join(b"\x00" + body[y].tobytes() for y in range(h))

    def chunk(tag: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + tag
            + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
    return (
        _PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw, 6))
        + chunk(b"IEND", b"")
    )


# ---------------------------------------------------------------- GIF
# GIF87a/89a (CompuServe spec; public). Decodes the FIRST image frame
# to RGB — the perceptual pipeline treats an animation like its poster
# frame, the convention thumbnailers use.


def _lzw_decode(data: bytes, min_code_size: int, n_expected: int) -> np.ndarray:
    """GIF-variant LZW: variable-width codes (LSB-first bit packing),
    CLEAR resets the table, EOI ends the stream."""
    clear = 1 << min_code_size
    eoi = clear + 1
    out = np.zeros(n_expected, dtype=np.uint8)
    n_out = 0
    # bit reader, LSB-first
    acc = 0
    nbits = 0
    pos = 0
    width = min_code_size + 1
    table: list[bytes] = [bytes([i]) for i in range(clear)] + [b"", b""]
    prev: bytes | None = None
    while True:
        while nbits < width:
            if pos >= len(data):
                if n_out == n_expected:
                    return out  # missing EOI: tolerated, frame complete
                raise ValueError("truncated GIF LZW stream")
            acc |= data[pos] << nbits
            nbits += 8
            pos += 1
        code = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width
        if code == clear:
            table = [bytes([i]) for i in range(clear)] + [b"", b""]
            width = min_code_size + 1
            prev = None
            continue
        if code == eoi:
            if n_out != n_expected:
                raise ValueError(
                    f"GIF frame decoded {n_out} of {n_expected} pixels"
                )
            return out
        if prev is None:
            if code >= len(table):
                raise ValueError("invalid first GIF LZW code")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            table.append(prev + entry[:1])
        elif code == len(table):  # the KwKwK case
            entry = prev + prev[:1]
            table.append(entry)
        else:
            raise ValueError("GIF LZW code out of range")
        if n_out + len(entry) > n_expected:
            raise ValueError("GIF LZW overrun")
        out[n_out : n_out + len(entry)] = np.frombuffer(entry, np.uint8)
        n_out += len(entry)
        prev = entry
        if len(table) == (1 << width) and width < 12:
            width += 1
    raise ValueError("unreachable")


_GIF_INTERLACE = ((0, 8), (4, 8), (2, 4), (1, 2))


def decode_gif(b: bytes) -> np.ndarray:
    """Decode the first frame of a GIF87a/GIF89a into (h, w, 3) uint8
    RGB (palette-expanded; transparency rendered as its palette color;
    interlaced row order undone). Raises ``ValueError`` on malformed
    bytes — E1-quarantinable like the JPEG/PNG paths."""
    if b[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF (bad signature)")
    if len(b) < 13:
        raise ValueError("truncated GIF header")
    sw, sh, flags, _bg, _ar = struct.unpack("<HHBBB", b[6:13])
    pos = 13
    gct = None
    if flags & 0x80:
        n = 2 << (flags & 7)
        gct = np.frombuffer(b[pos : pos + 3 * n], np.uint8).reshape(-1, 3)
        if len(gct) != n:
            raise ValueError("truncated GIF global color table")
        pos += 3 * n
    while pos < len(b):
        blk = b[pos]
        pos += 1
        if blk == 0x3B:  # trailer
            break
        if blk == 0x21:  # extension: label + sub-blocks, skip
            pos += 1
            while pos < len(b) and b[pos] != 0:
                pos += 1 + b[pos]
            pos += 1
            continue
        if blk != 0x2C:
            raise ValueError(f"unknown GIF block 0x{blk:02x}")
        if pos + 9 > len(b):
            raise ValueError("truncated GIF image descriptor")
        _x, _y, w, h, iflags = struct.unpack("<HHHHB", b[pos : pos + 9])
        pos += 9
        pal = gct
        if iflags & 0x80:
            n = 2 << (iflags & 7)
            pal = np.frombuffer(b[pos : pos + 3 * n], np.uint8).reshape(-1, 3)
            if len(pal) != n:
                raise ValueError("truncated GIF local color table")
            pos += 3 * n
        if pal is None:
            raise ValueError("GIF frame without a color table")
        if w == 0 or h == 0:
            raise ValueError("zero-sized GIF frame")
        if pos >= len(b):
            raise ValueError("truncated GIF before LZW data")
        min_code = b[pos]
        pos += 1
        if not 2 <= min_code <= 11:
            raise ValueError(f"bad GIF LZW minimum code size {min_code}")
        data = bytearray()
        while pos < len(b) and b[pos] != 0:
            ln = b[pos]
            data += b[pos + 1 : pos + 1 + ln]
            pos += 1 + ln
        pos += 1
        idx = _lzw_decode(bytes(data), min_code, w * h).reshape(h, w)
        if iflags & 0x40:  # interlaced: rows arrive in 4 passes
            order = [
                r
                for start, step in _GIF_INTERLACE
                for r in range(start, h, step)
            ]
            de = np.zeros_like(idx)
            de[order] = idx
            idx = de
        if int(idx.max()) >= len(pal):
            raise ValueError("GIF palette index out of range")
        return pal[idx]
    raise ValueError("GIF contains no image frame")


def encode_gif(arr: np.ndarray) -> bytes:
    """Encode an (h, w, 3) uint8 array with ≤ 256 distinct colors (or
    an (h, w) grayscale array) as a single-frame GIF89a. LZW is emitted
    in fixed-width 'clear-flood' form (a CLEAR code before every
    symbol), the classic patent-era minimal writer — larger output,
    spec-valid, and exactly what fixtures need."""
    arr = np.asarray(arr, dtype=np.uint8)
    if arr.ndim == 2:
        arr = np.stack([arr, arr, arr], axis=-1)
    h, w = arr.shape[:2]
    flat = arr.reshape(-1, 3)
    colors, idx = np.unique(flat, axis=0, return_inverse=True)
    if len(colors) > 256:
        raise ValueError(f"encode_gif needs <= 256 colors, got {len(colors)}")
    bits = max(2, int(len(colors) - 1).bit_length())
    pal = np.zeros((1 << bits, 3), np.uint8)
    pal[: len(colors)] = colors
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", w, h, 0x80 | (bits - 1), 0, 0)
    out += pal.tobytes()
    out += b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, 0)
    min_code = bits
    clear = 1 << min_code
    eoi = clear + 1
    width = min_code + 1
    acc = 0
    nbits = 0
    data = bytearray()

    def emit(code: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            data.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    emit(clear)
    for v in idx.reshape(-1):
        emit(int(v))
        emit(clear)  # keep the table (and the code width) fixed
    emit(eoi)
    if nbits:
        data.append(acc & 0xFF)
    out += bytes([min_code])
    for i in range(0, len(data), 255):
        chunk = data[i : i + 255]
        out += bytes([len(chunk)]) + bytes(chunk)
    out += b"\x00\x3b"
    return bytes(out)
