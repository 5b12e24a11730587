"""Pure-numpy baseline JPEG codec — no PIL, no external libs.

Closes the last gated image format: sequential baseline (SOF0 —
interleaved OR per-component non-interleaved multi-scan, r9) AND
progressive (SOF2 — spectral selection, successive approximation,
EOB runs; r9) DCT JPEG, Huffman entropy coding, 8-bit, grayscale or
YCbCr with any h/v chroma subsampling, restart markers — all decode
natively, as do 4-component Adobe CMYK/YCCK frames via the APP14
transform (r9). Arithmetic coding, 12-bit, partially-interleaved scans,
and lossless/hierarchical processes stay behind the honest
NotImplementedError gate (PIL handles them when present).

Pieces (ITU-T T.81 baseline):
- segment walk: DQT / SOF0 / DHT / DRI / SOS, APPn+COM skipped;
- canonical Huffman decode over the byte-stuffed entropy stream
  (0xFF00 unstuffing, RSTn resets DC predictors + bit alignment);
- per-block: DC diff (size category + EXTEND sign rule) and AC
  (run/size, EOB, ZRL) in zigzag order → dequantize → 8×8 IDCT as two
  matrix products against the orthonormal DCT-II basis;
- MCU raster: each component contributes h×v blocks per MCU; chroma
  nearest-upsampled to full resolution; BT.601 YCbCr→RGB.

The encoder (baseline 4:4:4, Annex-K quantization + Huffman tables,
quality-scaled) exists so synthetic corpora and tests can generate real
compressed payloads in-sandbox; decode correctness is certified by an
analytic DC-only golden (a solid-color block's bitstream is hand-
derivable) plus round-trip PSNR bounds — see tests/test_operators.py.
"""

from __future__ import annotations

import struct

import numpy as np

# zigzag index order: zigzag[k] = (row, col) of the k-th coefficient
_ZZ = np.array(
    [
        0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
        12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
    ],
    dtype=np.int64,
)

# orthonormal 8x8 DCT-II basis: C[u, x] = a(u) cos((2x+1)uπ/16)
_C = np.zeros((8, 8))
for _u in range(8):
    for _x in range(8):
        _C[_u, _x] = (np.sqrt(1 / 8) if _u == 0 else np.sqrt(2 / 8)) * np.cos(
            (2 * _x + 1) * _u * np.pi / 16
        )

# Annex K.1/K.2 example quantization tables (luma, chroma)
_QT_LUMA = np.array(
    [
        16, 11, 10, 16, 24, 40, 51, 61, 12, 12, 14, 19, 26, 58, 60, 55,
        14, 13, 16, 24, 40, 57, 69, 56, 14, 17, 22, 29, 51, 87, 80, 62,
        18, 22, 37, 56, 68, 109, 103, 77, 24, 35, 55, 64, 81, 104, 113, 92,
        49, 64, 78, 87, 103, 121, 120, 101, 72, 92, 95, 98, 112, 100, 103, 99,
    ],
    dtype=np.int64,
)
_QT_CHROMA = np.array(
    [
        17, 18, 24, 47, 99, 99, 99, 99, 18, 21, 26, 66, 99, 99, 99, 99,
        24, 26, 56, 99, 99, 99, 99, 99, 47, 66, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99,
    ],
    dtype=np.int64,
)

# Annex K.3 typical Huffman tables: (bits[1..16], huffval)
_DC_LUMA = (
    [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
    list(range(12)),
)
_DC_CHROMA = (
    [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
    list(range(12)),
)
_AC_LUMA = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
    [
        0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41, 0x06,
        0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
        0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24, 0x33, 0x62, 0x72,
        0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
        0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44, 0x45,
        0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
        0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75,
        0x76, 0x77, 0x78, 0x79, 0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
        0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
        0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
        0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
        0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
        0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2, 0xF3, 0xF4,
        0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ],
)
_AC_CHROMA = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
    [
        0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12, 0x41,
        0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
        0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15, 0x62, 0x72, 0xD1,
        0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
        0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44,
        0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
        0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74,
        0x75, 0x76, 0x77, 0x78, 0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
        0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A,
        0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
        0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
        0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
        0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2, 0xF3, 0xF4,
        0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ],
)


def _huff_decode_table(bits: list[int], huffval: list[int]) -> list[int]:
    """Canonical Huffman decode as a FLAT 16-bit lookup table:
    ``lut[next16bits] = (code_length << 8) | symbol`` (0 = invalid code).
    One list index replaces up to 16 bit-by-bit dict probes per symbol —
    the entropy loop is the pure-Python decoder's throughput bound, and
    this is the classic fix (every C decoder does the same). Exactly the
    canonical prefix decode, so results are bit-identical to the
    per-bit walk. Memoized on the (bits, huffval) spec (r12): rebuilding
    the 65536-entry list cost ~0.8 ms per table per image — decoders of
    a media COLUMN see the same standard tables millions of times."""
    return _huff_decode_table_cached(tuple(bits), tuple(huffval))


def _huff_decode_table_cached(bits: tuple, huffval: tuple) -> list[int]:
    cached = _HUFF_LUT_CACHE.get((bits, huffval))
    if cached is not None:
        return cached
    lut = [0] * 65536
    code, k = 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            prefix = code << (16 - length)
            lut[prefix : prefix + (1 << (16 - length))] = [
                (length << 8) | huffval[k]
            ] * (1 << (16 - length))
            code += 1
            k += 1
        code <<= 1
    if len(_HUFF_LUT_CACHE) >= 64:  # tiny bound: ~32 MB of LUTs max
        _HUFF_LUT_CACHE.clear()
    _HUFF_LUT_CACHE[(bits, huffval)] = lut
    return lut


_HUFF_LUT_CACHE: dict[tuple, list[int]] = {}

#: id(base lut) → (base lut ref, joint AC table). Keyed by object identity:
#: base LUTs are themselves memoized, so the same table object recurs; the
#: stored ref keeps it alive (id stays valid) and is identity-checked.
_AC_JOINT_CACHE: dict[int, tuple[list[int], list[int]]] = {}


def _ac_joint_table(lut: list[int]) -> list[int]:
    """JOINT AC decode table over every 16-bit window: one lookup yields
    the fully-decoded coefficient — run length, EXTEND-signed value, and
    total bits consumed (code + magnitude) — whenever the magnitude bits
    fit inside the same window the code was peeked from (the common case:
    Annex-K codes ≤ 16 bits with size ≤ 10). Entry packing:
    ``consumed<<22 | kind<<20 | run<<16 | (value+32768)`` with kind
    0=coefficient, 1=EOB, 2=ZRL, 3=slow (magnitude spills past the
    window → the caller re-fetches). 0 = invalid code. Built vectorized
    (numpy over the 65536 windows) and memoized per base LUT — the
    second half of the r12 entropy-loop rework: the per-coefficient hot
    path drops to one list index + a handful of int ops."""
    cached = _AC_JOINT_CACHE.get(id(lut))
    if cached is not None and cached[0] is lut:
        return cached[1]
    sym = np.array(lut, dtype=np.int64)
    ln = sym >> 8
    sv = sym & 0xFF
    size = sv & 0xF
    run = sv >> 4
    t = ln + size
    wins = np.arange(65536, dtype=np.int64)
    mask = (1 << size) - 1
    mag = (wins >> np.maximum(16 - t, 0)) & mask
    half = np.where(size > 0, 1 << np.maximum(size - 1, 0), 0)
    ext = np.where(mag >= half, mag, mag - mask)  # EXTEND: mag − (2^size − 1)
    kind = np.where(size == 0, np.where(run == 15, 2, 1), 0)
    kind = np.where((size > 0) & (t > 16), 3, kind)
    consumed = np.where(kind == 0, t, np.where(kind == 3, 0, ln))
    value = np.where(kind == 0, ext + 32768, 0)
    entry = np.where(sym == 0, 0, (consumed << 22) | (kind << 20) | (run << 16) | value)
    joint = entry.tolist()
    if len(_AC_JOINT_CACHE) >= 64:  # same tiny bound as the base cache
        _AC_JOINT_CACHE.clear()
    _AC_JOINT_CACHE[id(lut)] = (lut, joint)
    return joint


def _huff_encode_table(bits: list[int], huffval: list[int]) -> dict[int, tuple[int, int]]:
    """Canonical Huffman: {symbol → (code, length)}."""
    out, code, k = {}, 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[huffval[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


class _BitReader:
    """MSB-first reader over the byte-stuffed entropy segment."""

    def __init__(self, data: bytes, start: int):
        self.data = data
        self.pos = start
        self.bitbuf = 0
        self.nbits = 0
        self.marker: int | None = None  # pending RST/EOI marker

    def _fill(self) -> None:
        while self.nbits <= 24:
            if self.marker is not None or self.pos >= len(self.data):
                self.bitbuf = (self.bitbuf << 8) | 0  # pad past end
                self.nbits += 8
                continue
            b = self.data[self.pos]
            if b == 0xFF:
                nxt = self.data[self.pos + 1] if self.pos + 1 < len(self.data) else 0xD9
                if nxt == 0x00:  # stuffed 0xFF data byte
                    self.pos += 2
                else:  # real marker: stop consuming
                    self.marker = nxt
                    self.bitbuf = (self.bitbuf << 8) | 0
                    self.nbits += 8
                    continue
            else:
                self.pos += 1
            self.bitbuf = (self.bitbuf << 8) | b
            self.nbits += 8

    def read(self, n: int) -> int:
        if n == 0:
            return 0
        if self.nbits < n:
            self._fill()
        v = (self.bitbuf >> (self.nbits - n)) & ((1 << n) - 1)
        self.nbits -= n
        self.bitbuf &= (1 << self.nbits) - 1
        return v

    def huff(self, lut: list[int]) -> int:
        """Decode one symbol via the flat 16-bit LUT: peek 16 bits,
        consume the entry's code length."""
        if self.nbits < 16:
            self._fill()
        v = lut[(self.bitbuf >> (self.nbits - 16)) & 0xFFFF]
        if v == 0:
            raise ValueError("invalid JPEG Huffman code")
        self.nbits -= v >> 8
        self.bitbuf &= (1 << self.nbits) - 1
        return v & 0xFF

    def restart(self) -> None:
        """Consume a pending RSTn marker and realign."""
        if self.marker is None:
            # marker not yet reached: drop residual bits, scan for it
            self.bitbuf, self.nbits = 0, 0
            while self.pos + 1 < len(self.data):
                if self.data[self.pos] == 0xFF and 0xD0 <= self.data[self.pos + 1] <= 0xD7:
                    break
                self.pos += 1
        else:
            self.bitbuf, self.nbits = 0, 0
        if self.pos + 1 < len(self.data) and self.data[self.pos] == 0xFF:
            self.pos += 2
        self.marker = None


#: ITU T.81 EXTEND (a *size*-bit magnitude to its signed value) as tables
#: (hot-loop form): _EXT_HALF[s] = 1 << (s-1),
#: _EXT_BIAS[s] = (1 << s) - 1 — `v if v >= HALF[s] else v - BIAS[s]`.
_EXT_HALF = [0] + [1 << (s - 1) for s in range(1, 17)]
_EXT_BIAS = [0] + [(1 << s) - 1 for s in range(1, 17)]


def decode_jpeg(payload: bytes) -> np.ndarray:
    """Baseline JPEG bytes → (H, W, 3) uint8 RGB (grayscale replicated)."""
    if payload[:2] != b"\xff\xd8":
        raise NotImplementedError("not a JPEG payload")
    i = 2
    qt: dict[int, np.ndarray] = {}
    huff_dc: dict[int, dict] = {}
    huff_ac: dict[int, dict] = {}
    restart_interval = 0
    frame = None
    adobe_transform: int | None = None  # APP14: 0=CMYK/RGB, 1=YCbCr, 2=YCCK
    planes: dict[int, np.ndarray] = {}  # accumulated across (multi-)scans
    coefs: dict[int, np.ndarray] = {}  # progressive coefficient planes
    dc_seen: set[int] = set()  # component ids with a first (Ah=0) DC scan
    while i + 4 <= len(payload):
        if payload[i] != 0xFF:
            raise ValueError(f"bad JPEG marker alignment at {i}")
        # T.81 B.1.1.2: any number of optional 0xFF fill bytes may pad
        # before a marker code — skip them instead of misreading 0xFF as
        # the marker (which would decode a bogus segment length).
        while i + 1 < len(payload) and payload[i + 1] == 0xFF:
            i += 1
        if i + 4 > len(payload):
            break
        marker = payload[i + 1]
        if marker == 0xD9:  # EOI
            break
        seglen = struct.unpack_from(">H", payload, i + 2)[0]
        seg = payload[i + 4 : i + 2 + seglen]
        if marker == 0xDB:  # DQT
            j = 0
            while j < len(seg):
                pq, tq = seg[j] >> 4, seg[j] & 0xF
                if pq != 0:
                    raise NotImplementedError("16-bit quantization tables need PIL")
                qt[tq] = np.frombuffer(seg, np.uint8, 64, j + 1).astype(np.int64)
                j += 65
        elif marker in (0xC0, 0xC1, 0xC2):  # SOF0/1 baseline, SOF2 progressive
            prec, h, w, nc = seg[0], *struct.unpack_from(">HH", seg, 1), seg[5]
            if prec != 8:
                raise NotImplementedError("12-bit JPEG needs PIL")
            comps = []
            for c in range(nc):
                cid, hv, tq = seg[6 + c * 3], seg[7 + c * 3], seg[8 + c * 3]
                comps.append({"id": cid, "h": hv >> 4, "v": hv & 0xF, "tq": tq})
            frame = {"h": h, "w": w, "comps": comps, "progressive": marker == 0xC2}
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise NotImplementedError("lossless/arithmetic/hierarchical JPEG needs PIL")
        elif marker == 0xC4:  # DHT
            j = 0
            while j < len(seg):
                tc, th = seg[j] >> 4, seg[j] & 0xF
                bits = list(seg[j + 1 : j + 17])
                nv = sum(bits)
                vals = list(seg[j + 17 : j + 17 + nv])
                (huff_dc if tc == 0 else huff_ac)[th] = _huff_decode_table(bits, vals)
                j += 17 + nv
        elif marker == 0xDD:  # DRI
            restart_interval = struct.unpack_from(">H", seg, 0)[0]
        elif marker == 0xEE and seg[:5] == b"Adobe":  # APP14 color transform
            adobe_transform = seg[11] if len(seg) > 11 else 0
        elif marker == 0xDA:  # SOS
            if frame is None:
                raise ValueError("JPEG SOS before SOF")
            ns = seg[0]
            # Frame component counts 1 (gray), 3 (YCbCr / Adobe RGB), and
            # 4 (Adobe CMYK/YCCK via the APP14 transform) all decode;
            # anything else is unknown color space. Partially-interleaved
            # scans (1 < ns < frame components) are legal per T.81 but
            # vanishingly rare — gated.
            if len(frame["comps"]) not in (1, 3, 4):
                raise NotImplementedError(
                    f"{len(frame['comps'])}-component JPEG needs PIL"
                )
            if 1 < ns < len(frame["comps"]):
                raise NotImplementedError(
                    "partially-interleaved baseline JPEG scan needs PIL"
                )
            frame["adobe_transform"] = adobe_transform
            scan = []
            for c in range(ns):
                cid, tabs = seg[1 + c * 2], seg[2 + c * 2]
                comp = next(x for x in frame["comps"] if x["id"] == cid)
                scan.append({**comp, "dc": tabs >> 4, "ac": tabs & 0xF})
            data_start = i + 2 + seglen
            if frame.get("progressive"):
                # progressive scan header: spectral band [Ss, Se] +
                # successive-approximation bit positions Ah (prior) / Al
                ss, se = seg[1 + ns * 2], seg[2 + ns * 2]
                ah, al = seg[3 + ns * 2] >> 4, seg[3 + ns * 2] & 0xF
                if ss > 0 and ns != 1:
                    raise ValueError("progressive AC scan must be single-component")
                if not coefs:
                    coefs = _alloc_coef_arrays(frame)
                if ss == 0 and ah == 0:
                    dc_seen.update(c["id"] for c in scan)
                try:
                    i = _decode_prog_scan(
                        payload, data_start, frame, scan, huff_dc, huff_ac,
                        restart_interval, coefs, ss, se, ah, al,
                    )
                except IndexError:
                    # same contract as _decode_scan: a window-list read past
                    # the entropy payload (corrupt/truncated progressive
                    # data) is a format error, not a raw IndexError
                    raise ValueError("truncated JPEG entropy segment") from None
                continue
            # A single-component scan is non-interleaved per T.81 A.2.2
            # (one block per MCU over the COMPONENT's own raster) even
            # when it is the frame's only scan; a full-component scan is
            # the common interleaved baseline. Per-component scans
            # accumulate planes until the frame is complete.
            new_planes, i = _decode_scan(
                payload,
                data_start,
                frame,
                scan,
                qt,
                huff_dc,
                huff_ac,
                restart_interval,
            )
            planes.update(new_planes)
            if len(planes) == len(frame["comps"]):
                return _planes_to_rgb(frame, planes)
            continue
        i += 2 + seglen
    if coefs:
        # progressive: coefficients accumulate across every scan and the
        # image is reconstructed once, at EOI (a stream that stops early
        # still renders — that is the format's point — but every
        # component must have had at least its first DC scan, else the
        # missing component would silently render flat mid-gray)
        missing = [c["id"] for c in frame["comps"] if c["id"] not in dc_seen]
        if missing:
            raise ValueError(
                f"JPEG truncated: progressive components {missing} never "
                "received a DC (Ah=0) scan"
            )
        return _prog_finish(frame, coefs, qt)
    if frame is not None and planes:
        raise ValueError("JPEG truncated: not all components scanned")
    raise ValueError("JPEG has no SOS segment")


def _next_marker_pos(payload: bytes, pos: int) -> int:
    """First byte offset at/after *pos* holding a real segment marker —
    skips byte-stuffed 0xFF00 data, RSTn markers, and 0xFF fill bytes, so
    the segment walk can resume after a scan's entropy data."""
    n = len(payload)
    while pos + 1 < n:
        if payload[pos] != 0xFF:
            pos += 1
        elif payload[pos + 1] == 0x00:
            pos += 2  # stuffed data byte
        elif 0xD0 <= payload[pos + 1] <= 0xD7:
            pos += 2  # restart marker inside entropy data
        elif payload[pos + 1] == 0xFF:
            pos += 1  # fill byte
        else:
            return pos
    return n


def _entropy_chunks(payload: bytes, start: int) -> tuple[list[bytes], int]:
    """Split one scan's entropy data into UNSTUFFED chunks, one per
    restart interval: stuffed 0xFF00 collapses to a 0xFF data byte, RSTn
    markers become chunk boundaries, and the walk stops at the first real
    marker (a bare 0xFF fill byte stops it too — exactly where _BitReader
    stops consuming). Returns (chunks, stop offset for _next_marker_pos).
    One C-speed bytes.find pass — this is the preprocessing that lets the
    entropy loop drop all byte-stuffing logic from its hot path."""
    chunks: list[bytes] = []
    cur = bytearray()
    i, n = start, len(payload)
    while True:
        j = payload.find(b"\xff", i)
        if j == -1:
            cur += payload[i:n]
            chunks.append(bytes(cur))
            return chunks, n
        nxt = payload[j + 1] if j + 1 < n else 0xD9
        if nxt == 0x00:  # stuffed data byte: keep the 0xFF
            cur += payload[i : j + 1]
            i = j + 2
        elif 0xD0 <= nxt <= 0xD7:  # RSTn: interval boundary
            cur += payload[i:j]
            chunks.append(bytes(cur))
            cur = bytearray()
            i = j + 2
        else:  # real marker (or fill byte): scan data ends here
            cur += payload[i:j]
            chunks.append(bytes(cur))
            return chunks, j


def _w24(chunk: bytes) -> list[int]:
    """Sliding 24-bit big-endian windows of *chunk* (+ zero tail padding,
    matching _BitReader's pad-past-end semantics): ``w[i]`` holds bytes
    i..i+2, so the 16 bits at bit offset p are
    ``(w[p >> 3] >> (8 - (p & 7))) & 0xFFFF`` — ONE list index + three int
    ops per peek, no refill loop, no big-int masking. Built vectorized;
    the list form trades ~30× the chunk size in transient driver memory
    for plain-int indexing in the hot loop (chunks are restart intervals
    or single thumbnails on the multimodal path — small by construction)."""
    a = np.frombuffer(chunk + b"\x00" * 8, np.uint8).astype(np.int64)
    return ((a[:-2] << 16) | (a[1:-1] << 8) | a[2:]).tolist()


def _decode_scan(payload, start, frame, scan, qt, huff_dc, huff_ac, restart_interval):
    """Entropy-decode ONE scan → ({component id: plane}, next segment
    offset). Interleaved scan (all frame components): each MCU carries
    h×v blocks per component over the frame MCU grid. Single-component
    scan: NON-interleaved per T.81 A.2.2 — one 8x8 block per MCU over
    the COMPONENT's own raster ceil(cw/8) × ceil(ch/8), where cw/ch are
    the component's subsampled dimensions (T.81 A.1.1) — regardless of
    the SOF sampling factors. Per-component scans let the caller
    accumulate planes across a multi-scan baseline file."""
    h, w = frame["h"], frame["w"]
    hmax = max(c["h"] for c in frame["comps"])
    vmax = max(c["v"] for c in frame["comps"])
    if len(scan) > 1:  # interleaved: frame MCU grid, h×v blocks per comp
        mcux = -(-w // (8 * hmax))
        mcuy = -(-h // (8 * vmax))
        geo = [(c, c["h"], c["v"]) for c in scan]
    else:  # non-interleaved: the component's own block raster
        c0 = scan[0]
        cw = -(-(w * c0["h"]) // hmax)
        chh = -(-(h * c0["v"]) // vmax)
        mcux = -(-cw // 8)
        mcuy = -(-chh // 8)
        geo = [(c0, 1, 1)]
    # Coefficients accumulate in zigzag order per block; dequantize +
    # IDCT run ONCE, batched, at scan end (_idct_blocks) — per-block 8×8
    # matmuls and their allocations were half the decode cost.
    carr = {
        c["id"]: np.zeros((mcuy * cv, mcux * ch_, 64), np.int64)
        for c, ch_, cv in geo
    }
    # Hot-path design (r12, ≥2× the r9 LUT decoder): the byte-stuffing /
    # marker walk is hoisted OUT of the entropy loop into one C-speed
    # preprocessing pass (_entropy_chunks), and the bit cursor collapses
    # to a single integer bit offset over precomputed 24-bit windows
    # (_w24) — a 16-bit Huffman peek is one list index + three int ops,
    # with no per-symbol refill, masking, or method calls. Restart
    # markers advance to the next chunk (bit realignment + predictor
    # reset, exactly _BitReader.restart()'s semantics). Byte-identical
    # output to the _BitReader walk — the hand-assembled bitstream
    # goldens (tests/test_operators.py) pin 4:2:0, restart, and
    # fill-byte behavior.
    chunks, stop = _entropy_chunks(payload, start)
    chunk_i = 0
    w = _w24(chunks[0])
    bp = 0  # bit offset into the current chunk
    pred = {c["id"]: 0 for c in scan}
    mcu_count = 0
    # per-component SPARSE accumulators: (flat coefficient slot, value)
    # pairs, scattered into carr in ONE vectorized write at scan end —
    # most of a block's 64 coefficients are zero after quantization, so
    # appending only the decoded nonzeros beats both per-block ndarray
    # row stores and per-block [0]*64 allocations
    acc = {c["id"]: ([], []) for c, _, _ in geo}
    geo_luts = [
        (
            c["id"],
            ch_,
            cv,
            huff_dc[c["dc"]],
            huff_ac[c["ac"]],
            _ac_joint_table(huff_ac[c["ac"]]),
            carr[c["id"]].shape[1],
            acc[c["id"]][0].append,  # bound once: list.append lookups are
            acc[c["id"]][1].append,  # measurable at ~20 appends per block
        )
        for c, ch_, cv in geo
    ]
    half, bias = _EXT_HALF, _EXT_BIAS
    try:
        for my in range(mcuy):
            for mx in range(mcux):
                if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                    chunk_i += 1  # consume the RSTn: next interval's chunk
                    if chunk_i < len(chunks):
                        w = _w24(chunks[chunk_i])
                    bp = 0
                    pred = {c["id"]: 0 for c in scan}
                for cid, ch_, cv, dct, act, acj, gw, sap, vap in geo_luts:
                    for by in range(cv):
                        for bx in range(ch_):
                            base = ((my * cv + by) * gw + mx * ch_ + bx) * 64
                            # one 16-bit peek serves code AND magnitude when
                            # they fit together (the common case: code ≤ 9,
                            # size ≤ 7) — saves a window fetch per symbol
                            peek = (w[bp >> 3] >> (8 - (bp & 7))) & 0xFFFF
                            v = dct[peek]
                            if v == 0:
                                raise ValueError("invalid JPEG Huffman code")
                            s = v & 0xFF
                            t = (v >> 8) + s
                            if s == 0:
                                bp += t
                            else:
                                if t <= 16:
                                    bp += t
                                    val = (peek >> (16 - t)) & bias[s]
                                else:
                                    bp += v >> 8
                                    val = (w[bp >> 3] >> (24 - (bp & 7) - s)) & bias[s]
                                    bp += s
                                pred[cid] += val if val >= half[s] else val - bias[s]
                            sap(base)
                            vap(pred[cid])
                            k = 1
                            while k < 64:
                                # joint lookup: symbol AND magnitude in one
                                # table entry (see _ac_joint_table)
                                e = acj[(w[bp >> 3] >> (8 - (bp & 7))) & 0xFFFF]
                                if e == 0:
                                    raise ValueError("invalid JPEG Huffman code")
                                kk = e & 0x300000
                                bp += e >> 22
                                if kk == 0:  # fully-decoded coefficient
                                    k += (e >> 16) & 0xF
                                    if k > 63:
                                        raise ValueError(
                                            "JPEG AC run past block end"
                                        )
                                    sap(base + k)
                                    vap((e & 0xFFFF) - 32768)
                                    k += 1
                                elif kk == 0x100000:  # EOB
                                    break
                                elif kk == 0x200000:  # ZRL
                                    k += 16
                                else:  # magnitude spills past the window
                                    peek = (w[bp >> 3] >> (8 - (bp & 7))) & 0xFFFF
                                    rs = act[peek]
                                    L = rs >> 8
                                    size = rs & 0xF
                                    k += (rs & 0xFF) >> 4
                                    if k > 63:
                                        raise ValueError(
                                            "JPEG AC run past block end"
                                        )
                                    bp += L
                                    val = (
                                        w[bp >> 3] >> (24 - (bp & 7) - size)
                                    ) & bias[size]
                                    bp += size
                                    sap(base + k)
                                    vap(
                                        val
                                        if val >= half[size]
                                        else val - bias[size]
                                    )
                                    k += 1
                mcu_count += 1
    except IndexError:
        raise ValueError("truncated JPEG entropy segment") from None
    for c, _, _ in geo:
        slots, vals = acc[c["id"]]
        if slots:  # one vectorized scatter per component
            carr[c["id"]].reshape(-1)[slots] = vals
    planes = {c["id"]: _idct_blocks(carr[c["id"]], qt[c["tq"]]) for c in scan}
    return planes, _next_marker_pos(payload, stop)


def _idct_blocks(arr: np.ndarray, q: np.ndarray) -> np.ndarray:
    """(by, bx, 64) zigzag coefficient array → (by*8, bx*8) pixel plane:
    dequantize, de-zigzag, one BATCHED orthonormal IDCT (numpy broadcasts
    the 8×8 basis matmuls over every block at once), +128 level shift."""
    by, bx = arr.shape[:2]
    deq = np.zeros((by, bx, 64))
    deq[:, :, _ZZ] = arr * q
    blocks = _C.T @ deq.reshape(by, bx, 8, 8) @ _C + 128.0
    return blocks.transpose(0, 2, 1, 3).reshape(by * 8, bx * 8)


def _alloc_coef_arrays(frame) -> dict[int, np.ndarray]:
    """Per-component zigzag-order coefficient arrays for progressive
    accumulation, sized to the frame's MCU-padded block grid (covers both
    interleaved DC-scan addressing and each component's own raster)."""
    h, w = frame["h"], frame["w"]
    hmax = max(c["h"] for c in frame["comps"])
    vmax = max(c["v"] for c in frame["comps"])
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    return {
        c["id"]: np.zeros((mcuy * c["v"], mcux * c["h"], 64), np.int64)
        for c in frame["comps"]
    }


def _comp_block_raster(frame, c) -> tuple[int, int]:
    """Non-interleaved block raster of component *c*: ceil over the
    component's subsampled dimensions (T.81 A.1.1 / A.2.2)."""
    hmax = max(x["h"] for x in frame["comps"])
    vmax = max(x["v"] for x in frame["comps"])
    cw = -(-(frame["w"] * c["h"]) // hmax)
    chh = -(-(frame["h"] * c["v"]) // vmax)
    return -(-chh // 8), -(-cw // 8)


def _refine_nonzero(w: list[int], bp: int, block: np.ndarray, k: int, se: int, p1: int, r: int = -1):
    """The AC-refinement correction loop (T.81 G.1.2.3, the libjpeg
    decode_mcu_AC_refine inner walk): advance from *k* to the (r+1)-th
    ZERO-HISTORY coefficient (or past *se* when r < 0 means 'to the
    end'), consuming one correction bit for every already-nonzero
    coefficient passed — set bits add ±p1 toward larger magnitude when
    the p1 bit isn't already set. Operates on the r12 window-list cursor
    (w, bp — see _w24); returns (stopping index, bit offset)."""
    while k <= se:
        v = int(block[k])
        if v != 0:
            bit = (w[bp >> 3] >> (23 - (bp & 7))) & 1
            bp += 1
            if bit and (v & p1) == 0:
                block[k] = v + (p1 if v >= 0 else -p1)
        else:
            if r == 0:
                break
            r -= 1
        k += 1
    return k, bp


def _decode_prog_scan(
    payload, start, frame, scan, huff_dc, huff_ac, restart_interval,
    coefs, ss, se, ah, al,
):
    """One progressive scan (T.81 Annex G) → next segment offset,
    accumulating into *coefs* (zigzag order, successive-approximation
    bit positions included — dequantize + IDCT happen once at EOI):

    - DC scans (Ss=Se=0), possibly interleaved over the frame MCU grid:
      first pass (Ah=0) decodes DC diffs shifted left by Al; refinements
      (Ah>0) read ONE bit per block, OR-ing in the Al bit plane.
    - AC scans (Ss≥1), always single-component over the component's own
      block raster: first pass (Ah=0) is run/size coding with EOB-run
      symbols (EOBn skips whole blocks); refinement (Ah>0) inserts new
      ±(1<<Al) coefficients and spends correction bits on every nonzero
      coefficient it walks past — the libjpeg AC-refine algorithm.
    Restart markers reset DC predictors, the EOB run, and bit alignment.
    r12: runs on the same preprocessed window-list cursor as the baseline
    scan (_entropy_chunks + _w24) — identical bit semantics, none of the
    per-bit _BitReader method overhead the refinement passes paid.
    """
    p1 = 1 << al
    chunks, stop = _entropy_chunks(payload, start)
    chunk_i = 0
    w = _w24(chunks[0])
    bp = 0
    bias, half = _EXT_BIAS, _EXT_HALF

    if ss == 0:  # ---- DC scan ----
        if se != 0:
            raise ValueError("progressive DC scan must have Se=0")
        h, fw = frame["h"], frame["w"]
        hmax = max(c["h"] for c in frame["comps"])
        vmax = max(c["v"] for c in frame["comps"])
        if len(scan) > 1:  # interleaved over the frame MCU grid
            mcux = -(-fw // (8 * hmax))
            mcuy = -(-h // (8 * vmax))
            geo = [(c, c["h"], c["v"]) for c in scan]
        else:
            mcuy, mcux = _comp_block_raster(frame, scan[0])
            geo = [(scan[0], 1, 1)]
        pred = {c["id"]: 0 for c in scan}
        mcu_count = 0
        for my in range(mcuy):
            for mx in range(mcux):
                if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                    chunk_i += 1
                    if chunk_i < len(chunks):
                        w = _w24(chunks[chunk_i])
                    bp = 0
                    pred = {c["id"]: 0 for c in scan}
                for c, ch_, cv in geo:
                    for by in range(cv):
                        for bx in range(ch_):
                            blk = coefs[c["id"]][my * cv + by, mx * ch_ + bx]
                            if ah == 0:
                                v = huff_dc[c["dc"]][
                                    (w[bp >> 3] >> (8 - (bp & 7))) & 0xFFFF
                                ]
                                if v == 0:
                                    raise ValueError("invalid JPEG Huffman code")
                                bp += v >> 8
                                s = v & 0xFF
                                if s:
                                    val = (
                                        w[bp >> 3] >> (24 - (bp & 7) - s)
                                    ) & bias[s]
                                    bp += s
                                    pred[c["id"]] += (
                                        val if val >= half[s] else val - bias[s]
                                    )
                                blk[0] = pred[c["id"]] << al
                            else:
                                bit = (w[bp >> 3] >> (23 - (bp & 7))) & 1
                                bp += 1
                                if bit:
                                    blk[0] = int(blk[0]) | p1
                mcu_count += 1
        return _next_marker_pos(payload, stop)

    # ---- AC scan: single component over its own raster ----
    c = scan[0]
    act = huff_ac[c["ac"]]
    by_n, bx_n = _comp_block_raster(frame, c)
    arr = coefs[c["id"]]
    eobrun = 0
    blk_count = 0
    for by in range(by_n):
        for bx in range(bx_n):
            if restart_interval and blk_count and blk_count % restart_interval == 0:
                chunk_i += 1
                if chunk_i < len(chunks):
                    w = _w24(chunks[chunk_i])
                bp = 0
                eobrun = 0
            blk_count += 1
            block = arr[by, bx]
            if ah == 0:  # first pass for this band
                if eobrun > 0:
                    eobrun -= 1
                    continue
                k = ss
                while k <= se:
                    rs = act[(w[bp >> 3] >> (8 - (bp & 7))) & 0xFFFF]
                    if rs == 0:
                        raise ValueError("invalid JPEG Huffman code")
                    bp += rs >> 8
                    rs &= 0xFF
                    r, s = rs >> 4, rs & 0xF
                    if s == 0:
                        if r != 15:  # EOBn: run of (1<<r)+bits end-of-bands
                            eobrun = (1 << r) - 1
                            if r:
                                eobrun += (
                                    w[bp >> 3] >> (24 - (bp & 7) - r)
                                ) & bias[r]
                                bp += r
                            break
                        k += 16  # ZRL
                        continue
                    k += r
                    if k > se:
                        raise ValueError("JPEG AC run past band end")
                    val = (w[bp >> 3] >> (24 - (bp & 7) - s)) & bias[s]
                    bp += s
                    block[k] = (val if val >= half[s] else val - bias[s]) << al
                    k += 1
            else:  # refinement pass
                k = ss
                if eobrun == 0:
                    while k <= se:
                        rs = act[(w[bp >> 3] >> (8 - (bp & 7))) & 0xFFFF]
                        if rs == 0:
                            raise ValueError("invalid JPEG Huffman code")
                        bp += rs >> 8
                        rs &= 0xFF
                        r, s = rs >> 4, rs & 0xF
                        if s == 0:
                            if r != 15:
                                eobrun = 1 << r  # includes THIS block
                                if r:
                                    eobrun += (
                                        w[bp >> 3] >> (24 - (bp & 7) - r)
                                    ) & bias[r]
                                    bp += r
                                break
                            val = 0  # ZRL: 16 zero-history skips
                        else:
                            if s != 1:
                                raise ValueError("AC refinement size must be 1")
                            bit = (w[bp >> 3] >> (23 - (bp & 7))) & 1
                            bp += 1
                            val = p1 if bit else -p1
                        k, bp = _refine_nonzero(w, bp, block, k, se, p1, r)
                        if val and k <= se:
                            block[k] = val
                        k += 1
                if eobrun > 0:
                    _, bp = _refine_nonzero(w, bp, block, k, se, p1)
                    eobrun -= 1
    return _next_marker_pos(payload, stop)


def _prog_finish(frame, coefs, qt) -> np.ndarray:
    """Dequantize + de-zigzag + batched IDCT of the accumulated
    progressive coefficient arrays, then the shared upsample/convert."""
    planes = {
        c["id"]: _idct_blocks(coefs[c["id"]], qt[c["tq"]]) for c in frame["comps"]
    }
    return _planes_to_rgb(frame, planes)


def _planes_to_rgb(frame, planes) -> np.ndarray:
    """Upsample each component plane to full frame resolution (nearest),
    crop block padding, and color-convert: grayscale replication,
    BT.601 YCbCr (3 components; APP14 transform 0 means the components
    are already RGB — Adobe RGB JPEG), or Adobe 4-component CMYK/YCCK
    (values stored INVERTED per the Adobe convention, so
    RGB = channel × K / 255 on the stored values; YCCK runs the BT.601
    inverse on the first three channels first — the libjpeg/PIL
    behavior)."""
    h, w = frame["h"], frame["w"]
    hmax = max(c["h"] for c in frame["comps"])
    vmax = max(c["v"] for c in frame["comps"])
    out = {}
    for c in frame["comps"]:
        p = planes[c["id"]]
        if c["h"] != hmax or c["v"] != vmax:
            p = np.repeat(np.repeat(p, vmax // c["v"], axis=0), hmax // c["h"], axis=1)
        out[c["id"]] = p[:h, :w]
    transform = frame.get("adobe_transform")
    if len(frame["comps"]) == 1:
        g = np.clip(out[frame["comps"][0]["id"]], 0, 255).astype(np.uint8)
        return np.repeat(g[..., None], 3, axis=-1)

    def ycc_to_rgb(y, cb, cr):
        r = y + 1.402 * (cr - 128.0)
        g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
        b = y + 1.772 * (cb - 128.0)
        return r, g, b

    if len(frame["comps"]) == 4:
        c1, c2, c3, c4 = (out[c["id"]] for c in frame["comps"])
        if transform == 2:  # YCCK: BT.601 inverse on YCC, K unchanged
            c1, c2, c3 = ycc_to_rgb(c1, c2, c3)
        k = np.clip(c4, 0.0, 255.0)
        chans = [np.clip(x, 0.0, 255.0) * k / 255.0 for x in (c1, c2, c3)]
        return np.clip(np.stack(chans, axis=-1), 0, 255).astype(np.uint8)
    if transform == 0 and len(frame["comps"]) == 3:
        # Adobe transform 0 with 3 components: stored RGB directly
        return np.clip(
            np.stack([out[c["id"]] for c in frame["comps"]], axis=-1), 0, 255
        ).astype(np.uint8)
    y, cb, cr = (out[c["id"]] for c in frame["comps"][:3])
    r, g, b = ycc_to_rgb(y, cb, cr)
    return np.clip(np.stack([r, g, b], axis=-1), 0, 255).astype(np.uint8)


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.buf = 0
        self.n = 0

    def write(self, code: int, length: int) -> None:
        self.buf = (self.buf << length) | (code & ((1 << length) - 1))
        self.n += length
        while self.n >= 8:
            b = (self.buf >> (self.n - 8)) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)  # byte stuffing
            self.n -= 8
            self.buf &= (1 << self.n) - 1

    def flush(self) -> None:
        if self.n:
            self.write(0x7F, 8 - self.n)  # pad with 1s


def _quality_scale(qt: np.ndarray, quality: int) -> np.ndarray:
    quality = min(100, max(1, quality))
    s = 5000 // quality if quality < 50 else 200 - 2 * quality
    return np.clip((qt * s + 50) // 100, 1, 255)


def encode_jpeg(arr: np.ndarray, quality: int = 85) -> bytes:
    """(H, W, 3) uint8 RGB → baseline JPEG (4:4:4, Annex-K tables scaled
    by *quality*). Exists to generate real compressed fixtures/corpora;
    the engine's decode path is :func:`decode_jpeg`."""
    arr = np.asarray(arr, dtype=np.float64)
    h, w = arr.shape[:2]
    r, g, b = arr[..., 0], arr[..., 1], arr[..., 2]
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
    qly = _quality_scale(_QT_LUMA, quality)
    qlc = _quality_scale(_QT_CHROMA, quality)
    dc_l, ac_l = _huff_encode_table(*_DC_LUMA), _huff_encode_table(*_AC_LUMA)
    dc_c, ac_c = _huff_encode_table(*_DC_CHROMA), _huff_encode_table(*_AC_CHROMA)

    def seg(marker: int, body: bytes) -> bytes:
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    head = b"\xff\xd8"
    # DQT stores the table in zigzag order
    head += seg(0xDB, bytes([0]) + qly[_ZZ].astype(np.uint8).tobytes())
    head += seg(0xDB, bytes([1]) + qlc[_ZZ].astype(np.uint8).tobytes())
    head += seg(
        0xC0,
        bytes([8])
        + struct.pack(">HH", h, w)
        + bytes([3, 1, 0x11, 0, 2, 0x11, 1, 3, 0x11, 1]),
    )
    head += seg(0xC4, bytes([0x00]) + bytes(_DC_LUMA[0]) + bytes(_DC_LUMA[1]))
    head += seg(0xC4, bytes([0x10]) + bytes(_AC_LUMA[0]) + bytes(_AC_LUMA[1]))
    head += seg(0xC4, bytes([0x01]) + bytes(_DC_CHROMA[0]) + bytes(_DC_CHROMA[1]))
    head += seg(0xC4, bytes([0x11]) + bytes(_AC_CHROMA[0]) + bytes(_AC_CHROMA[1]))
    head += seg(0xDA, bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0]))

    wr = _BitWriter()
    pred = [0, 0, 0]
    by_max, bx_max = -(-h // 8), -(-w // 8)
    comps = [(y, qly, dc_l, ac_l), (cb, qlc, dc_c, ac_c), (cr, qlc, dc_c, ac_c)]

    def pad_block(plane, y0, x0):
        blk = plane[y0 : y0 + 8, x0 : x0 + 8]
        if blk.shape != (8, 8):  # edge replicate
            out = np.empty((8, 8))
            out[: blk.shape[0], : blk.shape[1]] = blk
            out[blk.shape[0] :, : blk.shape[1]] = blk[-1:, :]
            out[:, blk.shape[1] :] = out[:, blk.shape[1] - 1 : blk.shape[1]]
            blk = out
        return blk

    def emit(value, table):
        size = abs(int(value)).bit_length()
        code, length = table[size]
        wr.write(code, length)
        if size:
            v = value if value > 0 else value + (1 << size) - 1
            wr.write(v, size)

    for yb in range(by_max):
        for xb in range(bx_max):
            for ci, (plane, q, dct, act) in enumerate(comps):
                blk = pad_block(plane, yb * 8, xb * 8) - 128.0
                coef = _C @ blk @ _C.T
                zz = np.round(coef.reshape(-1)[_ZZ] / q[_ZZ]).astype(np.int64)
                diff = int(zz[0]) - pred[ci]
                pred[ci] = int(zz[0])
                emit(diff, dct)
                k = 1
                while k < 64:
                    run = 0
                    while k < 64 and zz[k] == 0:
                        run += 1
                        k += 1
                    if k == 64:
                        code, length = act[0x00]  # EOB
                        wr.write(code, length)
                        break
                    while run >= 16:
                        code, length = act[0xF0]  # ZRL
                        wr.write(code, length)
                        run -= 16
                    v = int(zz[k])
                    size = abs(v).bit_length()
                    code, length = act[(run << 4) | size]
                    wr.write(code, length)
                    vv = v if v > 0 else v + (1 << size) - 1
                    wr.write(vv, size)
                    k += 1
    wr.flush()
    return head + bytes(wr.out) + b"\xff\xd9"


def encode_jpeg_progressive(arr: np.ndarray, quality: int = 85) -> bytes:
    """(H, W, 3) uint8 RGB → PROGRESSIVE JPEG (SOF2, 4:4:4,
    spectral-selection organization: one interleaved DC scan followed by
    one full-band AC scan per component, no successive approximation).
    The quantized coefficients are computed exactly as in
    :func:`encode_jpeg`, only the scan organization differs — so a
    correct progressive decoder must reproduce the baseline encoding's
    decode BIT-FOR-BIT (the equivalence the tests pin). Exists to
    generate real progressive fixtures in-sandbox."""
    arr = np.asarray(arr, dtype=np.float64)
    h, w = arr.shape[:2]
    r, g, b = arr[..., 0], arr[..., 1], arr[..., 2]
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
    qly = _quality_scale(_QT_LUMA, quality)
    qlc = _quality_scale(_QT_CHROMA, quality)
    dc_l, ac_l = _huff_encode_table(*_DC_LUMA), _huff_encode_table(*_AC_LUMA)
    dc_c, ac_c = _huff_encode_table(*_DC_CHROMA), _huff_encode_table(*_AC_CHROMA)

    def seg(marker: int, body: bytes) -> bytes:
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    by_n, bx_n = -(-h // 8), -(-w // 8)

    def zz_blocks(plane: np.ndarray, q: np.ndarray) -> np.ndarray:
        padded = np.pad(plane, ((0, by_n * 8 - h), (0, bx_n * 8 - w)), mode="edge")
        blocks = padded.reshape(by_n, 8, bx_n, 8).transpose(0, 2, 1, 3) - 128.0
        coef = _C @ blocks @ _C.T
        flat = coef.reshape(by_n, bx_n, 64)
        return np.round(flat[:, :, _ZZ] / q[_ZZ]).astype(np.int64)

    planes = [
        (1, zz_blocks(y, qly), dc_l, ac_l, 0x00),
        (2, zz_blocks(cb, qlc), dc_c, ac_c, 0x11),
        (3, zz_blocks(cr, qlc), dc_c, ac_c, 0x11),
    ]

    head = b"\xff\xd8"
    head += seg(0xDB, bytes([0]) + qly[_ZZ].astype(np.uint8).tobytes())
    head += seg(0xDB, bytes([1]) + qlc[_ZZ].astype(np.uint8).tobytes())
    head += seg(
        0xC2,
        bytes([8])
        + struct.pack(">HH", h, w)
        + bytes([3, 1, 0x11, 0, 2, 0x11, 1, 3, 0x11, 1]),
    )
    head += seg(0xC4, bytes([0x00]) + bytes(_DC_LUMA[0]) + bytes(_DC_LUMA[1]))
    head += seg(0xC4, bytes([0x10]) + bytes(_AC_LUMA[0]) + bytes(_AC_LUMA[1]))
    head += seg(0xC4, bytes([0x01]) + bytes(_DC_CHROMA[0]) + bytes(_DC_CHROMA[1]))
    head += seg(0xC4, bytes([0x11]) + bytes(_AC_CHROMA[0]) + bytes(_AC_CHROMA[1]))
    out = head

    def emit(wr: _BitWriter, value: int, table) -> None:
        size = abs(int(value)).bit_length()
        code, length = table[size]
        wr.write(code, length)
        if size:
            v = value if value > 0 else value + (1 << size) - 1
            wr.write(v, size)

    # scan 1: interleaved DC, Ss=Se=0, Ah=Al=0
    out += seg(0xDA, bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 0, 0]))
    wr = _BitWriter()
    pred = [0, 0, 0]
    for yb in range(by_n):
        for xb in range(bx_n):
            for ci, (_cid, zz, dct, _act, _tabs) in enumerate(planes):
                dc = int(zz[yb, xb, 0])
                emit(wr, dc - pred[ci], dct)
                pred[ci] = dc
    wr.flush()
    out += bytes(wr.out)

    # scans 2-4: one full-band AC scan per component (Ss=1, Se=63).
    # Per-block trailing zeros end with the EOB0 symbol — an EOB run of
    # exactly one band, so the bit pattern matches baseline EOB.
    for cid, zz, _dct, act, tabs in planes:
        out += seg(0xDA, bytes([1, cid, tabs, 1, 63, 0]))
        wr = _BitWriter()
        for yb in range(by_n):
            for xb in range(bx_n):
                blk = zz[yb, xb]
                k = 1
                while k < 64:
                    run = 0
                    while k < 64 and blk[k] == 0:
                        run += 1
                        k += 1
                    if k == 64:
                        code, length = act[0x00]  # EOB0
                        wr.write(code, length)
                        break
                    while run >= 16:
                        code, length = act[0xF0]  # ZRL
                        wr.write(code, length)
                        run -= 16
                    v = int(blk[k])
                    size = abs(v).bit_length()
                    code, length = act[(run << 4) | size]
                    wr.write(code, length)
                    vv = v if v > 0 else v + (1 << size) - 1
                    wr.write(vv, size)
                    k += 1
        wr.flush()
        out += bytes(wr.out)
    return out + b"\xff\xd9"


# ---------------------------------------------------------------------------
# Round-10 encoder variants: the decoder's multi-scan baseline and Adobe
# 4-component paths (functions above, golden-tested since r9) get REAL
# in-corpus producers so declared media queries exercise them every run,
# not just pytest.
# ---------------------------------------------------------------------------


def _seg(marker: int, body: bytes) -> bytes:
    return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body


def _zz_grid(plane: np.ndarray, h: int, w: int, q: np.ndarray) -> np.ndarray:
    """(ceil(h/8), ceil(w/8), 64) quantized zigzag coefficient grid of a
    full-resolution component plane — identical math to encode_jpeg's
    per-block loop (edge-replicate pad, DCT, round-divide by q)."""
    by_n, bx_n = -(-h // 8), -(-w // 8)
    padded = np.pad(plane, ((0, by_n * 8 - h), (0, bx_n * 8 - w)), mode="edge")
    blocks = padded.reshape(by_n, 8, bx_n, 8).transpose(0, 2, 1, 3) - 128.0
    coef = _C @ blocks @ _C.T
    return np.round(coef.reshape(by_n, bx_n, 64)[:, :, _ZZ] / q[_ZZ]).astype(np.int64)


def _emit_baseline_block(wr: "_BitWriter", zz: np.ndarray, pred: int, dct, act) -> int:
    """Baseline sequential run/size entropy coding of ONE zigzag block
    (DC diff vs *pred*, then AC with ZRL/EOB); returns the new predictor."""

    def emit(value: int, table) -> None:
        size = abs(int(value)).bit_length()
        code, length = table[size]
        wr.write(code, length)
        if size:
            v = value if value > 0 else value + (1 << size) - 1
            wr.write(v, size)

    dc = int(zz[0])
    emit(dc - pred, dct)
    k = 1
    while k < 64:
        run = 0
        while k < 64 and zz[k] == 0:
            run += 1
            k += 1
        if k == 64:
            code, length = act[0x00]  # EOB
            wr.write(code, length)
            break
        while run >= 16:
            code, length = act[0xF0]  # ZRL
            wr.write(code, length)
            run -= 16
        v = int(zz[k])
        size = abs(v).bit_length()
        code, length = act[(run << 4) | size]
        wr.write(code, length)
        vv = v if v > 0 else v + (1 << size) - 1
        wr.write(vv, size)
        k += 1
    return dc


def _std_dhts() -> bytes:
    return (
        _seg(0xC4, bytes([0x00]) + bytes(_DC_LUMA[0]) + bytes(_DC_LUMA[1]))
        + _seg(0xC4, bytes([0x10]) + bytes(_AC_LUMA[0]) + bytes(_AC_LUMA[1]))
        + _seg(0xC4, bytes([0x01]) + bytes(_DC_CHROMA[0]) + bytes(_DC_CHROMA[1]))
        + _seg(0xC4, bytes([0x11]) + bytes(_AC_CHROMA[0]) + bytes(_AC_CHROMA[1]))
    )


def encode_jpeg_multiscan(arr: np.ndarray, quality: int = 85) -> bytes:
    """(H, W, 3) uint8 RGB → NON-INTERLEAVED multi-scan baseline JPEG
    (SOF0, 4:4:4, one full-band SOS per component — the per-component
    plane-accumulation decode path, T.81 A.2.2). Quantized coefficients
    are computed exactly as in :func:`encode_jpeg`; only the scan
    organization differs, so a correct decoder reproduces the interleaved
    baseline decode BIT-FOR-BIT (the equivalence the tests pin)."""
    arr = np.asarray(arr, dtype=np.float64)
    h, w = arr.shape[:2]
    r, g, b = arr[..., 0], arr[..., 1], arr[..., 2]
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
    qly, qlc = _quality_scale(_QT_LUMA, quality), _quality_scale(_QT_CHROMA, quality)
    dc_l, ac_l = _huff_encode_table(*_DC_LUMA), _huff_encode_table(*_AC_LUMA)
    dc_c, ac_c = _huff_encode_table(*_DC_CHROMA), _huff_encode_table(*_AC_CHROMA)
    out = b"\xff\xd8"
    out += _seg(0xDB, bytes([0]) + qly[_ZZ].astype(np.uint8).tobytes())
    out += _seg(0xDB, bytes([1]) + qlc[_ZZ].astype(np.uint8).tobytes())
    out += _seg(
        0xC0,
        bytes([8]) + struct.pack(">HH", h, w)
        + bytes([3, 1, 0x11, 0, 2, 0x11, 1, 3, 0x11, 1]),
    )
    out += _std_dhts()
    for cid, plane, q, dct, act, tabs in (
        (1, y, qly, dc_l, ac_l, 0x00),
        (2, cb, qlc, dc_c, ac_c, 0x11),
        (3, cr, qlc, dc_c, ac_c, 0x11),
    ):
        out += _seg(0xDA, bytes([1, cid, tabs, 0, 63, 0]))
        zz = _zz_grid(plane, h, w, q)
        wr = _BitWriter()
        pred = 0
        for yb in range(zz.shape[0]):
            for xb in range(zz.shape[1]):
                pred = _emit_baseline_block(wr, zz[yb, xb], pred, dct, act)
        wr.flush()
        out += bytes(wr.out)
    return out + b"\xff\xd9"


def encode_jpeg_adobe(arr: np.ndarray, quality: int = 85, *, ycck: bool = False) -> bytes:
    """(H, W, 3) uint8 RGB → 4-component ADOBE JPEG via APP14 (transform
    2 = YCCK, 0 = CMYK; values stored INVERTED per the Adobe convention,
    so the decoder's RGB = channel × K / 255 on stored values). The K
    plane is constant 255 (no black ink), making the pixel content the
    same family as the 3-component encodes — the corpus' perceptual
    probes (dHash collapse) transfer. One interleaved 4-component scan,
    the layout the r9 golden tests pin (functions above: _planes_to_rgb
    4-component branch)."""
    arr = np.asarray(arr, dtype=np.float64)
    h, w = arr.shape[:2]
    r, g, b = arr[..., 0], arr[..., 1], arr[..., 2]
    if ycck:
        c0 = 0.299 * r + 0.587 * g + 0.114 * b
        c1 = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
        c2 = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
        transform = 2
    else:  # CMYK inverted-ink: stored C/M/Y carry the RGB values directly
        c0, c1, c2, transform = r, g, b, 0
    k = np.full((h, w), 255.0)
    qly, qlc = _quality_scale(_QT_LUMA, quality), _quality_scale(_QT_CHROMA, quality)
    dc_l, ac_l = _huff_encode_table(*_DC_LUMA), _huff_encode_table(*_AC_LUMA)
    dc_c, ac_c = _huff_encode_table(*_DC_CHROMA), _huff_encode_table(*_AC_CHROMA)
    chroma_q = qlc if ycck else qly
    chroma_huff = (dc_c, ac_c) if ycck else (dc_l, ac_l)
    chroma_tq, chroma_tabs = (1, 0x11) if ycck else (0, 0x00)
    out = b"\xff\xd8"
    out += _seg(0xEE, b"Adobe" + bytes([0, 100, 0, 0, 0, 0, transform]))
    out += _seg(0xDB, bytes([0]) + qly[_ZZ].astype(np.uint8).tobytes())
    if ycck:
        out += _seg(0xDB, bytes([1]) + qlc[_ZZ].astype(np.uint8).tobytes())
    out += _seg(
        0xC0,
        bytes([8]) + struct.pack(">HH", h, w)
        + bytes(
            [4, 1, 0x11, 0, 2, 0x11, chroma_tq, 3, 0x11, chroma_tq, 4, 0x11, 0]
        ),
    )
    out += _std_dhts()
    out += _seg(
        0xDA,
        bytes([4, 1, 0x00, 2, chroma_tabs, 3, chroma_tabs, 4, 0x00, 0, 63, 0]),
    )
    comps = [
        (c0, qly, dc_l, ac_l),
        (c1, chroma_q, *chroma_huff),
        (c2, chroma_q, *chroma_huff),
        (k, qly, dc_l, ac_l),
    ]
    grids = [_zz_grid(p, h, w, q) for p, q, _d, _a in comps]
    wr = _BitWriter()
    pred = [0, 0, 0, 0]
    for yb in range(grids[0].shape[0]):
        for xb in range(grids[0].shape[1]):
            for ci, (_p, _q, dct, act) in enumerate(comps):
                pred[ci] = _emit_baseline_block(wr, grids[ci][yb, xb], pred[ci], dct, act)
    wr.flush()
    return out + bytes(wr.out) + b"\xff\xd9"
