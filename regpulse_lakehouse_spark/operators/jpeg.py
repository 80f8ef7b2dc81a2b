"""Baseline JPEG codec — stdlib + numpy, no library (the same move
that made PNG/WAV/PPM/MP4-containers real: the format is public math).

Scope: BASELINE sequential DCT (SOF0, interleaved or — round 8 —
one-scan-per-component non-interleaved) and — since round 6 —
PROGRESSIVE DCT (SOF2, T.81 Annex G: spectral selection + successive
approximation, EOB runs, per-scan table redefinition), 8- and 12-bit
sample precision (round 8: 16-bit DQT entries, parametrized level
shift/clip, uint16 output), grayscale, YCbCr 4:4:4 / 4:2:0, or
4-component Adobe CMYK/YCCK (round 8: APP14 transform flag, inverted
storage, converted to RGB), standard Huffman entropy coding, restart
markers handled (byte-align + consume per E.2.4), and — late round
8 — ARITHMETIC coding (sequential SOF9 and progressive SOF10, T.81
Annex D QM-coder in jpeg_arith.py with DAC conditioning), SOF1
extended sequential (decodes on the SOF0 path), and SOF3 LOSSLESS
(Annex H predictive coding, predictors 1-7, 2-16 bit, point
transform, category-16 differences; exact roundtrips
property-tested). Hierarchical/differential SOFs and arithmetic
lossless (SOF11) are rejected with clear errors — the documented
remainder.

The decoder is the production-relevant side (corpus images arrive
encoded); the encoders (baseline + progressive) exist for fixtures
and round-trip tests with the Annex K tables — both quantize
identically, so progressive-vs-baseline decode equality is an exact,
bit-for-bit end-to-end check. Entropy decode is bit-at-a-time
Python — fine for the Arrow-batched stage at thumbnail scale, and the
honest note for megapixel corpora is "plug in a codec lib behind
``decode_jpeg``"; everything else (marker parse, DCT, color
transform) is vectorized numpy.

Reference: ITU-T T.81 (the JPEG spec); tables from its Annex K.
"""

from __future__ import annotations

import struct

import numpy as np

# --- zigzag -----------------------------------------------------------------

ZIGZAG = np.array(
    [
        0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
        12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
    ],
    dtype=np.int64,
)

# --- Annex K quantization tables (luminance / chrominance, quality 50) ------

QTAB_LUMA = np.array(
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
).reshape(8, 8)

QTAB_CHROMA = np.array(
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
).reshape(8, 8)

# --- Annex K Huffman tables: (bits[1..16], values) --------------------------

DC_LUMA = (
    [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
    list(range(12)),
)
DC_CHROMA = (
    [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
    list(range(12)),
)
AC_LUMA = (
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
AC_CHROMA = (
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

# Wide tables for 12-bit encoding: DC categories reach 15 and AC sizes
# 14 (T.81 Table F.1), beyond Annex K's 8-bit ranges. Flat canonical
# layouts — 16 DC values at length 5, all 226 AC symbols (EOB + ZRL +
# every run/size) at length 8. Compression is poor; these exist for
# fixtures/round-trip tests, same as the rest of the encoder.
DC_WIDE = ([0, 0, 0, 0, 16] + [0] * 11, list(range(16)))
AC_WIDE = (
    [0] * 7 + [226] + [0] * 8,
    [0x00, 0xF0] + [(r << 4) | sz for r in range(16) for sz in range(1, 15)],
)

# --- DCT basis (type-II, orthonormal) ---------------------------------------

_k = np.arange(8)
_C = np.sqrt(2.0 / 8.0) * np.cos((2 * _k[None, :] + 1) * _k[:, None] * np.pi / 16.0)
_C[0, :] = np.sqrt(1.0 / 8.0)
# forward block DCT: C @ block @ C.T ; inverse: C.T @ coeffs @ C


def dct2(block: np.ndarray) -> np.ndarray:
    return _C @ block @ _C.T


def idct2(coeffs: np.ndarray) -> np.ndarray:
    return _C.T @ coeffs @ _C


# --- Huffman machinery ------------------------------------------------------


def _huff_codes(bits: list[int], values: list[int]) -> dict[int, tuple[int, int]]:
    """value -> (code, length) per T.81 C.2 canonical assignment."""
    out = {}
    code = 0
    idx = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[values[idx]] = (code, length)
            code += 1
            idx += 1
        code <<= 1
    return out


def _huff_decode_table(bits: list[int], values: list[int]) -> dict[tuple[int, int], int]:
    """(length, code) -> value, for the bit-at-a-time decoder."""
    out = {}
    code = 0
    idx = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[(length, code)] = values[idx]
            code += 1
            idx += 1
        code <<= 1
    return out


class _BitReader:
    """MSB-first bit reader over entropy-coded data with 0xFF00
    unstuffing. ``_fill`` never consumes a marker: at any 0xFF that is
    not a stuffed zero it pads the buffer with speculative zero bits
    (without advancing ``pos``), so a restart boundary can be handled
    explicitly by :meth:`restart` — byte-align, consume the RSTn
    marker, let the caller reset predictors (T.81 E.2.4)."""

    def __init__(self, data: bytes, start: int):
        self.data = data
        self.pos = start
        self.bitbuf = 0
        self.nbits = 0

    def _fill(self) -> None:
        while self.nbits <= 24:
            if self.pos >= len(self.data):
                self.bitbuf = (self.bitbuf << 8) | 0
                self.nbits += 8
                continue
            b = self.data[self.pos]
            if b == 0xFF:
                nxt = self.data[self.pos + 1] if self.pos + 1 < len(self.data) else 0xD9
                if nxt == 0x00:
                    self.pos += 2
                else:  # RSTn / EOI / next marker: pad, don't consume
                    self.bitbuf = (self.bitbuf << 8) | 0
                    self.nbits += 8
                    continue
            else:
                self.pos += 1
            self.bitbuf = (self.bitbuf << 8) | b
            self.nbits += 8

    def restart(self) -> None:
        """Consume one restart marker at an interval boundary.

        The encoder byte-aligns (1-padding) before emitting RSTn, so
        once the interval's entropy bits are decoded everything left in
        the buffer is ≤7 real pad bits plus speculative zero-fill —
        drop it all, then the next bytes at ``pos`` must be FFD0-FFD7.
        """
        self.bitbuf = 0
        self.nbits = 0
        if not (
            self.pos + 1 < len(self.data)
            and self.data[self.pos] == 0xFF
            and 0xD0 <= self.data[self.pos + 1] <= 0xD7
        ):
            raise ValueError(
                f"expected restart marker at byte {self.pos} of entropy stream"
            )
        self.pos += 2

    def read_bit(self) -> int:
        if self.nbits == 0:
            self._fill()
        self.nbits -= 1
        return (self.bitbuf >> self.nbits) & 1

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def read_huff(self, table: dict[tuple[int, int], int]) -> int:
        code = 0
        for length in range(1, 17):
            code = (code << 1) | self.read_bit()
            v = table.get((length, code))
            if v is not None:
                return v
        raise ValueError("invalid Huffman code in entropy stream")


def _extend(v: int, t: int) -> int:
    """T.81 F.2.2.1 EXTEND: map t-bit magnitude to signed value."""
    return v if t == 0 or v >= (1 << (t - 1)) else v - (1 << t) + 1


# --- decoder ----------------------------------------------------------------


def decode_jpeg(payload: bytes) -> np.ndarray:
    """Decode baseline (SOF0/SOF1, interleaved or one-scan-per-
    component non-interleaved), progressive (SOF2), arithmetic-coded
    (sequential SOF9 / progressive SOF10, QM-coder — see
    jpeg_arith.py), or lossless (SOF3, Annex H predictive) JPEG →
    (h, w) uint8/uint16 grayscale or (h, w, 3) RGB (lossless
    multi-component returns components as stored, untransformed).
    Rejects hierarchical/differential SOFs and partially-interleaved
    scans with clear errors."""
    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG: missing SOI")
    qtabs: dict[int, np.ndarray] = {}
    dc_tabs: dict[int, dict] = {}
    ac_tabs: dict[int, dict] = {}
    frame = None
    adobe = None
    progressive = False
    arithmetic = False
    lossless = False
    dac_cond: dict = {}
    scans: list[dict] = []
    restart_interval = 0
    i = 2
    while i + 4 <= len(payload):
        if payload[i] != 0xFF:
            raise ValueError(f"marker expected at {i}")
        marker = payload[i + 1]
        if marker == 0xD9:  # EOI
            break
        (seglen,) = struct.unpack(">H", payload[i + 2 : i + 4])
        seg = payload[i + 4 : i + 2 + seglen]
        if marker == 0xDB:  # DQT
            j = 0
            while j < len(seg):
                pq, tq = seg[j] >> 4, seg[j] & 0xF
                if pq == 0:  # 8-bit table entries
                    tab = np.frombuffer(seg[j + 1 : j + 65], dtype=np.uint8)
                    j += 65
                else:  # pq=1: 16-bit big-endian entries (12-bit frames)
                    tab = np.frombuffer(seg[j + 1 : j + 129], dtype=">u2")
                    j += 129
                z = np.zeros(64, dtype=np.int64)
                z[ZIGZAG] = tab.astype(np.int64)
                qtabs[tq] = z.reshape(8, 8)
        elif marker == 0xC4:  # DHT
            j = 0
            while j < len(seg):
                tc, th = seg[j] >> 4, seg[j] & 0xF
                bits = list(seg[j + 1 : j + 17])
                n = sum(bits)
                values = list(seg[j + 17 : j + 17 + n])
                (dc_tabs if tc == 0 else ac_tabs)[th] = _huff_decode_table(bits, values)
                j += 17 + n
        elif marker in (0xC0, 0xC1, 0xC2, 0xC9, 0xCA):
            # SOF0 baseline / SOF1 extended sequential (identical
            # decode path — only the allowed precision/table budgets
            # differ, both already supported) / SOF2 progressive /
            # SOF9-10 arithmetic
            progressive = marker in (0xC2, 0xCA)
            arithmetic = marker in (0xC9, 0xCA)
            precision, h, w, nc = seg[0], *struct.unpack(">HH", seg[1:5]), seg[5]
            if precision not in (8, 12):
                raise ValueError(f"only 8/12-bit JPEG supported, got {precision}")
            comps = []
            for c in range(nc):
                cid, hv, tq = seg[6 + 3 * c], seg[7 + 3 * c], seg[8 + 3 * c]
                comps.append({"id": cid, "h": hv >> 4, "v": hv & 0xF, "tq": tq})
            frame = {"h": h, "w": w, "comps": comps, "prec": precision,
                     "adobe": adobe}
        elif marker == 0xC3:  # SOF3 lossless (predictive, Huffman)
            lossless = True
            precision, h, w, nc = seg[0], *struct.unpack(">HH", seg[1:5]), seg[5]
            if not 2 <= precision <= 16:
                raise ValueError(f"lossless precision must be 2-16, got {precision}")
            comps = []
            for c in range(nc):
                cid, hv, tq = seg[6 + 3 * c], seg[7 + 3 * c], seg[8 + 3 * c]
                comps.append({"id": cid, "h": hv >> 4, "v": hv & 0xF, "tq": tq})
            frame = {"h": h, "w": w, "comps": comps, "prec": precision}
        elif marker in (0xC5, 0xC6, 0xC7, 0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError(f"unsupported JPEG SOF marker 0xFF{marker:02X} "
                             "(hierarchical/differential/arithmetic-lossless)")
        elif marker == 0xCC:  # DAC: arithmetic conditioning (B.2.4.3)
            j = 0
            while j + 1 < len(seg):
                tc, tb, val = seg[j] >> 4, seg[j] & 0xF, seg[j + 1]
                if tc == 0:  # DC: value packs (U << 4) | L
                    dac_cond[("dc", tb)] = (val & 0xF, val >> 4)
                else:  # AC: value is Kx
                    dac_cond[("ac", tb)] = val
                j += 2
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack(">H", seg[:2])
        elif marker == 0xEE and seg[:5] == b"Adobe":  # APP14 transform flag
            adobe = seg[11]
            if frame is not None:
                frame["adobe"] = adobe
        elif marker == 0xDA:  # SOS — entropy data follows the segment
            if frame is None:
                raise ValueError("SOS before SOF")
            ns = seg[0]
            sel = {}
            order = []
            for c in range(ns):
                cs, tt = seg[1 + 2 * c], seg[2 + 2 * c]
                sel[cs] = (tt >> 4, tt & 0xF)
                order.append(cs)
            data_start = i + 2 + seglen
            if lossless:
                if ns != len(frame["comps"]):
                    raise ValueError("non-interleaved lossless scans unsupported")
                predictor = seg[1 + 2 * ns]  # Ss field selects the predictor
                pt = seg[3 + 2 * ns] & 0xF  # Al field is the point transform
                return _decode_lossless_scan(
                    payload, data_start, frame, sel, dc_tabs, predictor, pt,
                    restart_interval,
                )
            if arithmetic and not progressive:
                if ns != len(frame["comps"]):
                    raise ValueError(
                        "non-interleaved arithmetic JPEG scans unsupported"
                    )
                from .jpeg_arith import decode_scan_arith

                return decode_scan_arith(
                    payload, data_start, frame, sel, qtabs, dac_cond,
                    restart_interval,
                )
            if not progressive:
                if ns == len(frame["comps"]):
                    # the common single-interleaved-scan layout
                    return _decode_scan(
                        payload, data_start, frame, sel, qtabs, dc_tabs,
                        ac_tabs, restart_interval,
                    )
                if ns != 1:
                    # T.81 A.2: a scan covers one component
                    # (non-interleaved) or all of them (interleaved);
                    # partial interleaving of a strict subset is legal
                    # but rare — reject loudly rather than mis-decode
                    raise ValueError(
                        "partial-scan baseline JPEG unsupported: SOS selects "
                        f"{ns} of {len(frame['comps'])} frame components "
                        "(each scan must cover one component or all)"
                    )
                # single-component scan of a multi-component baseline
                # frame (non-interleaved order): collect like the
                # progressive path and reconstruct after the last scan
            ss, se = seg[1 + 2 * ns], seg[2 + 2 * ns]
            ahal = seg[3 + 2 * ns]
            scans.append(
                {
                    "order": order,
                    "sel": sel,
                    "ss": ss,
                    "se": se,
                    "ah": ahal >> 4,
                    "al": ahal & 0xF,
                    "start": data_start,
                    # tables/DRI are redefinable between scans: snapshot
                    "dc_tabs": dict(dc_tabs),
                    "ac_tabs": dict(ac_tabs),
                    "dri": restart_interval,
                }
            )
            # skip the entropy-coded data: ends at the first marker that
            # is neither a stuffed 0xFF00 nor a restart
            j = data_start
            while j < len(payload):
                if payload[j] == 0xFF and j + 1 < len(payload):
                    nxt = payload[j + 1]
                    if nxt == 0x00 or 0xD0 <= nxt <= 0xD7:
                        j += 2
                        continue
                    break
                j += 1
            i = j
            continue
        i += 2 + seglen
    if progressive and scans:
        if arithmetic:
            from .jpeg_arith import decode_progressive_arith

            return decode_progressive_arith(payload, frame, qtabs, scans,
                                            dac_cond)
        return _decode_progressive(payload, frame, qtabs, scans)
    if scans:
        return _decode_baseline_noninterleaved(payload, frame, qtabs, scans)
    raise ValueError("no SOS scan found")


def _decode_baseline_noninterleaved(payload, frame, qtabs, scans):
    """Baseline frame delivered as one single-component SOS per
    component (T.81 A.2.2 non-interleaved order): each scan's data
    units are that component's 8×8 blocks in raster order over its own
    (subsampled) sample grid, with per-scan DC predictors and restart
    counters. Quantized coefficients are identical to the interleaved
    layout, so the shared _finish_planes tail makes decodes bit-equal
    (tested against the interleaved encoding of the same pixels)."""
    h, w, comps = frame["h"], frame["w"], frame["comps"]
    shift = float(1 << (frame.get("prec", 8) - 1))
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))
    planes = [
        np.zeros((mcus_y * c["v"] * 8, mcus_x * c["h"] * 8), dtype=np.float64)
        for c in comps
    ]
    id2ci = {c["id"]: ci for ci, c in enumerate(comps)}
    done: set[int] = set()
    for scan in scans:
        cs = scan["order"][0]
        if cs not in id2ci:
            raise ValueError(f"SOS selects unknown component id {cs}")
        ci = id2ci[cs]
        if ci in done:
            raise ValueError(f"duplicate baseline scan for component id {cs}")
        done.add(ci)
        c = comps[ci]
        # the component's own sample grid (A.1.1): ceil(dim * f / fmax)
        xi = (w * c["h"] + hmax - 1) // hmax
        yi = (h * c["v"] + vmax - 1) // vmax
        bw, bh = -(-xi // 8), -(-yi // 8)
        dc_t, ac_t = scan["sel"][cs]
        dc_tab, ac_tab = scan["dc_tabs"][dc_t], scan["ac_tabs"][ac_t]
        qt = qtabs[c["tq"]]
        dri = scan["dri"]
        reader = _BitReader(payload, scan["start"])
        pred = 0
        count = 0
        for by in range(bh):
            for bx in range(bw):
                if dri and count and count % dri == 0:
                    reader.restart()  # MCU = one data unit here
                    pred = 0
                block = _decode_block(reader, dc_tab, ac_tab)
                pred += block[0]
                coeffs = np.zeros(64, dtype=np.int64)
                coeffs[:] = block
                coeffs[0] = pred
                deq = np.zeros(64, dtype=np.int64)
                deq[ZIGZAG] = coeffs
                pix = idct2(deq.reshape(8, 8) * qt)
                planes[ci][by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = pix + shift
                count += 1
    if len(done) != len(comps):
        missing = [c["id"] for ci, c in enumerate(comps) if ci not in done]
        raise ValueError(f"baseline scans missing for component id(s) {missing}")
    return _finish_planes(planes, comps, hmax, vmax, h, w,
                          prec=frame.get("prec", 8),
                          adobe=frame.get("adobe"))


def _decode_scan(payload, start, frame, sel, qtabs, dc_tabs, ac_tabs, dri):
    h, w, comps = frame["h"], frame["w"], frame["comps"]
    shift = float(1 << (frame.get("prec", 8) - 1))
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcu_w, mcu_h = 8 * hmax, 8 * vmax
    mcus_x = -(-w // mcu_w)
    mcus_y = -(-h // mcu_h)
    planes = [
        np.zeros((mcus_y * c["v"] * 8, mcus_x * c["h"] * 8), dtype=np.float64)
        for c in comps
    ]
    reader = _BitReader(payload, start)
    pred = [0] * len(comps)
    mcu_count = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if dri and mcu_count and mcu_count % dri == 0:
                # T.81 E.2.4: byte-align, consume RSTn, reset predictors
                reader.restart()
                pred = [0] * len(comps)
            for ci, c in enumerate(comps):
                dc_t, ac_t = sel[c["id"]]
                for by in range(c["v"]):
                    for bx in range(c["h"]):
                        block = _decode_block(
                            reader, dc_tabs[dc_t], ac_tabs[ac_t]
                        )
                        pred[ci] += block[0]
                        coeffs = np.zeros(64, dtype=np.int64)
                        coeffs[:] = block
                        coeffs[0] = pred[ci]
                        deq = np.zeros(64, dtype=np.int64)
                        deq[ZIGZAG] = coeffs  # zigzag -> natural order
                        pix = idct2(deq.reshape(8, 8) * qtabs[c["tq"]])
                        y0 = (my * c["v"] + by) * 8
                        x0 = (mx * c["h"] + bx) * 8
                        planes[ci][y0 : y0 + 8, x0 : x0 + 8] = pix + shift
            mcu_count += 1
    return _finish_planes(planes, comps, hmax, vmax, h, w,
                          prec=frame.get("prec", 8),
                          adobe=frame.get("adobe"))


def _finish_planes(
    planes, comps, hmax, vmax, h, w, prec: int = 8, adobe: int | None = None
) -> np.ndarray:
    """Shared reconstruction tail for the baseline and progressive
    decoders: upsample chroma to the luma grid, crop the MCU padding,
    and convert to RGB (gray passes through; 3 comps = YCbCr; 4 comps
    = Adobe CMYK — stored INVERTED per Adobe convention, optionally
    YCCK-transformed when the APP14 transform byte is 2). Both paths
    MUST use this one implementation — the progressive≡baseline
    bit-exactness tests depend on identical rounding."""
    out_planes = []
    for ci, c in enumerate(comps):
        p = planes[ci]
        ry, rx = vmax // c["v"], hmax // c["h"]
        if ry > 1 or rx > 1:
            p = np.repeat(np.repeat(p, ry, axis=0), rx, axis=1)
        out_planes.append(p[:h, :w])
    maxv = (1 << prec) - 1
    center = float(1 << (prec - 1))
    dt = np.uint16 if prec > 8 else np.uint8
    if len(out_planes) == 1:
        return np.clip(np.round(out_planes[0]), 0, maxv).astype(dt)
    if len(out_planes) == 4:
        s0, s1, s2, s3 = out_planes
        if adobe == 2:  # YCCK: undo the YCbCr transform on the CMY part
            c0 = s0 + 1.402 * (s2 - center)
            c1 = s0 - 0.344136 * (s1 - center) - 0.714136 * (s2 - center)
            c2 = s0 + 1.772 * (s1 - center)
        else:  # transform 0 (or absent): plain inverted CMYK
            c0, c1, c2 = s0, s1, s2
        # Adobe stores maxv - CMYK, so RGB = stored_channel * stored_K / maxv
        k = np.clip(s3, 0, maxv)
        rgb = np.stack(
            [np.clip(c, 0, maxv) * k / float(maxv) for c in (c0, c1, c2)], axis=2
        )
        return np.clip(np.round(rgb), 0, maxv).astype(dt)
    y, cb, cr = out_planes
    r = y + 1.402 * (cr - center)
    g = y - 0.344136 * (cb - center) - 0.714136 * (cr - center)
    b = y + 1.772 * (cb - center)
    rgb = np.stack([r, g, b], axis=2)
    return np.clip(np.round(rgb), 0, maxv).astype(dt)


def _decode_block(reader: _BitReader, dc_tab, ac_tab) -> np.ndarray:
    """One 8x8 block in zigzag order; [0] holds the DC DIFF (caller
    accumulates the predictor)."""
    out = np.zeros(64, dtype=np.int64)
    t = reader.read_huff(dc_tab)
    out[0] = _extend(reader.read_bits(t), t) if t else 0
    k = 1
    while k < 64:
        rs = reader.read_huff(ac_tab)
        r, s = rs >> 4, rs & 0xF
        if s == 0:
            if r == 15:  # ZRL: sixteen zeros
                k += 16
                continue
            break  # EOB
        k += r
        if k > 63:
            raise ValueError("AC run past end of block")
        out[k] = _extend(reader.read_bits(s), s)
        k += 1
    return out


# --- progressive decoder (T.81 Annex G: spectral selection + successive
# --- approximation, Huffman entropy) ----------------------------------------


def _comp_grids(frame):
    """Per-component block-grid geometry: (hmax, vmax, mcus_x, mcus_y,
    padded [bw, bh], true [tbw, tbh]). Interleaved scans cover the
    MCU-padded grid; non-interleaved scans cover only the TRUE grid
    (ceil(comp_samples / 8), T.81 A.2.2 — no MCU padding)."""
    h, w, comps = frame["h"], frame["w"], frame["comps"]
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))
    bw = [mcus_x * c["h"] for c in comps]
    bh = [mcus_y * c["v"] for c in comps]
    tbw, tbh = [], []
    for c in comps:
        cw = -(-(w * c["h"]) // hmax)  # comp samples wide (A.1.1)
        ch_ = -(-(h * c["v"]) // vmax)
        tbw.append(-(-cw // 8))
        tbh.append(-(-ch_ // 8))
    return hmax, vmax, mcus_x, mcus_y, bw, bh, tbw, tbh


def _prog_ac_first(reader, tab, block, ss, se, al, eobrun):
    """One block of an AC first scan (G.1.2.2): returns the new EOBRUN."""
    if eobrun > 0:
        return eobrun - 1
    k = ss
    while k <= se:
        rs = reader.read_huff(tab)
        r, s = rs >> 4, rs & 0xF
        if s == 0:
            if r == 15:  # ZRL
                k += 16
                continue
            eobrun = 1 << r
            if r:
                eobrun += reader.read_bits(r)
            return eobrun - 1
        k += r
        if k > se:
            raise ValueError("progressive AC run past spectral band")
        block[k] = _extend(reader.read_bits(s), s) << al
        k += 1
    return 0


def _prog_ac_refine(reader, tab, block, ss, se, al, eobrun):
    """One block of an AC refinement scan (G.1.2.3): newly-nonzero
    coefficients arrive as ±1·2^Al; every already-nonzero coefficient
    crossed on the way (and in EOB-skipped block remainders) consumes
    one correction bit. Returns the new EOBRUN."""
    p1 = 1 << al
    k = ss
    if eobrun == 0:
        while k <= se:
            rs = reader.read_huff(tab)
            r, s = rs >> 4, rs & 0xF
            val = 0
            if s == 0:
                if r < 15:
                    eobrun = 1 << r
                    if r:
                        eobrun += reader.read_bits(r)
                    break
                # ZRL: cross 16 zero-history positions (corrections ride)
            else:
                if s != 1:
                    raise ValueError("refinement scan code with size > 1")
                val = p1 if reader.read_bit() else -p1
            while k <= se:
                if block[k] != 0:
                    if reader.read_bit():
                        if (int(block[k]) & p1) == 0:
                            block[k] += p1 if block[k] > 0 else -p1
                else:
                    if r == 0:
                        break
                    r -= 1
                k += 1
            if s and k <= se:
                block[k] = val
            k += 1
    if eobrun > 0:
        while k <= se:
            if block[k] != 0:
                if reader.read_bit():
                    if (int(block[k]) & p1) == 0:
                        block[k] += p1 if block[k] > 0 else -p1
            k += 1
        return eobrun - 1
    return 0


def _decode_progressive(payload, frame, qtabs, scans):
    comps = frame["comps"]
    hmax, vmax, mcus_x, mcus_y, bw, bh, tbw, tbh = _comp_grids(frame)
    coef = [np.zeros((bh[ci], bw[ci], 64), dtype=np.int64) for ci in range(len(comps))]
    by_id = {c["id"]: ci for ci, c in enumerate(comps)}

    for scan in scans:
        reader = _BitReader(payload, scan["start"])
        sidx = [by_id[cid] for cid in scan["order"]]
        dri = scan["dri"]
        ss, se, ah, al = scan["ss"], scan["se"], scan["ah"], scan["al"]
        if ss == 0:  # DC scan (interleaved over MCUs, or one comp raster)
            if se != 0:
                raise ValueError("DC scan with Se != 0")
            pred = {ci: 0 for ci in sidx}
            units = 0

            def dc_block(ci, by_, bx_):
                block = coef[ci][by_, bx_]
                if ah == 0:
                    dc_t = scan["sel"][comps[ci]["id"]][0]
                    t = reader.read_huff(scan["dc_tabs"][dc_t])
                    pred[ci] += _extend(reader.read_bits(t), t) if t else 0
                    block[0] = pred[ci] << al
                else:
                    if reader.read_bit():
                        block[0] |= 1 << al

            if len(sidx) > 1:
                for my in range(mcus_y):
                    for mx in range(mcus_x):
                        if dri and units and units % dri == 0:
                            reader.restart()
                            for ci in sidx:
                                pred[ci] = 0
                        for ci in sidx:
                            c = comps[ci]
                            for y2 in range(c["v"]):
                                for x2 in range(c["h"]):
                                    dc_block(ci, my * c["v"] + y2, mx * c["h"] + x2)
                        units += 1
            else:
                ci = sidx[0]
                for by_ in range(tbh[ci]):
                    for bx_ in range(tbw[ci]):
                        if dri and units and units % dri == 0:
                            reader.restart()
                            pred[ci] = 0
                        dc_block(ci, by_, bx_)
                        units += 1
        else:  # AC scan: always a single component, true grid, raster
            if len(sidx) != 1:
                raise ValueError("interleaved AC scan is not legal in progressive")
            ci = sidx[0]
            ac_t = scan["sel"][comps[ci]["id"]][1]
            tab = scan["ac_tabs"][ac_t]
            eobrun = 0
            units = 0
            for by_ in range(tbh[ci]):
                for bx_ in range(tbw[ci]):
                    if dri and units and units % dri == 0:
                        reader.restart()
                        eobrun = 0
                    block = coef[ci][by_, bx_]
                    if ah == 0:
                        eobrun = _prog_ac_first(reader, tab, block, ss, se, al, eobrun)
                    else:
                        eobrun = _prog_ac_refine(reader, tab, block, ss, se, al, eobrun)
                    units += 1

    return _reconstruct_coef_grids(coef, frame, qtabs, bh, bw, hmax, vmax)


def _reconstruct_coef_grids(coef, frame, qtabs, bh, bw, hmax, vmax):
    """Dequantize + IDCT per-component coefficient grids, then the
    same upsample/crop/color tail as the baseline scan decoder —
    shared by the Huffman and arithmetic progressive decoders."""
    h, w, comps = frame["h"], frame["w"], frame["comps"]
    shift = float(1 << (frame.get("prec", 8) - 1))
    planes = []
    for ci, c in enumerate(comps):
        plane = np.zeros((bh[ci] * 8, bw[ci] * 8), dtype=np.float64)
        q = qtabs[c["tq"]]
        for by_ in range(bh[ci]):
            for bx_ in range(bw[ci]):
                deq = np.zeros(64, dtype=np.int64)
                deq[ZIGZAG] = coef[ci][by_, bx_]
                plane[by_ * 8 : by_ * 8 + 8, bx_ * 8 : bx_ * 8 + 8] = (
                    idct2(deq.reshape(8, 8) * q) + shift
                )
        planes.append(plane)
    return _finish_planes(planes, comps, hmax, vmax, h, w,
                          prec=frame.get("prec", 8),
                          adobe=frame.get("adobe"))


# --- encoder (fixtures / round-trip tests; 4:4:4, Annex K tables) -----------


def _scale_qtab(tab: np.ndarray, quality: int) -> np.ndarray:
    quality = min(100, max(1, quality))
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    out = (tab * scale + 50) // 100
    return np.clip(out, 1, 255)


def encode_jpeg(
    img: np.ndarray,
    quality: int = 90,
    subsample: bool = False,
    restart_interval: int = 0,
    noninterleaved: bool = False,
    precision: int = 8,
    ycck: bool = True,
) -> bytes:
    """Minimal baseline encoder: grayscale (h, w) or RGB (h, w, 3),
    4:4:4 by default (``subsample=True`` → 4:2:0, exercising the
    decoder's chroma-upsampling path), Annex K Huffman tables.
    ``restart_interval=n`` emits a DRI segment and byte-aligned
    RSTn markers every n MCUs (T.81 E.1.4), exercising the decoder's
    restart path. ``noninterleaved=True`` writes one SOS scan PER
    COMPONENT (T.81 A.2.2 non-interleaved order, 4:4:4 color only) —
    the multi-scan baseline layout some encoders emit; quantized
    coefficients are identical to the interleaved layout, so decodes
    are bit-equal. ``precision=12`` encodes 12-bit samples (input
    0..4095) with widened Huffman tables (DC categories to 15, AC
    sizes to 14 per T.81 Table F.1). A 4-channel input is CMYK:
    stored Adobe-inverted (maxv − value) with the YCCK transform on
    the CMY part and an APP14 transform=2 marker (``ycck=False`` →
    plain inverted CMYK, transform=0), 4:4:4 only."""
    gray = img.ndim == 2
    cmyk = img.ndim == 3 and img.shape[2] == 4
    if noninterleaved and subsample:
        raise ValueError("noninterleaved encoding supports 4:4:4 only")
    if cmyk and subsample:
        raise ValueError("CMYK encoding supports 4:4:4 only")
    if gray:
        noninterleaved = False  # one component: the layouts coincide
    if precision not in (8, 12):
        raise ValueError(f"precision must be 8 or 12, got {precision}")
    center = float(1 << (precision - 1))
    maxv = float((1 << precision) - 1)
    h, w = img.shape[:2]
    if gray:
        planes = [img.astype(np.float64)]
        subsample = False
    elif cmyk:
        inv = maxv - img.astype(np.float64)  # Adobe inverted storage
        c0, c1, c2, kk = inv[:, :, 0], inv[:, :, 1], inv[:, :, 2], inv[:, :, 3]
        if ycck:
            y = 0.299 * c0 + 0.587 * c1 + 0.114 * c2
            cb = -0.168736 * c0 - 0.331264 * c1 + 0.5 * c2 + center
            cr = 0.5 * c0 - 0.418688 * c1 - 0.081312 * c2 + center
            planes = [y, cb, cr, kk]
        else:
            planes = [c0, c1, c2, kk]
    else:
        rgb = img.astype(np.float64)
        r, g, b = rgb[:, :, 0], rgb[:, :, 1], rgb[:, :, 2]
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = -0.168736 * r - 0.331264 * g + 0.5 * b + center
        cr = 0.5 * r - 0.418688 * g - 0.081312 * b + center
        planes = [y, cb, cr]
    q_l = _scale_qtab(QTAB_LUMA, quality)
    q_c = _scale_qtab(QTAB_CHROMA, quality)
    if gray:
        qts = [q_l]
    elif cmyk:
        qts = [q_l, q_c, q_c, q_l] if ycck else [q_l] * 4
    else:
        qts = [q_l, q_c, q_c]
    # per-component quant/Huffman table ids (0 = luma-class, 1 = chroma)
    if cmyk:
        tab_ids = [0, 1, 1, 0] if ycck else [0, 0, 0, 0]
    else:
        tab_ids = [0] + [1] * (len(planes) - 1)

    if precision == 12:
        dc_codes = [_huff_codes(*DC_WIDE)] * 2
        ac_codes = [_huff_codes(*AC_WIDE)] * 2
    else:
        dc_codes = [_huff_codes(*DC_LUMA), _huff_codes(*DC_CHROMA)]
        ac_codes = [_huff_codes(*AC_LUMA), _huff_codes(*AC_CHROMA)]

    bitbuf: list[int] = []

    def put(code: int, length: int) -> None:
        for j in range(length - 1, -1, -1):
            bitbuf.append((code >> j) & 1)

    put_val = _mag_bits  # size category + magnitude bits per F.1.2.1

    pred = [0] * len(planes)

    def emit_block(p: np.ndarray, by: int, bx: int, ci: int) -> None:
        tq = tab_ids[ci]
        block = p[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] - center
        coeffs = np.round(dct2(block) / qts[min(ci, len(qts) - 1)]).astype(np.int64)
        zz = coeffs.ravel()[ZIGZAG]
        diff = int(zz[0]) - pred[ci]
        pred[ci] = int(zz[0])
        t, bits = put_val(diff)
        code, length = dc_codes[min(tq, 1)][t]
        put(code, length)
        if t:
            put(bits, t)
        run = 0
        last_nz = 0
        for k in range(1, 64):
            if zz[k]:
                last_nz = k
        for k in range(1, last_nz + 1):
            if zz[k] == 0:
                run += 1
                continue
            while run > 15:
                code, length = ac_codes[min(tq, 1)][0xF0]
                put(code, length)
                run -= 16
            t, bits = put_val(int(zz[k]))
            code, length = ac_codes[min(tq, 1)][(run << 4) | t]
            put(code, length)
            put(bits, t)
            run = 0
        if last_nz < 63:
            code, length = ac_codes[min(tq, 1)][0x00]  # EOB
            put(code, length)

    scan = bytearray()

    def flush_bits() -> None:
        # byte-align with 1-padding per spec, pack with 0xFF00 stuffing
        while len(bitbuf) % 8:
            bitbuf.append(1)
        for j in range(0, len(bitbuf), 8):
            byte = 0
            for bit in bitbuf[j : j + 8]:
                byte = (byte << 1) | bit
            scan.append(byte)
            if byte == 0xFF:
                scan.append(0x00)
        bitbuf.clear()

    mcu_count = 0
    rst_idx = 0

    def end_mcu(total_mcus: int) -> None:
        nonlocal mcu_count, rst_idx
        mcu_count += 1
        if (
            restart_interval
            and mcu_count % restart_interval == 0
            and mcu_count < total_mcus
        ):
            flush_bits()
            scan.extend((0xFF, 0xD0 + rst_idx % 8))
            rst_idx += 1
            pred[:] = [0] * len(planes)

    scans_bytes: list[bytes] = []
    if noninterleaved:
        # one scan per component, blocks in raster order; DC predictor
        # and restart counters reset per scan (T.81 A.2.2 / E.1.4)
        ph, pw = -(-h // 8) * 8, -(-w // 8) * 8
        total_mcus = (ph // 8) * (pw // 8)
        padded = [np.pad(p, ((0, ph - h), (0, pw - w)), mode="edge") for p in planes]
        for ci, p in enumerate(padded):
            pred[:] = [0] * len(planes)
            mcu_count, rst_idx = 0, 0
            for by in range(ph // 8):
                for bx in range(pw // 8):
                    emit_block(p, by, bx, ci)
                    end_mcu(total_mcus)
            flush_bits()
            scans_bytes.append(bytes(scan))
            scan.clear()
    elif not subsample:
        ph, pw = -(-h // 8) * 8, -(-w // 8) * 8
        total_mcus = (ph // 8) * (pw // 8)
        padded = [np.pad(p, ((0, ph - h), (0, pw - w)), mode="edge") for p in planes]
        for by in range(ph // 8):
            for bx in range(pw // 8):
                for ci, p in enumerate(padded):
                    emit_block(p, by, bx, ci)
                end_mcu(total_mcus)
    else:
        # 4:2:0: MCU = 2x2 luma blocks + one block of each 2x-decimated
        # chroma plane (box-filter average, the common choice)
        ph, pw = -(-h // 16) * 16, -(-w // 16) * 16
        total_mcus = (ph // 16) * (pw // 16)
        yp = np.pad(planes[0], ((0, ph - h), (0, pw - w)), mode="edge")
        chroma = []
        for p in planes[1:]:
            p = np.pad(p, ((0, ph - h), (0, pw - w)), mode="edge")
            chroma.append((p[0::2, 0::2] + p[1::2, 0::2] + p[0::2, 1::2] + p[1::2, 1::2]) / 4.0)
        for my in range(ph // 16):
            for mx in range(pw // 16):
                for by in range(2):
                    for bx in range(2):
                        emit_block(yp, my * 2 + by, mx * 2 + bx, 0)
                emit_block(chroma[0], my, mx, 1)
                emit_block(chroma[1], my, mx, 2)
                end_mcu(total_mcus)
    flush_bits()

    def seg(marker: int, body: bytes) -> bytes:
        return struct.pack(">BBH", 0xFF, marker, len(body) + 2) + body

    def dqt(tq: int, tab: np.ndarray) -> bytes:
        return seg(0xDB, bytes([tq]) + bytes(int(v) for v in tab.ravel()[ZIGZAG]))

    def dht(tc: int, th: int, spec) -> bytes:
        bits, values = spec
        return seg(0xC4, bytes([(tc << 4) | th]) + bytes(bits) + bytes(values))

    nc = len(planes)
    luma_hv = 0x22 if subsample else 0x11
    sof_comps = b"".join(
        bytes([cid, luma_hv if cid == 1 else 0x11, tab_ids[cid - 1]])
        for cid in range(1, nc + 1)
    )
    sof = seg(
        0xC0, bytes([precision]) + struct.pack(">HH", h, w) + bytes([nc]) + sof_comps
    )
    dri = seg(0xDD, struct.pack(">H", restart_interval)) if restart_interval else b""
    out = b"\xff\xd8"
    if cmyk:  # Adobe APP14: transform 2 = YCCK, 0 = plain (inverted) CMYK
        out += seg(0xEE, b"Adobe" + struct.pack(">HHHB", 100, 0, 0, 2 if ycck else 0))
    out += dqt(0, q_l)
    need_chroma_tabs = any(t == 1 for t in tab_ids)
    if need_chroma_tabs:
        out += dqt(1, q_c)
    if precision == 12:
        out += dht(0, 0, DC_WIDE) + dht(1, 0, AC_WIDE)
        if need_chroma_tabs:
            out += dht(0, 1, DC_WIDE) + dht(1, 1, AC_WIDE)
    else:
        out += dht(0, 0, DC_LUMA) + dht(1, 0, AC_LUMA)
        if need_chroma_tabs:
            out += dht(0, 1, DC_CHROMA) + dht(1, 1, AC_CHROMA)
    out += sof + dri
    if noninterleaved:
        for cid in range(1, nc + 1):
            tt = (tab_ids[cid - 1] << 4) | tab_ids[cid - 1]
            out += seg(0xDA, bytes([1, cid, tt, 0, 63, 0])) + scans_bytes[cid - 1]
        return out + b"\xff\xd9"
    sos_comps = b"".join(
        bytes([cid, (tab_ids[cid - 1] << 4) | tab_ids[cid - 1]])
        for cid in range(1, nc + 1)
    )
    sos = seg(0xDA, bytes([nc]) + sos_comps + bytes([0, 63, 0]))
    return out + sos + bytes(scan) + b"\xff\xd9"


# --- progressive encoder (fixtures / round-trip tests) ----------------------


class _BitWriter:
    """Per-scan bit accumulator: MSB-first, 1-padded to a byte boundary
    at scan end, 0xFF00 stuffing on flush."""

    def __init__(self):
        self.bits: list[int] = []

    def put(self, code: int, length: int) -> None:
        for j in range(length - 1, -1, -1):
            self.bits.append((code >> j) & 1)

    def put_bit(self, b: int) -> None:
        self.bits.append(b & 1)

    def flush_scan(self) -> bytes:
        while len(self.bits) % 8:
            self.bits.append(1)
        out = bytearray()
        for j in range(0, len(self.bits), 8):
            byte = 0
            for bit in self.bits[j : j + 8]:
                byte = (byte << 1) | bit
            out.append(byte)
            if byte == 0xFF:
                out.append(0x00)
        self.bits.clear()
        return bytes(out)


def _mag_bits(v: int) -> tuple[int, int]:
    """Size category + magnitude bits per F.1.2.1 — the ONE
    implementation both encoders use (the baseline encoder's put_val
    is an alias), so their bit-exact agreement can't silently
    diverge."""
    if v == 0:
        return 0, 0
    t = abs(v).bit_length()
    return t, (v if v > 0 else v + (1 << t) - 1)


def _enc_ac_first_block(wr: _BitWriter, block, ss: int, se: int, al: int, ac_codes) -> None:
    """AC first scan, one block (G.1.2.2 encode side). EOB runs are
    deliberately capped at 1 (EOB0 per block): the Annex K AC tables
    carry no EOBn (n>0) codewords — a valid, just less compact,
    progressive stream."""
    r = 0
    for k in range(ss, se + 1):
        v = int(block[k])
        a = abs(v) >> al
        if a == 0:
            r += 1
            continue
        while r > 15:
            wr.put(*ac_codes[0xF0])
            r -= 16
        t = a.bit_length()
        _, bits = _mag_bits(a if v > 0 else -a)
        wr.put(*ac_codes[(r << 4) | t])
        wr.put(bits, t)
        r = 0
    if r > 0:
        wr.put(*ac_codes[0x00])  # EOB0


def _enc_ac_refine_block(wr: _BitWriter, block, ss: int, se: int, al: int, ac_codes) -> None:
    """AC refinement scan, one block (G.1.2.3 encode side), emitting
    bits in exactly the order the refinement decoder consumes them:
    per emitted code — code, sign bit, then the correction bits of the
    already-nonzero coefficients crossed positionally; a ZRL covers
    up to its 16th zero-history position; any tail (positions after
    the last newly-nonzero coefficient) becomes EOB0 followed by the
    tail's correction bits."""
    # window: events since the last emitted code, positional order.
    # None = zero-history position; int = correction bit of an
    # already-nonzero coefficient.
    window: list[int | None] = []
    for k in range(ss, se + 1):
        v = int(block[k])
        a = abs(v) >> al
        if a == 0:
            window.append(None)
        elif a > 1:
            window.append(a & 1)
        else:  # newly nonzero at this precision
            zeros = sum(1 for ev in window if ev is None)
            while zeros > 15:
                wr.put(*ac_codes[0xF0])
                crossed = 0
                while window:
                    ev = window.pop(0)
                    if ev is None:
                        crossed += 1
                        if crossed == 16:
                            break
                    else:
                        wr.put_bit(ev)
                zeros -= 16
            wr.put(*ac_codes[(zeros << 4) | 1])
            wr.put_bit(1 if v > 0 else 0)
            for ev in window:
                if ev is not None:
                    wr.put_bit(ev)
            window.clear()
    if window:
        wr.put(*ac_codes[0x00])  # EOB0
        for ev in window:
            if ev is not None:
                wr.put_bit(ev)


def _progressive_coef_grids(img: np.ndarray, quality: int, subsample: bool):
    """Shared front half of the progressive encoders (Huffman SOF2 and
    arithmetic SOF10): frame geometry + per-component quantized
    coefficient grids in zigzag order over the MCU-padded block grid
    (edge padding, 4:2:0 chroma box-filter). Identical quantization to
    encode_jpeg at the same quality — the cross-encoder bit-equality
    tests rest on this."""
    gray = img.ndim == 2
    h, w = img.shape[:2]
    if gray:
        planes = [img.astype(np.float64)]
        subsample = False
    else:
        rgb = img.astype(np.float64)
        r, g, b = rgb[:, :, 0], rgb[:, :, 1], rgb[:, :, 2]
        planes = [
            0.299 * r + 0.587 * g + 0.114 * b,
            -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0,
            0.5 * r - 0.418688 * g - 0.081312 * b + 128.0,
        ]
    q_l = _scale_qtab(QTAB_LUMA, quality)
    q_c = _scale_qtab(QTAB_CHROMA, quality)
    nc = 1 if gray else 3
    luma_hv = (2, 2) if subsample else (1, 1)
    comps = [
        {"id": ci + 1, "h": luma_hv[0] if ci == 0 else 1,
         "v": luma_hv[1] if ci == 0 else 1, "tq": 0 if ci == 0 else 1}
        for ci in range(nc)
    ]
    frame = {"h": h, "w": w, "comps": comps}
    _, _, _, _, bw, bh, _, _ = _comp_grids(frame)
    coefs = []
    for ci, c in enumerate(comps):
        p = planes[ci]
        if not gray and subsample and ci > 0:
            ph0, pw0 = -(-h // 16) * 16, -(-w // 16) * 16
            p = np.pad(p, ((0, ph0 - h), (0, pw0 - w)), mode="edge")
            p = (p[0::2, 0::2] + p[1::2, 0::2] + p[0::2, 1::2] + p[1::2, 1::2]) / 4.0
        tgt_h, tgt_w = bh[ci] * 8, bw[ci] * 8
        p = np.pad(
            p, ((0, tgt_h - p.shape[0]), (0, tgt_w - p.shape[1])), mode="edge"
        )
        qt = q_l if c["tq"] == 0 else q_c
        grid = np.zeros((bh[ci], bw[ci], 64), dtype=np.int64)
        for by_ in range(bh[ci]):
            for bx_ in range(bw[ci]):
                block = p[by_ * 8 : by_ * 8 + 8, bx_ * 8 : bx_ * 8 + 8] - 128.0
                grid[by_, bx_] = np.round(dct2(block) / qt).astype(np.int64).ravel()[ZIGZAG]
        coefs.append(grid)
    return frame, comps, coefs, q_l, q_c


def encode_jpeg_progressive(
    img: np.ndarray, quality: int = 90, subsample: bool = False
) -> bytes:
    """Progressive (SOF2) encoder for fixtures/round-trips: spectral
    selection AND successive approximation (DC Al=1 + refinement;
    luma AC descends Al=2 → 1 → 0 across refinement scans), Annex K
    tables, no restart markers. Quantized coefficients are identical
    to :func:`encode_jpeg`'s at the same quality, so
    ``decode_jpeg(encode_jpeg_progressive(x))`` must equal
    ``decode_jpeg(encode_jpeg(x))`` bit-for-bit."""
    (frame, comps, coefs, q_l, q_c) = _progressive_coef_grids(
        img, quality, subsample
    )
    gray = img.ndim == 2
    h, w = img.shape[:2]
    nc = len(comps)
    hmax, vmax, mcus_x, mcus_y, bw, bh, tbw, tbh = _comp_grids(frame)

    dc_codes = [_huff_codes(*DC_LUMA), _huff_codes(*DC_CHROMA)]
    ac_codes = [_huff_codes(*AC_LUMA), _huff_codes(*AC_CHROMA)]

    def seg(marker: int, body: bytes) -> bytes:
        return struct.pack(">BBH", 0xFF, marker, len(body) + 2) + body

    def sos_header(comp_list, ss, se, ah, al) -> bytes:
        body = bytes([len(comp_list)])
        for ci in comp_list:
            t = 0 if ci == 0 else 1
            body += bytes([comps[ci]["id"], (t << 4) | t])
        return seg(0xDA, body + bytes([ss, se, (ah << 4) | al]))

    wr = _BitWriter()
    scans = bytearray()

    def dc_scan(ah, al):
        pred = {ci: 0 for ci in range(nc)}
        order = []
        if nc > 1:
            for my in range(mcus_y):
                for mx in range(mcus_x):
                    for ci, c in enumerate(comps):
                        for y2 in range(c["v"]):
                            for x2 in range(c["h"]):
                                order.append((ci, my * c["v"] + y2, mx * c["h"] + x2))
        else:
            order = [(0, by_, bx_) for by_ in range(tbh[0]) for bx_ in range(tbw[0])]
        for ci, by_, bx_ in order:
            dc = int(coefs[ci][by_, bx_, 0])
            if ah == 0:
                v = dc >> al  # arithmetic shift per A.4.1
                t, bits = _mag_bits(v - pred[ci])
                pred[ci] = v
                code, length = dc_codes[min(ci, 1)][t]
                wr.put(code, length)
                if t:
                    wr.put(bits, t)
            else:
                wr.put_bit((dc >> al) & 1)
        scans.extend(sos_header(list(range(nc)), 0, 0, ah, al))
        scans.extend(wr.flush_scan())

    def ac_scan(ci, ss, se, ah, al):
        codes = ac_codes[min(ci, 1)]
        for by_ in range(tbh[ci]):
            for bx_ in range(tbw[ci]):
                block = coefs[ci][by_, bx_]
                if ah == 0:
                    _enc_ac_first_block(wr, block, ss, se, al, codes)
                else:
                    _enc_ac_refine_block(wr, block, ss, se, al, codes)
        scans.extend(sos_header([ci], ss, se, ah, al))
        scans.extend(wr.flush_scan())

    # scan script: DC first (Al=1), luma AC by band at Al=2, chroma AC
    # at full precision, then DC refinement and two luma AC refinement
    # levels — exercising every decoder path (first/refine × DC/AC,
    # ZRL, EOB tails, interleaved + single-component DC)
    dc_scan(0, 1)
    ac_scan(0, 1, 5, 0, 2)
    ac_scan(0, 6, 63, 0, 2)
    for ci in range(1, nc):
        ac_scan(ci, 1, 63, 0, 0)
    dc_scan(1, 0)
    ac_scan(0, 1, 5, 2, 1)
    ac_scan(0, 6, 63, 2, 1)
    ac_scan(0, 1, 5, 1, 0)
    ac_scan(0, 6, 63, 1, 0)

    def dqt(tq: int, tab: np.ndarray) -> bytes:
        return seg(0xDB, bytes([tq]) + bytes(int(v) for v in tab.ravel()[ZIGZAG]))

    def dht(tc: int, th: int, spec) -> bytes:
        bits, values = spec
        return seg(0xC4, bytes([(tc << 4) | th]) + bytes(bits) + bytes(values))

    sof_comps = b"".join(
        bytes([c["id"], (c["h"] << 4) | c["v"], c["tq"]]) for c in comps
    )
    sof = seg(0xC2, bytes([8]) + struct.pack(">HH", h, w) + bytes([nc]) + sof_comps)
    out = b"\xff\xd8" + dqt(0, q_l)
    if not gray:
        out += dqt(1, q_c)
    out += dht(0, 0, DC_LUMA) + dht(1, 0, AC_LUMA)
    if not gray:
        out += dht(0, 1, DC_CHROMA) + dht(1, 1, AC_CHROMA)
    return out + sof + bytes(scans) + b"\xff\xd9"


# --- lossless (SOF3): predictive coding, Huffman-coded differences ----------


def _ll_predict(plane, r, c, predictor: int, default: int) -> int:
    """T.81 H.1 sample prediction. First sample (and the first sample
    after a restart, handled by the caller passing r=c=0 semantics)
    predicts the mid-level default; the rest of the first line uses Ra,
    the first column uses Rb, and interior samples use the scan's
    selected predictor 1-7."""
    if r == 0 and c == 0:
        return default
    if r == 0:
        return int(plane[r, c - 1])
    if c == 0:
        return int(plane[r - 1, c])
    ra, rb, rc = int(plane[r, c - 1]), int(plane[r - 1, c]), int(plane[r - 1, c - 1])
    return {
        1: ra,
        2: rb,
        3: rc,
        4: ra + rb - rc,
        5: ra + ((rb - rc) >> 1),
        6: rb + ((ra - rc) >> 1),
        7: (ra + rb) >> 1,
    }[predictor]


def _decode_lossless_scan(payload, start, frame, sel, dc_tabs, predictor, pt, dri):
    """SOF3 lossless scan (T.81 Annex H): per-sample Huffman category +
    magnitude bits give a difference added modulo 2^16 to the
    prediction; output samples are X << Pt. Components decode at full
    resolution (subsampled lossless is rejected) and are returned
    WITHOUT any color transform — T.81 lossless stores components
    directly, unlike the DCT paths' YCbCr. Category 16 is the
    bits-free +32768 special case. Restart markers reset prediction to
    the scan-start state (the next sample of every component predicts
    the mid-level default — the same convention our encoder writes)."""
    h, w, comps = frame["h"], frame["w"], frame["comps"]
    prec = frame["prec"]
    if predictor not in range(1, 8):
        raise ValueError(f"lossless predictor must be 1-7, got {predictor}")
    if any(c["h"] != 1 or c["v"] != 1 for c in comps):
        raise ValueError("subsampled lossless JPEG unsupported")
    planes = [np.zeros((h, w), dtype=np.int64) for _ in comps]
    reader = _BitReader(payload, start)
    default = 1 << (prec - pt - 1)
    count = 0
    fresh = True  # scan start / just after a restart
    for r in range(h):
        for c in range(w):
            if dri and count and count % dri == 0:
                reader.restart()
                fresh = True
            for ci, comp in enumerate(comps):
                tab = dc_tabs[sel[comp["id"]][0]]
                t = reader.read_huff(tab)
                if t == 16:
                    diff = 32768
                elif t:
                    diff = _extend(reader.read_bits(t), t)
                else:
                    diff = 0
                p = default if fresh else _ll_predict(planes[ci], r, c, predictor, default)
                planes[ci][r, c] = (p + diff) & 0xFFFF
            fresh = False
            count += 1
    maxv = (1 << prec) - 1
    dt = np.uint16 if prec > 8 else np.uint8
    out = [np.clip(pl << pt, 0, maxv).astype(dt) for pl in planes]
    return out[0] if len(out) == 1 else np.stack(out, axis=2)


# 17 difference categories (0-16), all coded at 5 bits — a valid
# canonical table (17 of 32 codes) that favors simplicity over entropy;
# fixtures don't need optimal tables, they need spec-shaped ones.
LL_HUFF = ([0, 0, 0, 0, 17] + [0] * 11, list(range(17)))


def encode_jpeg_lossless(
    img: np.ndarray,
    predictor: int = 4,
    pt: int = 0,
    restart_interval: int = 0,
    precision: int | None = None,
) -> bytes:
    """SOF3 lossless encoder for fixtures/round-trips: grayscale
    (h, w) or multi-component (h, w, k) at 2-16 bit precision
    (defaulted from the dtype), any predictor 1-7, optional point
    transform (stores x >> pt; decode returns the quantized value
    << pt — the ONLY lossy knob, off by default) and restart
    intervals. Components are stored directly (no color transform), so
    decode_jpeg(encode_jpeg_lossless(x)) == x exactly."""
    if predictor not in range(1, 8):
        raise ValueError(f"predictor must be 1-7, got {predictor}")
    if precision is None:
        precision = 16 if img.dtype == np.uint16 else 8
    if not 2 <= precision <= 16:
        raise ValueError(f"precision must be 2-16, got {precision}")
    if pt < 0 or pt >= precision:
        raise ValueError(f"pt must be in [0, {precision - 1}], got {pt}")
    gray = img.ndim == 2
    h, w = img.shape[:2]
    nc = 1 if gray else img.shape[2]
    planes = [
        (img if gray else img[:, :, ci]).astype(np.int64) >> pt for ci in range(nc)
    ]
    codes = _huff_codes(*LL_HUFF)
    bitbuf: list[int] = []

    def put(code: int, length: int) -> None:
        for j in range(length - 1, -1, -1):
            bitbuf.append((code >> j) & 1)

    scan = bytearray()

    def flush_bits() -> None:
        while len(bitbuf) % 8:
            bitbuf.append(1)
        for j in range(0, len(bitbuf), 8):
            byte = 0
            for bit in bitbuf[j : j + 8]:
                byte = (byte << 1) | bit
            scan.append(byte)
            if byte == 0xFF:
                scan.append(0x00)
        bitbuf.clear()

    default = 1 << (precision - pt - 1)
    count = 0
    rst = 0
    fresh = True
    total = h * w
    for r in range(h):
        for c in range(w):
            if restart_interval and count and count % restart_interval == 0:
                flush_bits()
                scan.extend((0xFF, 0xD0 + rst % 8))
                rst += 1
                fresh = True
            for pl in planes:
                p = default if fresh else _ll_predict(pl, r, c, predictor, default)
                d = (int(pl[r, c]) - p) & 0xFFFF
                if d == 32768:
                    put(*codes[16])
                else:
                    if d > 32768:
                        d -= 65536
                    t, bits = _mag_bits(d)
                    put(*codes[t])
                    if t:
                        put(bits, t)
            fresh = False
            count += 1
    assert count == total
    flush_bits()

    def seg(marker: int, body: bytes) -> bytes:
        return struct.pack(">BBH", 0xFF, marker, len(body) + 2) + body

    dht = seg(0xC4, bytes([0x00]) + bytes(LL_HUFF[0]) + bytes(LL_HUFF[1]))
    sof_comps = b"".join(bytes([ci + 1, 0x11, 0]) for ci in range(nc))
    sof = seg(
        0xC3, bytes([precision]) + struct.pack(">HH", h, w) + bytes([nc]) + sof_comps
    )
    dri = (
        seg(0xDD, struct.pack(">H", restart_interval)) if restart_interval else b""
    )
    sos_comps = b"".join(bytes([ci + 1, 0x00]) for ci in range(nc))
    sos = seg(0xDA, bytes([nc]) + sos_comps + bytes([predictor, 0, pt]))
    return b"\xff\xd8" + dht + sof + dri + sos + bytes(scan) + b"\xff\xd9"
