"""H.264/AVC baseline-profile I-frame codec — the last video seam
(VERDICT r8 task 8 / r9 task 5: "decide h264"). Decided: implemented,
for the intra-only subset that a training-data pipeline actually needs
to thumbnail keyframes (IDR samples; motion-compensated P/B decode
stays out of scope — at 100 TB you frame-sample keyframes, you do not
transcode video on the analytics cluster).

Implemented from the PUBLIC spec (ITU-T Rec. H.264 / ISO 14496-10;
section numbers cited inline) — no external codec library:

- NAL layer: Annex B start codes AND AVCC length-prefixed samples,
  emulation-prevention (§7.4.1 / 7.3.1) both directions.
- Headers: SPS / PPS / slice header for CAVLC I slices (§7.3.2).
- Entropy: CAVLC (§9.2) — coeff_token (Table 9-5 incl. the chroma-DC
  and the ≥8 FLC contexts), level prefix/suffix with adaptive suffix
  length, total_zeros (Tables 9-7/9-9), run_before (Table 9-10).
- Macroblocks (I slices, §7.3.5): I_PCM, Intra_4x4 (all 9 prediction
  modes, §8.3.1), Intra_16x16 (all 4 modes incl. Plane, §8.3.3) with
  the luma-DC Hadamard, chroma 4:2:0 (all 4 modes) with the 2x2
  chroma-DC transform; coded_block_pattern me(v) (Table 9-4), per-MB
  QP delta.
- Reconstruction: the exact integer dequant + core inverse transform
  of §8.5.12 (bit-exact, no floats in the sample path).

The ENCODER exists so the decoder is testable in this container: it
emits conformant-layout streams (mixing I_PCM / Intra_4x4 / Intra_16x16
macroblocks, exercising every entropy table) and runs the same
reconstruction loop a decoder runs, so tests assert DECODER OUTPUT ==
ENCODER RECONSTRUCTION **bit-exactly**, plus PSNR-vs-source bounds and
I_PCM exactness (which is independent of the transform path entirely).

Honest caveats, so nobody mistakes scope:
- Deblocking (§8.7) IS implemented for intra pictures (r11 — the
  r10-VERDICT lead item: real-world encoders default the loop filter
  ON, so the earlier refusal rejected essentially every wild avc1
  file). I slices only ever produce bS 4 (MB edges) / bS 3 (internal
  edges); both the strong and normal filters, the Table 8-16/8-17
  thresholds, per-slice idc 0/1/2 semantics (incl. idc=2
  skip-slice-boundaries), slice alpha/beta offsets, per-MB QPY
  tracking and the I_PCM QPY=0 rule are covered, with the encoder
  growing a ``deblocking=True`` mode that runs the SAME filter loop so
  bit-exactness tests pin both sides. Intra prediction correctly uses
  pre-filter samples (§8.3); the filter runs once after the picture
  is fully reconstructed.
- CABAC (main/high profiles), P/B slices, MBAFF/interlace, 4:2:2/4:4:4,
  8x8 transform are rejected with loud errors naming the feature.
- The VLC tables were transcribed from the public spec and are
  validated structurally in tests (prefix-freeness + near-complete
  Kraft sums — the spec tables deliberately leave a few codewords
  unused, e.g. one 15-bit slot in Table 9-5 VLC0 and 2 of 64 FLC
  slots) and behaviorally by encoder/decoder round-trips over
  randomized coefficient patterns in every nC context; end-to-end
  conformance against a reference decoder is NOT verifiable in this
  container (no ffmpeg — the same honesty line the JPEG/FLAC codecs
  carry in their NOTES entries).

Colorspace: full-range BT.601 YCbCr 4:2:0, same matrix as
operators/jpeg.py, so image ⇄ video paths agree on pixels.
"""

from __future__ import annotations

import numpy as np

# ---------------------------------------------------------------------
# Bit I/O + Exp-Golomb (§9.1)
# ---------------------------------------------------------------------


class BitReader:
    """MSB-first bit reader over a byte string. ``pos`` is the
    authoritative bit position (callers may advance it directly after
    a peek); reads go through a cached 56-bit window refilled once per
    7 bytes, so per-symbol cost is a compare + shift + mask instead of
    a bytes slice per call (r10 VERDICT task 2)."""

    __slots__ = ("data", "pos", "nbits", "_cache", "_cbase")

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0  # bit position
        self.nbits = len(data) * 8
        self._cache = 0
        self._cbase = -56  # cache covers bits [_cbase, _cbase + 56)

    def _refill(self) -> None:
        i = self.pos >> 3
        chunk = self.data[i : i + 7]
        self._cache = int.from_bytes(chunk, "big") << ((7 - len(chunk)) * 8)
        self._cbase = i * 8

    def read_bit(self) -> int:
        if self.pos >= self.nbits:
            raise ValueError("bitstream overrun")
        base = self._cbase
        if self.pos >= base + 56 or self.pos < base:
            self._refill()
            base = self._cbase
        bit = (self._cache >> (base + 55 - self.pos)) & 1
        self.pos += 1
        return bit

    def peek_bits(self, n: int) -> int:
        """Next ``n`` bits (n <= 32) without advancing, zero-padded
        past the stream end (callers that must not read padding check
        ``pos + n <= nbits`` themselves — read_bits below does)."""
        base = self._cbase
        if self.pos + n > base + 56 or self.pos < base:
            self._refill()
            base = self._cbase
        return (self._cache >> (base + 56 - self.pos - n)) & ((1 << n) - 1)

    def read_bits(self, n: int) -> int:
        if n == 0:
            return 0
        if self.pos + n > self.nbits:
            raise ValueError("bitstream overrun")
        if n > 32:  # rare (level escape suffixes); chunked
            hi = self.read_bits(n - 32)
            return (hi << 32) | self.read_bits(32)
        v = self.peek_bits(n)
        self.pos += n
        return v

    def ue(self) -> int:
        chunk = self.peek_bits(33)
        if chunk == 0:
            # >32 leading zeros, or reading past the stream end
            raise ValueError("malformed Exp-Golomb code")
        zeros = 33 - chunk.bit_length()
        self.pos += zeros + 1
        return (1 << zeros) - 1 + (self.read_bits(zeros) if zeros else 0)

    def se(self) -> int:
        k = self.ue()
        return (k + 1) // 2 if k % 2 else -(k // 2)

    def byte_align(self) -> None:
        self.pos = (self.pos + 7) & ~7

    def more_rbsp_data(self) -> bool:
        """True while payload bits remain before the rbsp_stop_one_bit
        (§7.2): find the LAST 1 bit in the stream; data remains iff the
        current position is before it."""
        total = len(self.data) * 8
        p = total - 1
        while p >= 0:
            byte = self.data[p >> 3]
            if (byte >> (7 - (p & 7))) & 1:
                break
            p -= 1
        return self.pos < p


class BitWriter:
    def __init__(self):
        self.bits: list[int] = []

    def write_bit(self, b: int) -> None:
        self.bits.append(b & 1)

    def write_bits(self, v: int, n: int) -> None:
        for i in range(n - 1, -1, -1):
            self.bits.append((v >> i) & 1)

    def write_str(self, s: str) -> None:
        for ch in s:
            self.bits.append(1 if ch == "1" else 0)

    def ue(self, v: int) -> None:
        k = v + 1
        n = k.bit_length()
        self.write_bits(0, n - 1)
        self.write_bits(k, n)

    def se(self, v: int) -> None:
        self.ue(2 * v - 1 if v > 0 else -2 * v)

    def rbsp_trailing(self) -> None:
        self.write_bit(1)
        while len(self.bits) % 8:
            self.write_bit(0)

    def tobytes(self) -> bytes:
        assert len(self.bits) % 8 == 0
        out = bytearray()
        for i in range(0, len(self.bits), 8):
            b = 0
            for j in range(8):
                b = (b << 1) | self.bits[i + j]
            out.append(b)
        return bytes(out)


def rbsp_unescape(nal_payload: bytes) -> bytes:
    """Remove emulation_prevention_three_byte (§7.4.1.1):
    00 00 03 → 00 00."""
    out = bytearray()
    zeros = 0
    i = 0
    n = len(nal_payload)
    while i < n:
        b = nal_payload[i]
        if zeros >= 2 and b == 3:
            zeros = 0
            i += 1
            continue
        out.append(b)
        zeros = zeros + 1 if b == 0 else 0
        i += 1
    return bytes(out)


def rbsp_escape(rbsp: bytes) -> bytes:
    """Insert emulation-prevention bytes: any 00 00 0x (x≤3) → 00 00 03 0x."""
    out = bytearray()
    zeros = 0
    for b in rbsp:
        if zeros >= 2 and b <= 3:
            out.append(3)
            zeros = 0
        out.append(b)
        zeros = zeros + 1 if b == 0 else 0
    return bytes(out)


def split_nals(
    data: bytes, length_size: int = 4, framing: str = "auto"
) -> list[bytes]:
    """NAL units (header byte + ESCAPED payload) from EITHER Annex B
    (start-code delimited) or AVCC (``length_size``-byte big-endian
    length prefixed, per the track's avcC record) framing. With
    ``framing='auto'`` the format is sniffed from the leading bytes —
    fine for elementary streams, but an AVCC sample whose first NAL is
    256-511 bytes has a length prefix of 00 00 01 xx and WOULD sniff
    as Annex B, so callers that KNOW the framing (an mp4 track with an
    avcC record is AVCC by definition) must pass ``framing='avcc'``."""
    if framing not in ("auto", "avcc", "annexb"):
        raise ValueError(f"framing must be auto/avcc/annexb, got {framing!r}")
    is_annexb = (
        framing == "annexb"
        or (
            framing == "auto"
            and (data[:4] == b"\x00\x00\x00\x01" or data[:3] == b"\x00\x00\x01")
        )
    )
    if is_annexb:
        nals = []
        i = 0
        n = len(data)
        while i < n:
            # find next start code
            j = data.find(b"\x00\x00\x01", i)
            if j < 0:
                break
            j += 3
            k = data.find(b"\x00\x00\x01", j)
            end = k if k >= 0 else n
            # trim trailing zero bytes that belong to the NEXT 4-byte code
            while end > j and data[end - 1] == 0 and k >= 0:
                end -= 1
            if end > j:
                nals.append(data[j:end])
            i = j if k < 0 else k
            if k < 0:
                break
        return nals
    # AVCC: length-prefixed (prefix size from the track's avcC record)
    nals = []
    i = 0
    n = len(data)
    while i + length_size <= n:
        ln = int.from_bytes(data[i : i + length_size], "big")
        i += length_size
        if ln == 0 or i + ln > n:
            raise ValueError("malformed AVCC sample: bad NAL length")
        nals.append(data[i : i + ln])
        i += ln
    return nals


# ---------------------------------------------------------------------
# Transforms + quantization (§8.5.12, §8.6 encoder side)
# ---------------------------------------------------------------------

#: Zig-zag scan for 4x4 blocks (Table 8-13, frame coding).
ZIGZAG4 = [0, 1, 4, 8, 5, 2, 3, 6, 9, 12, 13, 10, 7, 11, 14, 15]

# Dequant scale V (§8.5.12.1): rows qP%6, columns by coefficient class
# (0: positions (0,0),(0,2),(2,0),(2,2); 1: (1,1),(1,3),(3,1),(3,3);
#  2: the rest).
_V = [
    (10, 16, 13),
    (11, 18, 14),
    (13, 20, 16),
    (14, 23, 18),
    (16, 25, 20),
    (18, 29, 23),
]
# Encoder multiplier MF (the standard forward pairing of V; public in
# the spec's reference model and every textbook treatment).
_MF = [
    (13107, 5243, 8066),
    (11916, 4660, 7490),
    (10082, 4194, 6554),
    (9362, 3647, 5825),
    (8192, 3355, 5243),
    (7282, 2893, 4559),
]


def _pos_class(i: int, j: int) -> int:
    if i % 2 == 0 and j % 2 == 0:
        return 0
    if i % 2 == 1 and j % 2 == 1:
        return 1
    return 2


_VMAT = np.zeros((6, 4, 4), dtype=np.int64)
_MFMAT = np.zeros((6, 4, 4), dtype=np.int64)
for _m in range(6):
    for _i in range(4):
        for _j in range(4):
            _VMAT[_m, _i, _j] = _V[_m][_pos_class(_i, _j)]
            _MFMAT[_m, _i, _j] = _MF[_m][_pos_class(_i, _j)]


def core_transform(x: np.ndarray) -> np.ndarray:
    """Forward 4x4 core transform W = Cf · X · CfT (integer)."""
    cf = np.array(
        [[1, 1, 1, 1], [2, 1, -1, -2], [1, -1, -1, 1], [1, -2, 2, -1]],
        dtype=np.int64,
    )
    return cf @ x.astype(np.int64) @ cf.T


def inv_core_transform(d: np.ndarray) -> np.ndarray:
    """Inverse 4x4 core transform of §8.5.12.2 EXACTLY (with the >>1
    asymmetry and the final (x+32)>>6 rounding). Accepts one (4, 4)
    block or a batched (..., 4, 4) stack — the butterflies broadcast,
    so a macroblock's 16 residual blocks invert in one call (r10
    VERDICT task 2: the per-block Python loops were the decode
    bottleneck after entropy). All shifts are arithmetic (numpy int64
    sign-extends, matching the spec's >>)."""
    d = np.asarray(d).astype(np.int64)
    # horizontal butterfly along the last (column) axis
    a, b, c, dd = d[..., 0], d[..., 1], d[..., 2], d[..., 3]
    e0, e1 = a + c, a - c
    e2, e3 = (b >> 1) - dd, b + (dd >> 1)
    e = np.stack([e0 + e3, e1 + e2, e1 - e2, e0 - e3], axis=-1)
    # vertical butterfly along the row axis
    a, b, c, dd = e[..., 0, :], e[..., 1, :], e[..., 2, :], e[..., 3, :]
    g0, g1 = a + c, a - c
    g2, g3 = (b >> 1) - dd, b + (dd >> 1)
    f = np.stack([g0 + g3, g1 + g2, g1 - g2, g0 - g3], axis=-2)
    return (f + 32) >> 6


def hadamard4(x: np.ndarray) -> np.ndarray:
    h = np.array(
        [[1, 1, 1, 1], [1, 1, -1, -1], [1, -1, -1, 1], [1, -1, 1, -1]],
        dtype=np.int64,
    )
    return h @ x.astype(np.int64) @ h.T


def hadamard2(x: np.ndarray) -> np.ndarray:
    h = np.array([[1, 1], [1, -1]], dtype=np.int64)
    return h @ x.astype(np.int64) @ h.T


def dequant4x4(coefs: np.ndarray, qp: int) -> np.ndarray:
    """Residual 4x4 dequant (§8.5.12.1): d = (c · LevelScale) << (qP/6)
    — the rounding-branch forms belong to the DC paths below, not here
    (the final (x+32)>>6 of the inverse transform does the rounding)."""
    return (coefs.astype(np.int64) * _VMAT[qp % 6]) << (qp // 6)


def dequant_luma_dc(dc: np.ndarray, qp: int) -> np.ndarray:
    """Intra16x16 luma DC (§8.5.10): unnormalized inverse Hadamard,
    then scale. NB the module's LevelScale table is the v-table
    (10,16,13…), not the spec's 16×-prescaled LevelScale4x4, so the
    shift thresholds here are the implementation-convention ones
    (threshold qP 12, shift qP/6 − 2) — the forms are identical after
    the 2⁴ table-scaling is folded in. Verified by the domain-identity
    test: a constant-c residual reconstructs to exactly c through the
    DC path, matching the AC path bit-for-bit."""
    f = hadamard4(dc)
    ls = int(_VMAT[qp % 6, 0, 0])
    if qp >= 12:
        return (f * ls) << (qp // 6 - 2)
    add = 1 << (1 - qp // 6)
    return (f * ls + add) >> (2 - qp // 6)


def dequant_chroma_dc(dc: np.ndarray, qpc: int) -> np.ndarray:
    """Chroma DC (§8.5.11): 2x2 Hadamard then ((f·LS) << (qPc/6)) >> 1
    in v-table convention (same 2⁴ fold as the luma DC docstring)."""
    f = hadamard2(dc)
    ls = int(_VMAT[qpc % 6, 0, 0])
    return ((f * ls) << (qpc // 6)) >> 1


#: QPc mapping from qPi (Table 8-15; identity below 30).
_QPC_TABLE = {
    30: 29, 31: 30, 32: 31, 33: 32, 34: 32, 35: 33, 36: 34, 37: 34,
    38: 35, 39: 35, 40: 36, 41: 36, 42: 37, 43: 37, 44: 37, 45: 38,
    46: 38, 47: 38, 48: 39, 49: 39, 50: 39, 51: 39,
}


def chroma_qp(qp: int, offset: int = 0) -> int:
    qpi = max(0, min(51, qp + offset))
    return _QPC_TABLE.get(qpi, qpi)


# ---------------------------------------------------------------------
# CAVLC tables (§9.2). Each table maps codeword-string -> value and is
# validated as a COMPLETE prefix code (Kraft sum == 1) in tests.
# ---------------------------------------------------------------------

# Table 9-5 coeff_token: {code: (TotalCoeff, TrailingOnes)} per context.
_CT_NC0 = {  # 0 <= nC < 2
    "1": (0, 0),
    "000101": (1, 0), "01": (1, 1),
    "00000111": (2, 0), "000100": (2, 1), "001": (2, 2),
    "000000111": (3, 0), "00000110": (3, 1), "0000101": (3, 2), "00011": (3, 3),
    "0000000111": (4, 0), "000000110": (4, 1), "00000101": (4, 2), "000011": (4, 3),
    "00000000111": (5, 0), "0000000110": (5, 1), "000000101": (5, 2), "0000100": (5, 3),
    "0000000001111": (6, 0), "00000000110": (6, 1), "0000000101": (6, 2), "00000100": (6, 3),
    "0000000001011": (7, 0), "0000000001110": (7, 1), "00000000101": (7, 2), "000000100": (7, 3),
    "0000000001000": (8, 0), "0000000001010": (8, 1), "0000000001101": (8, 2), "0000000100": (8, 3),
    "00000000001111": (9, 0), "00000000001110": (9, 1), "0000000001001": (9, 2), "00000000100": (9, 3),
    "00000000001011": (10, 0), "00000000001010": (10, 1), "00000000001101": (10, 2), "0000000001100": (10, 3),
    "000000000001111": (11, 0), "000000000001110": (11, 1), "00000000001001": (11, 2), "00000000001100": (11, 3),
    "000000000001011": (12, 0), "000000000001010": (12, 1), "000000000001101": (12, 2), "00000000001000": (12, 3),
    "0000000000001111": (13, 0), "000000000000001": (13, 1), "000000000001001": (13, 2), "000000000001100": (13, 3),
    "0000000000001011": (14, 0), "0000000000001110": (14, 1), "0000000000001101": (14, 2), "000000000001000": (14, 3),
    "0000000000000111": (15, 0), "0000000000001010": (15, 1), "0000000000001001": (15, 2), "0000000000001100": (15, 3),
    "0000000000000100": (16, 0), "0000000000000110": (16, 1), "0000000000000101": (16, 2), "0000000000001000": (16, 3),
}

_CT_NC2 = {  # 2 <= nC < 4
    "11": (0, 0),
    "001011": (1, 0), "10": (1, 1),
    "000111": (2, 0), "00111": (2, 1), "011": (2, 2),
    "0000111": (3, 0), "001010": (3, 1), "001001": (3, 2), "0101": (3, 3),
    "00000111": (4, 0), "000110": (4, 1), "000101": (4, 2), "0100": (4, 3),
    "00000100": (5, 0), "0000110": (5, 1), "0000101": (5, 2), "00110": (5, 3),
    "000000111": (6, 0), "00000110": (6, 1), "00000101": (6, 2), "001000": (6, 3),
    "00000001111": (7, 0), "000000110": (7, 1), "000000101": (7, 2), "000100": (7, 3),
    "00000001011": (8, 0), "00000001110": (8, 1), "00000001101": (8, 2), "0000100": (8, 3),
    "000000001111": (9, 0), "00000001010": (9, 1), "00000001001": (9, 2), "000000100": (9, 3),
    "000000001011": (10, 0), "000000001110": (10, 1), "000000001101": (10, 2), "00000001100": (10, 3),
    "000000001000": (11, 0), "000000001010": (11, 1), "000000001001": (11, 2), "00000001000": (11, 3),
    "0000000001111": (12, 0), "0000000001110": (12, 1), "0000000001101": (12, 2), "000000001100": (12, 3),
    "0000000001011": (13, 0), "0000000001010": (13, 1), "0000000001001": (13, 2), "0000000001100": (13, 3),
    "0000000000111": (14, 0), "00000000001011": (14, 1), "0000000000110": (14, 2), "0000000001000": (14, 3),
    "00000000001001": (15, 0), "00000000001000": (15, 1), "00000000001010": (15, 2), "0000000000001": (15, 3),
    "00000000000111": (16, 0), "00000000000110": (16, 1), "00000000000101": (16, 2), "00000000000100": (16, 3),
}

_CT_NC4 = {  # 4 <= nC < 8
    "1111": (0, 0),
    "001111": (1, 0), "1110": (1, 1),
    "001011": (2, 0), "01111": (2, 1), "1101": (2, 2),
    "001000": (3, 0), "01100": (3, 1), "01110": (3, 2), "1100": (3, 3),
    "0001111": (4, 0), "01010": (4, 1), "01011": (4, 2), "1011": (4, 3),
    "0001011": (5, 0), "01000": (5, 1), "01001": (5, 2), "1010": (5, 3),
    "0001001": (6, 0), "001110": (6, 1), "001101": (6, 2), "1001": (6, 3),
    "0001000": (7, 0), "001010": (7, 1), "001001": (7, 2), "1000": (7, 3),
    "00001111": (8, 0), "0001110": (8, 1), "0001101": (8, 2), "01101": (8, 3),
    "00001011": (9, 0), "00001110": (9, 1), "0001010": (9, 2), "001100": (9, 3),
    "000001111": (10, 0), "00001010": (10, 1), "00001101": (10, 2), "0001100": (10, 3),
    "000001011": (11, 0), "000001110": (11, 1), "00001001": (11, 2), "00001100": (11, 3),
    "000001000": (12, 0), "000001010": (12, 1), "000001101": (12, 2), "00001000": (12, 3),
    "0000001101": (13, 0), "000000111": (13, 1), "000001001": (13, 2), "000001100": (13, 3),
    "0000001001": (14, 0), "0000001100": (14, 1), "0000001011": (14, 2), "0000001010": (14, 3),
    "0000000101": (15, 0), "0000001000": (15, 1), "0000000111": (15, 2), "0000000110": (15, 3),
    "0000000001": (16, 0), "0000000100": (16, 1), "0000000011": (16, 2), "0000000010": (16, 3),
}

_CT_CHROMA_DC = {  # nC == -1 (chroma DC, 4:2:0 — max 4 coeffs)
    "01": (0, 0),
    "000111": (1, 0), "1": (1, 1),
    "000100": (2, 0), "000110": (2, 1), "001": (2, 2),
    "000011": (3, 0), "0000011": (3, 1), "0000010": (3, 2), "000101": (3, 3),
    "000010": (4, 0), "00000011": (4, 1), "00000010": (4, 2), "0000000": (4, 3),
}


def _ct_flc() -> dict[str, tuple[int, int]]:
    """nC >= 8: 6-bit FLC, code = 4·(TotalCoeff−1)+T1s; (0,0) = 000011."""
    t = {"000011": (0, 0)}
    for tc in range(1, 17):
        for t1 in range(0, min(3, tc) + 1):
            t[format(4 * (tc - 1) + t1, "06b")] = (tc, t1)
    return t


_CT_FLC = _ct_flc()


def coeff_token_table(nc: int) -> dict[str, tuple[int, int]]:
    if nc == -1:
        return _CT_CHROMA_DC
    if nc < 2:
        return _CT_NC0
    if nc < 4:
        return _CT_NC2
    if nc < 8:
        return _CT_NC4
    return _CT_FLC


# Table 9-7 / 9-8: total_zeros for 4x4 blocks, indexed by TotalCoeff.
_TOTAL_ZEROS_4x4 = {
    1: {"1": 0, "011": 1, "010": 2, "0011": 3, "0010": 4, "00011": 5,
        "00010": 6, "000011": 7, "000010": 8, "0000011": 9, "0000010": 10,
        "00000011": 11, "00000010": 12, "000000011": 13, "000000010": 14,
        "000000001": 15},
    2: {"111": 0, "110": 1, "101": 2, "100": 3, "011": 4, "0101": 5,
        "0100": 6, "0011": 7, "0010": 8, "00011": 9, "00010": 10,
        "000011": 11, "000010": 12, "000001": 13, "000000": 14},
    3: {"0101": 0, "111": 1, "110": 2, "101": 3, "0100": 4, "0011": 5,
        "100": 6, "011": 7, "0010": 8, "00011": 9, "00010": 10,
        "000001": 11, "00001": 12, "000000": 13},
    4: {"00011": 0, "111": 1, "0101": 2, "0100": 3, "110": 4, "101": 5,
        "100": 6, "0011": 7, "011": 8, "0010": 9, "00010": 10,
        "00001": 11, "00000": 12},
    5: {"0101": 0, "0100": 1, "0011": 2, "111": 3, "110": 4, "101": 5,
        "100": 6, "011": 7, "0010": 8, "00001": 9, "0001": 10, "00000": 11},
    6: {"000001": 0, "00001": 1, "111": 2, "110": 3, "101": 4, "100": 5,
        "011": 6, "010": 7, "0001": 8, "001": 9, "000000": 10},
    7: {"000001": 0, "00001": 1, "101": 2, "100": 3, "011": 4, "11": 5,
        "010": 6, "0001": 7, "001": 8, "000000": 9},
    8: {"000001": 0, "0001": 1, "00001": 2, "011": 3, "11": 4, "10": 5,
        "010": 6, "001": 7, "000000": 8},
    9: {"000001": 0, "000000": 1, "0001": 2, "11": 3, "10": 4, "001": 5,
        "01": 6, "00001": 7},
    10: {"00001": 0, "00000": 1, "001": 2, "11": 3, "10": 4, "01": 5,
         "0001": 6},
    11: {"0000": 0, "0001": 1, "001": 2, "010": 3, "1": 4, "011": 5},
    12: {"0000": 0, "0001": 1, "01": 2, "1": 3, "001": 4},
    13: {"000": 0, "001": 1, "1": 2, "01": 3},
    14: {"00": 0, "01": 1, "1": 2},
    15: {"0": 0, "1": 1},
}

# Table 9-9(a): total_zeros for chroma DC (4:2:0), by TotalCoeff.
_TOTAL_ZEROS_CDC = {
    1: {"1": 0, "01": 1, "001": 2, "000": 3},
    2: {"1": 0, "01": 1, "00": 2},
    3: {"1": 0, "0": 1},
}

# Table 9-10: run_before, by zerosLeft (capped at 7 == ">6").
_RUN_BEFORE = {
    1: {"1": 0, "0": 1},
    2: {"1": 0, "01": 1, "00": 2},
    3: {"11": 0, "10": 1, "01": 2, "00": 3},
    4: {"11": 0, "10": 1, "01": 2, "001": 3, "000": 4},
    5: {"11": 0, "10": 1, "011": 2, "010": 3, "001": 4, "000": 5},
    6: {"11": 0, "000": 1, "001": 2, "011": 3, "010": 4, "101": 5, "100": 6},
}


def _run_before_gt6() -> dict[str, int]:
    t = {"111": 0, "110": 1, "101": 2, "100": 3, "011": 4, "010": 5,
         "001": 6}
    # 7..14: 0001, 00001, ... (zeros then a 1)
    for r in range(7, 15):
        t["0" * (r - 4) + "1"] = r
    return t


_RUN_BEFORE_GT6 = _run_before_gt6()


def run_before_table(zeros_left: int) -> dict[str, int]:
    return _RUN_BEFORE[zeros_left] if zeros_left <= 6 else _RUN_BEFORE_GT6


def _invert(table: dict[str, object]) -> dict[object, str]:
    return {v: k for k, v in table.items()}


# Flat lookup tables built lazily per VLC dict (r10 VERDICT task 2):
# peek maxlen bits once, index an array of (value, code_length) — O(1)
# per symbol instead of one dict probe per BIT. The string tables stay
# the source of truth (tests validate them structurally); LUTs are a
# derived view keyed by table identity (all tables are module-level
# constants, so ids are stable for the process lifetime).
_VLC_LUTS: dict[int, tuple[list, int]] = {}


def _vlc_lut(table: dict[str, object]) -> tuple[list, int]:
    got = _VLC_LUTS.get(id(table))
    if got is None:
        max_len = max(len(c) for c in table)
        lut: list = [None] * (1 << max_len)
        for code, val in table.items():
            base = int(code, 2) << (max_len - len(code))
            entry = (val, len(code))
            for i in range(1 << (max_len - len(code))):
                lut[base + i] = entry
        # the cached TABLE reference pins its id for the process
        # lifetime — without it a garbage-collected transient table
        # could hand its id to a different dict and serve a silently
        # WRONG LUT (the module's own tables are immortal; this guards
        # any future external caller)
        got = (lut, max_len, table)
        _VLC_LUTS[id(table)] = got
    return got[0], got[1]


# eager LUTs for the block-decode hot path (built once at import; the
# lazy _vlc_lut cache serves everything else)
_CT_LUT_CDC = _vlc_lut(_CT_CHROMA_DC)
_CT_LUT_NC0 = _vlc_lut(_CT_NC0)
_CT_LUT_NC2 = _vlc_lut(_CT_NC2)
_CT_LUT_NC4 = _vlc_lut(_CT_NC4)
_CT_LUT_FLC = _vlc_lut(_CT_FLC)


# ---------------------------------------------------------------------
# CAVLC residual block codec (§9.2.1-9.2.4)
# ---------------------------------------------------------------------


def cavlc_decode_block(r: BitReader, nc: int, max_coeffs: int) -> list[int]:
    """Decode one residual block as a zig-zag-ordered coefficient list
    of length ``max_coeffs`` (16 for 4x4, 15 for AC-only, 4 for chroma
    DC). ``nc`` is the coeff_token context.

    Hot path (r10 VERDICT task 2): every VLC decode is one window peek
    + one flat-LUT index, and each level's prefix+suffix is extracted
    from a single 32-bit peek — no per-bit reads anywhere on the
    conformant path."""
    if nc < 0:
        lut, max_len = _CT_LUT_CDC
    elif nc < 2:
        lut, max_len = _CT_LUT_NC0
    elif nc < 4:
        lut, max_len = _CT_LUT_NC2
    elif nc < 8:
        lut, max_len = _CT_LUT_NC4
    else:
        lut, max_len = _CT_LUT_FLC
    ent = lut[r.peek_bits(max_len)]
    if ent is None or r.pos + ent[1] > r.nbits:
        raise ValueError("invalid coeff_token codeword")
    r.pos += ent[1]
    total_coeff, trailing_ones = ent[0]
    coeffs = [0] * max_coeffs
    if total_coeff == 0:
        return coeffs
    levels: list[int] = []
    if trailing_ones:
        signs = r.read_bits(trailing_ones)
        for k in range(trailing_ones - 1, -1, -1):
            levels.append(-1 if (signs >> k) & 1 else 1)
    suffix_length = 1 if (total_coeff > 10 and trailing_ones < 3) else 0
    for i in range(trailing_ones, total_coeff):
        # level_prefix (§9.2.2.1) + suffix from ONE 32-bit window; the
        # window zero-pads past the stream end, so the explicit nbits
        # check below keeps the overrun error model
        win = r.peek_bits(32)
        if win:
            prefix = 32 - win.bit_length()
        else:
            # >=32 leading zeros: walk the (corrupt-stream) tail bit
            # by bit so the >40 guard and overrun errors stay exact
            prefix = 32
            r.pos += 32
            while r.read_bit() == 0:
                prefix += 1
                if prefix > 40:
                    raise ValueError("level_prefix overrun")
        if prefix == 14 and suffix_length == 0:
            suffix_size = 4
        elif prefix >= 15:
            suffix_size = prefix - 3
        else:
            suffix_size = suffix_length
        if win:
            total_len = prefix + 1 + suffix_size
            if total_len <= 32:
                if r.pos + total_len > r.nbits:
                    raise ValueError("bitstream overrun")
                suffix = (win >> (32 - total_len)) & ((1 << suffix_size) - 1)
                r.pos += total_len
            else:
                r.pos += prefix + 1
                suffix = r.read_bits(suffix_size)
        else:
            suffix = r.read_bits(suffix_size) if suffix_size else 0
        level_code = ((prefix if prefix < 15 else 15) << suffix_length) + suffix
        if prefix >= 15 and suffix_length == 0:
            level_code += 15
        if prefix >= 16:
            level_code += (1 << (prefix - 3)) - 4096
        if i == trailing_ones and trailing_ones < 3:
            level_code += 2
        level = (level_code + 2) >> 1 if level_code % 2 == 0 else -((level_code + 1) >> 1)
        levels.append(level)
        if suffix_length == 0:
            suffix_length = 1
        if abs(level) > (3 << (suffix_length - 1)) and suffix_length < 6:
            suffix_length += 1
    # total_zeros
    if total_coeff < max_coeffs:
        if max_coeffs == 4:  # chroma DC
            tz_table = _TOTAL_ZEROS_CDC[total_coeff]
        else:
            tz_table = _TOTAL_ZEROS_4x4[total_coeff]
        lut, max_len = _vlc_lut(tz_table)
        ent = lut[r.peek_bits(max_len)]
        if ent is None or r.pos + ent[1] > r.nbits:
            raise ValueError("invalid total_zeros codeword")
        r.pos += ent[1]
        total_zeros = ent[0]
        # §9.2.3: TotalCoeff + total_zeros bounds the highest-frequency
        # position; a malformed stream can pair a legal coeff_token with
        # a legal total_zeros whose SUM overruns the block (e.g.
        # TotalCoeff=14, total_zeros=2 in a 15-coeff AC block → pos 15)
        # — keep the module's documented ValueError error model instead
        # of surfacing a raw IndexError (r10 ADVICE item 3)
        if total_coeff + total_zeros > max_coeffs:
            raise ValueError(
                "corrupt CAVLC block: TotalCoeff + total_zeros "
                f"({total_coeff}+{total_zeros}) exceeds {max_coeffs}"
            )
    else:
        total_zeros = 0
    # runs (high-frequency first)
    runs = [0] * total_coeff
    zeros_left = total_zeros
    for i in range(total_coeff - 1):
        if zeros_left <= 0:
            break
        lut, max_len = _vlc_lut(run_before_table(zeros_left))
        ent = lut[r.peek_bits(max_len)]
        if ent is None or r.pos + ent[1] > r.nbits:
            raise ValueError("invalid run_before codeword")
        r.pos += ent[1]
        run = ent[0]
        # the zerosLeft>6 table's escape codes admit runs up to 14, so a
        # corrupt stream can claim run > zeros_left — which would drive
        # the final implicit run negative and walk `pos` back UP past
        # its bound below
        if run > zeros_left:
            raise ValueError("corrupt CAVLC block: run_before overrun")
        runs[i] = run
        zeros_left -= run
    runs[total_coeff - 1] = zeros_left if total_coeff >= 1 else 0
    # place coefficients: levels[0] is the HIGHEST-frequency coeff
    pos = total_coeff - 1 + total_zeros
    for i in range(total_coeff):
        if pos < 0:
            raise ValueError("corrupt CAVLC block: run_before underrun")
        coeffs[pos] = levels[i]
        pos -= 1 + runs[i]
    return coeffs


def cavlc_encode_block(w: BitWriter, coeffs: list[int], nc: int) -> int:
    """Encode a zig-zag coefficient list; returns TotalCoeff (the
    value neighbor contexts need). Inverse of cavlc_decode_block."""
    max_coeffs = len(coeffs)
    nz = [(i, c) for i, c in enumerate(coeffs) if c != 0]
    total_coeff = len(nz)
    # trailing ones: up to 3 |1| coefficients at the high-freq end
    trailing_ones = 0
    for _, c in reversed(nz):
        if abs(c) == 1 and trailing_ones < 3:
            trailing_ones += 1
        else:
            break
    ct_inv = _invert(coeff_token_table(nc))
    w.write_str(ct_inv[(total_coeff, trailing_ones)])
    if total_coeff == 0:
        return 0
    ordered = [c for _, c in reversed(nz)]  # high-frequency first
    for c in ordered[:trailing_ones]:
        w.write_bit(1 if c < 0 else 0)
    suffix_length = 1 if (total_coeff > 10 and trailing_ones < 3) else 0
    for i in range(trailing_ones, total_coeff):
        level = ordered[i]
        level_code = (2 * level - 2) if level > 0 else (-2 * level - 1)
        if i == trailing_ones and trailing_ones < 3:
            level_code -= 2
        # exact inverse of the decoder's §9.2.2.1 levelCode formula
        if suffix_length == 0:
            if level_code < 14:
                w.write_str("0" * level_code + "1")
            elif level_code < 30:
                w.write_str("0" * 14 + "1")
                w.write_bits(level_code - 14, 4)
            else:
                lc = level_code - 30  # prefix-15 escape, 12-bit suffix
                prefix = 15
                while lc >= (1 << (prefix - 3)):
                    lc -= 1 << (prefix - 3)
                    prefix += 1
                w.write_str("0" * prefix + "1")
                w.write_bits(lc, prefix - 3)
        else:
            if level_code < (15 << suffix_length):
                w.write_str("0" * (level_code >> suffix_length) + "1")
                w.write_bits(level_code & ((1 << suffix_length) - 1), suffix_length)
            else:
                lc = level_code - (15 << suffix_length)
                prefix = 15
                while lc >= (1 << (prefix - 3)):
                    lc -= 1 << (prefix - 3)
                    prefix += 1
                w.write_str("0" * prefix + "1")
                w.write_bits(lc, prefix - 3)
        if suffix_length == 0:
            suffix_length = 1
        if abs(level) > (3 << (suffix_length - 1)) and suffix_length < 6:
            suffix_length += 1
    # total_zeros: zeros below the highest nonzero position
    highest = nz[-1][0]
    total_zeros = highest + 1 - total_coeff
    if total_coeff < max_coeffs:
        if max_coeffs == 4:
            w.write_str(_invert(_TOTAL_ZEROS_CDC[total_coeff])[total_zeros])
        else:
            w.write_str(_invert(_TOTAL_ZEROS_4x4[total_coeff])[total_zeros])
    # run_before per coefficient, high-frequency first
    positions = [i for i, _ in reversed(nz)]
    zeros_left = total_zeros
    for i in range(total_coeff - 1):
        if zeros_left <= 0:
            break
        run = positions[i] - positions[i + 1] - 1
        w.write_str(_invert(run_before_table(zeros_left))[run])
        zeros_left -= run
    return total_coeff


# ---------------------------------------------------------------------
# Headers: SPS / PPS / slice header (§7.3.2)
# ---------------------------------------------------------------------


class SPS:
    def __init__(self):
        self.profile_idc = 66
        self.level_idc = 30
        self.log2_max_frame_num = 4
        self.pic_order_cnt_type = 2
        self.log2_max_poc_lsb = 4  # meaningful when pic_order_cnt_type == 0
        self.width_mbs = 0
        self.height_mbs = 0
        self.crop = (0, 0, 0, 0)  # left, right, top, bottom (luma px)


def parse_sps(rbsp: bytes) -> SPS:
    r = BitReader(rbsp)
    s = SPS()
    s.profile_idc = r.read_bits(8)
    r.read_bits(8)  # constraint flags + reserved
    s.level_idc = r.read_bits(8)
    r.ue()  # seq_parameter_set_id
    if s.profile_idc in (100, 110, 122, 244, 44, 83, 86, 118, 128):
        chroma_format_idc = r.ue()
        if chroma_format_idc != 1:
            raise NotImplementedError(
                f"chroma_format_idc {chroma_format_idc}: only 4:2:0 supported"
            )
        r.ue()  # bit_depth_luma_minus8
        r.ue()  # bit_depth_chroma_minus8
        r.read_bit()  # qpprime_y_zero_transform_bypass
        if r.read_bit():  # seq_scaling_matrix_present
            raise NotImplementedError("seq scaling matrices unsupported")
    s.log2_max_frame_num = r.ue() + 4
    s.pic_order_cnt_type = r.ue()
    if s.pic_order_cnt_type == 0:
        s.log2_max_poc_lsb = r.ue() + 4
    elif s.pic_order_cnt_type == 1:
        raise NotImplementedError("pic_order_cnt_type 1 unsupported")
    r.ue()  # max_num_ref_frames
    r.read_bit()  # gaps_in_frame_num_value_allowed
    s.width_mbs = r.ue() + 1
    s.height_mbs = r.ue() + 1
    if not r.read_bit():  # frame_mbs_only_flag
        raise NotImplementedError("interlaced (frame_mbs_only=0) unsupported")
    r.read_bit()  # direct_8x8_inference
    if r.read_bit():  # frame_cropping
        s.crop = (r.ue() * 2, r.ue() * 2, r.ue() * 2, r.ue() * 2)
    return s


class PPS:
    def __init__(self):
        self.pic_init_qp = 26
        self.chroma_qp_index_offset = 0
        self.deblocking_filter_control_present = False
        self.bottom_field_pic_order_present = False
        self.redundant_pic_cnt_present = False


def parse_pps(rbsp: bytes) -> PPS:
    r = BitReader(rbsp)
    p = PPS()
    r.ue()  # pps id
    r.ue()  # sps id
    if r.read_bit():  # entropy_coding_mode_flag
        raise NotImplementedError("CABAC entropy coding unsupported (CAVLC only)")
    p.bottom_field_pic_order_present = bool(r.read_bit())
    if r.ue() != 0:  # num_slice_groups_minus1
        raise NotImplementedError("slice groups (FMO) unsupported")
    r.ue()  # num_ref_idx_l0_default_active_minus1
    r.ue()  # num_ref_idx_l1_default_active_minus1
    r.read_bit()  # weighted_pred_flag
    r.read_bits(2)  # weighted_bipred_idc
    p.pic_init_qp = r.se() + 26
    r.se()  # pic_init_qs
    p.chroma_qp_index_offset = r.se()
    p.deblocking_filter_control_present = bool(r.read_bit())
    r.read_bit()  # constrained_intra_pred_flag
    p.redundant_pic_cnt_present = bool(r.read_bit())
    return p


def write_sps(s: SPS) -> bytes:
    w = BitWriter()
    w.write_bits(s.profile_idc, 8)
    w.write_bits(0, 8)
    w.write_bits(s.level_idc, 8)
    w.ue(0)  # sps id
    w.ue(s.log2_max_frame_num - 4)
    w.ue(s.pic_order_cnt_type)
    if s.pic_order_cnt_type == 0:  # the real-world default mode
        w.ue(s.log2_max_poc_lsb - 4)
    w.ue(1)  # max_num_ref_frames
    w.write_bit(0)  # gaps_in_frame_num
    w.ue(s.width_mbs - 1)
    w.ue(s.height_mbs - 1)
    w.write_bit(1)  # frame_mbs_only
    w.write_bit(0)  # direct_8x8_inference
    if any(s.crop):
        w.write_bit(1)
        for c in s.crop:
            w.ue(c // 2)
    else:
        w.write_bit(0)
    w.write_bit(0)  # vui_parameters_present
    w.rbsp_trailing()
    return w.tobytes()


def write_pps(p: PPS) -> bytes:
    w = BitWriter()
    w.ue(0)  # pps id
    w.ue(0)  # sps id
    w.write_bit(0)  # CAVLC
    w.write_bit(0)
    w.ue(0)  # one slice group
    w.ue(0)
    w.ue(0)
    w.write_bit(0)
    w.write_bits(0, 2)
    w.se(p.pic_init_qp - 26)
    w.se(0)
    w.se(p.chroma_qp_index_offset)
    w.write_bit(1 if p.deblocking_filter_control_present else 0)
    w.write_bit(0)  # constrained_intra_pred
    w.write_bit(0)  # redundant_pic_cnt_present
    w.rbsp_trailing()
    return w.tobytes()


# ---------------------------------------------------------------------
# Intra prediction (§8.3)
# ---------------------------------------------------------------------


def _pred4x4(mode: int, left, top, topleft, topright):
    """4x4 luma prediction. left/top are length-4 int arrays or None;
    topright length-4 or None (spec: unavailable top-right substitutes
    top[3]); topleft scalar or None."""
    p = np.zeros((4, 4), dtype=np.int64)
    if mode == 0:  # Vertical
        if top is None:
            raise ValueError("V prediction needs top")
        p[:] = top
    elif mode == 1:  # Horizontal
        if left is None:
            raise ValueError("H prediction needs left")
        p[:] = np.asarray(left).reshape(4, 1)
    elif mode == 2:  # DC
        if left is not None and top is not None:
            p[:] = (int(np.sum(left)) + int(np.sum(top)) + 4) >> 3
        elif left is not None:
            p[:] = (int(np.sum(left)) + 2) >> 2
        elif top is not None:
            p[:] = (int(np.sum(top)) + 2) >> 2
        else:
            p[:] = 128
    elif mode == 3:  # Diagonal down-left
        t = np.concatenate([top, topright if topright is not None else [top[3]] * 4])
        for y in range(4):
            for x in range(4):
                i = x + y
                if i == 6:
                    p[y, x] = (t[6] + 3 * t[7] + 2) >> 2
                else:
                    p[y, x] = (t[i] + 2 * t[i + 1] + t[i + 2] + 2) >> 2
    elif mode == 4:  # Diagonal down-right
        l, t, tl = np.asarray(left), np.asarray(top), int(topleft)
        for y in range(4):
            for x in range(4):
                if x > y:
                    p[y, x] = (t[x - y - 2] + 2 * t[x - y - 1] + t[x - y] + 2) >> 2 if x - y >= 2 else (
                        (tl + 2 * t[0] + t[1] + 2) >> 2 if x - y == 1 else 0)
                elif x < y:
                    p[y, x] = (l[y - x - 2] + 2 * l[y - x - 1] + l[y - x] + 2) >> 2 if y - x >= 2 else (
                        (tl + 2 * l[0] + l[1] + 2) >> 2 if y - x == 1 else 0)
                else:
                    p[y, x] = (t[0] + 2 * tl + l[0] + 2) >> 2
    elif mode == 5:  # Vertical-right
        l, t, tl = np.asarray(left), np.asarray(top), int(topleft)
        for y in range(4):
            for x in range(4):
                z = 2 * x - y
                if z >= 0 and z % 2 == 0:
                    i = x - (y >> 1)
                    p[y, x] = ((tl if i - 1 < 0 else t[i - 1]) + (t[i] if i >= 0 else tl) + 1) >> 1
                elif z >= 0:
                    i = x - (y >> 1)
                    a = tl if i - 2 < 0 else t[i - 2]
                    b = tl if i - 1 < 0 else t[i - 1]
                    p[y, x] = (a + 2 * b + t[i] + 2) >> 2
                elif z == -1:
                    p[y, x] = (l[0] + 2 * tl + t[0] + 2) >> 2
                else:
                    p[y, x] = (l[y - 1] + 2 * l[y - 2] + (l[y - 3] if y - 3 >= 0 else tl) + 2) >> 2
    elif mode == 6:  # Horizontal-down
        l, t, tl = np.asarray(left), np.asarray(top), int(topleft)
        for y in range(4):
            for x in range(4):
                z = 2 * y - x
                if z >= 0 and z % 2 == 0:
                    i = y - (x >> 1)
                    p[y, x] = ((tl if i - 1 < 0 else l[i - 1]) + (l[i] if i >= 0 else tl) + 1) >> 1
                elif z >= 0:
                    i = y - (x >> 1)
                    a = tl if i - 2 < 0 else l[i - 2]
                    b = tl if i - 1 < 0 else l[i - 1]
                    p[y, x] = (a + 2 * b + l[i] + 2) >> 2
                elif z == -1:
                    p[y, x] = (t[0] + 2 * tl + l[0] + 2) >> 2
                else:
                    p[y, x] = (t[x - 1] + 2 * t[x - 2] + (t[x - 3] if x - 3 >= 0 else tl) + 2) >> 2
    elif mode == 7:  # Vertical-left
        t = np.concatenate([top, topright if topright is not None else [top[3]] * 4])
        for y in range(4):
            for x in range(4):
                i = x + (y >> 1)
                if y % 2 == 0:
                    p[y, x] = (t[i] + t[i + 1] + 1) >> 1
                else:
                    p[y, x] = (t[i] + 2 * t[i + 1] + t[i + 2] + 2) >> 2
    elif mode == 8:  # Horizontal-up
        l = np.asarray(left)
        for y in range(4):
            for x in range(4):
                z = x + 2 * y
                if z > 5:
                    p[y, x] = l[3]
                elif z == 5:
                    p[y, x] = (l[2] + 3 * l[3] + 2) >> 2
                elif z % 2 == 0:
                    i = y + (x >> 1)
                    p[y, x] = (l[i] + l[i + 1] + 1) >> 1
                else:
                    i = y + (x >> 1)
                    p[y, x] = (l[i] + 2 * l[i + 1] + l[i + 2] + 2) >> 2
    else:
        raise ValueError(f"bad intra4x4 mode {mode}")
    return p


def _pred16x16(mode: int, left, top, topleft):
    p = np.zeros((16, 16), dtype=np.int64)
    if mode == 0:  # V
        p[:] = top
    elif mode == 1:  # H
        p[:] = np.asarray(left).reshape(16, 1)
    elif mode == 2:  # DC
        if left is not None and top is not None:
            p[:] = (int(np.sum(left)) + int(np.sum(top)) + 16) >> 5
        elif left is not None:
            p[:] = (int(np.sum(left)) + 8) >> 4
        elif top is not None:
            p[:] = (int(np.sum(top)) + 8) >> 4
        else:
            p[:] = 128
    elif mode == 3:  # Plane (§8.3.3.4)
        l, t, tl = np.asarray(left, dtype=np.int64), np.asarray(top, dtype=np.int64), int(topleft)
        h = sum((x + 1) * (int(t[8 + x]) - (int(t[6 - x]) if 6 - x >= 0 else tl)) for x in range(8))
        v = sum((y + 1) * (int(l[8 + y]) - (int(l[6 - y]) if 6 - y >= 0 else tl)) for y in range(8))
        a = 16 * (int(l[15]) + int(t[15]))
        b = (5 * h + 32) >> 6
        c = (5 * v + 32) >> 6
        xs = np.arange(16, dtype=np.int64) - 7
        p = np.clip((a + b * xs + c * xs.reshape(16, 1) + 16) >> 5, 0, 255)
    else:
        raise ValueError(f"bad intra16x16 mode {mode}")
    return p


def _pred_chroma(mode: int, left, top, topleft):
    """8x8 chroma prediction; mode order DC,H,V,Plane (§8.3.4 —
    NB: differs from the 16x16 mode order)."""
    p = np.zeros((8, 8), dtype=np.int64)
    if mode == 0:  # DC per 4x4 quadrant (§8.3.4.1)
        for qy in (0, 4):
            for qx in (0, 4):
                lpart = None if left is None else np.asarray(left)[qy : qy + 4]
                tpart = None if top is None else np.asarray(top)[qx : qx + 4]
                # corner quadrants prefer BOTH; off-corner quadrants use
                # the spec's specific preference order
                if qx == 0 and qy == 0 or qx == 4 and qy == 4:
                    if lpart is not None and tpart is not None:
                        v = (int(np.sum(lpart)) + int(np.sum(tpart)) + 4) >> 3
                    elif lpart is not None:
                        v = (int(np.sum(lpart)) + 2) >> 2
                    elif tpart is not None:
                        v = (int(np.sum(tpart)) + 2) >> 2
                    else:
                        v = 128
                elif qx == 4 and qy == 0:  # prefers top
                    if tpart is not None:
                        v = (int(np.sum(tpart)) + 2) >> 2
                    elif lpart is not None:
                        v = (int(np.sum(lpart)) + 2) >> 2
                    else:
                        v = 128
                else:  # (0,4) prefers left
                    if lpart is not None:
                        v = (int(np.sum(lpart)) + 2) >> 2
                    elif tpart is not None:
                        v = (int(np.sum(tpart)) + 2) >> 2
                    else:
                        v = 128
                p[qy : qy + 4, qx : qx + 4] = v
    elif mode == 1:  # H
        p[:] = np.asarray(left).reshape(8, 1)
    elif mode == 2:  # V
        p[:] = top
    elif mode == 3:  # Plane
        l, t, tl = np.asarray(left, dtype=np.int64), np.asarray(top, dtype=np.int64), int(topleft)
        h = sum((x + 1) * (int(t[4 + x]) - (int(t[2 - x]) if 2 - x >= 0 else tl)) for x in range(4))
        v = sum((y + 1) * (int(l[4 + y]) - (int(l[2 - y]) if 2 - y >= 0 else tl)) for y in range(4))
        a = 16 * (int(l[7]) + int(t[7]))
        b = (17 * h + 16) >> 5
        c = (17 * v + 16) >> 5
        xs = np.arange(8, dtype=np.int64) - 3
        p = np.clip((a + b * xs + c * xs.reshape(8, 1) + 16) >> 5, 0, 255)
    else:
        raise ValueError(f"bad chroma mode {mode}")
    return p


# ---------------------------------------------------------------------
# coded_block_pattern me(v) mapping for Intra (Table 9-4, col 0)
# ---------------------------------------------------------------------

_CBP_INTRA = [
    47, 31, 15, 0, 23, 27, 29, 30, 7, 11, 13, 14, 39, 43, 45, 46,
    16, 3, 5, 10, 12, 19, 21, 26, 28, 35, 37, 42, 44, 1, 2, 4,
    8, 17, 18, 20, 24, 6, 9, 22, 25, 32, 33, 34, 36, 40, 38, 41,
]
_CBP_INTRA_INV = {cbp: i for i, cbp in enumerate(_CBP_INTRA)}

#: luma 4x4 block scan order within a macroblock → (bx, by) in 4px units
_BLK4 = [
    (2 * ((i >> 2) & 1) + (i & 1), 2 * ((i >> 3) & 1) + ((i >> 1) & 1))
    for i in range(16)
]
_BLK4_BX = np.array([bx for bx, _ in _BLK4])
_BLK4_BY = np.array([by for _, by in _BLK4])


class _FrameState:
    """Reconstruction + entropy-context state shared by the decoder and
    the encoder's in-loop reconstruction (they must match bit-exactly)."""

    def __init__(self, width_mbs: int, height_mbs: int):
        self.wmb, self.hmb = width_mbs, height_mbs
        self.Y = np.zeros((height_mbs * 16, width_mbs * 16), dtype=np.int64)
        self.Cb = np.zeros((height_mbs * 8, width_mbs * 8), dtype=np.int64)
        self.Cr = np.zeros((height_mbs * 8, width_mbs * 8), dtype=np.int64)
        # per-4x4 total_coeff maps for nC contexts (−1 = not decoded yet)
        self.nzY = np.full((height_mbs * 4, width_mbs * 4), -1, dtype=np.int64)
        self.nzC = [
            np.full((height_mbs * 2, width_mbs * 2), -1, dtype=np.int64)
            for _ in range(2)
        ]
        # per-4x4 intra4x4 mode map (2 = DC default for non-I4x4 MBs)
        self.modeY = np.full((height_mbs * 4, width_mbs * 4), 2, dtype=np.int64)
        # slice membership per MB (−1 = not yet decoded). §6.4.9:
        # neighbors in a DIFFERENT slice are unavailable for intra
        # prediction, predicted modes AND nC contexts — that is what
        # makes slices independently decodable. cur_slice is set by the
        # slice loop; an MB joins mb_slice at decode START so in-MB
        # block neighbors resolve.
        self.mb_slice = np.full((height_mbs, width_mbs), -1, dtype=np.int64)
        self.cur_slice = 0
        # per-MB QPY for the §8.7 deblocking filter (0 for I_PCM per
        # §8.7.2; −1 = MB not decoded)
        self.mb_qp = np.full((height_mbs, width_mbs), -1, dtype=np.int64)

    def avail_mb(self, mbx: int, mby: int) -> bool:
        return (
            0 <= mbx < self.wmb
            and 0 <= mby < self.hmb
            and int(self.mb_slice[mby, mbx]) == self.cur_slice
        )

    # -- nC context (§9.2.1) ------------------------------------------

    def _nz_at(self, grid: np.ndarray, gx: int, gy: int, per_mb: int) -> int | None:
        if gx < 0 or gy < 0 or gy >= grid.shape[0] or gx >= grid.shape[1]:
            return None
        if not self.avail_mb(gx // per_mb, gy // per_mb):
            return None
        v = int(grid[gy, gx])
        return None if v < 0 else v

    def nc_luma(self, gx: int, gy: int) -> int:
        na = self._nz_at(self.nzY, gx - 1, gy, 4)
        nb = self._nz_at(self.nzY, gx, gy - 1, 4)
        if na is not None and nb is not None:
            return (na + nb + 1) >> 1
        if na is not None:
            return na
        if nb is not None:
            return nb
        return 0

    def nc_chroma(self, comp: int, gx: int, gy: int) -> int:
        g = self.nzC[comp]
        na = self._nz_at(g, gx - 1, gy, 2)
        nb = self._nz_at(g, gx, gy - 1, 2)
        if na is not None and nb is not None:
            return (na + nb + 1) >> 1
        if na is not None:
            return na
        if nb is not None:
            return nb
        return 0

    # -- neighbor samples for prediction ------------------------------

    def luma_neighbors4(self, gx: int, gy: int, blk_idx: int, mbx: int, mby: int):
        """(left[4], top[4], topleft, topright[4]) for the 4x4 luma
        block at global 4x4 coords (gx, gy); None where unavailable
        (frame edge, different slice). Top-right availability also
        follows DECODING order (§8.3.1)."""
        x, y = gx * 4, gy * 4
        left = (
            self.Y[y : y + 4, x - 1]
            if x > 0 and self.avail_mb((gx - 1) // 4, gy // 4)
            else None
        )
        top = (
            self.Y[y - 1, x : x + 4]
            if y > 0 and self.avail_mb(gx // 4, (gy - 1) // 4)
            else None
        )
        topleft = (
            self.Y[y - 1, x - 1]
            if x > 0 and y > 0 and self.avail_mb((gx - 1) // 4, (gy - 1) // 4)
            else None
        )
        topright = None
        if y > 0 and x + 4 < self.Y.shape[1]:
            # the 4x4 block containing (gx+1, gy-1): decoded already,
            # in THIS slice?
            tmbx, tmby = (gx + 1) // 4, (gy - 1) // 4
            if (tmby, tmbx) == (mby, mbx):
                tb = _BLK4.index(((gx + 1) % 4, (gy - 1) % 4))
                ok = tb < blk_idx
            else:
                ok = (tmby, tmbx) < (mby, mbx) and self.avail_mb(tmbx, tmby)
            if ok:
                topright = self.Y[y - 1, x + 4 : x + 8]
        return left, top, topleft, topright

    def mb_neighbors16(self, mbx: int, mby: int):
        x, y = mbx * 16, mby * 16
        left = self.Y[y : y + 16, x - 1] if self.avail_mb(mbx - 1, mby) else None
        top = self.Y[y - 1, x : x + 16] if self.avail_mb(mbx, mby - 1) else None
        topleft = (
            self.Y[y - 1, x - 1] if self.avail_mb(mbx - 1, mby - 1) else None
        )
        return left, top, topleft

    def mb_neighbors_chroma(self, comp: int, mbx: int, mby: int):
        pl = self.Cb if comp == 0 else self.Cr
        x, y = mbx * 8, mby * 8
        left = pl[y : y + 8, x - 1] if self.avail_mb(mbx - 1, mby) else None
        top = pl[y - 1, x : x + 8] if self.avail_mb(mbx, mby - 1) else None
        topleft = pl[y - 1, x - 1] if self.avail_mb(mbx - 1, mby - 1) else None
        return left, top, topleft

    def pred_mode4(self, gx: int, gy: int) -> int:
        """predIntra4x4PredMode = min(modeA, modeB), 2 when a neighbor
        is unavailable (frame edge, other slice) or not Intra_4x4
        (§8.3.1.1; the modeY grid holds 2 for non-I4x4 macroblocks by
        construction)."""
        ma = (
            int(self.modeY[gy, gx - 1])
            if gx > 0 and self.avail_mb((gx - 1) // 4, gy // 4)
            else 2
        )
        mb = (
            int(self.modeY[gy - 1, gx])
            if gy > 0 and self.avail_mb(gx // 4, (gy - 1) // 4)
            else 2
        )
        return min(ma, mb)


def _zigzag_to_block(coeffs: list[int]) -> np.ndarray:
    b = np.zeros(16, dtype=np.int64)
    for i, c in enumerate(coeffs):
        b[ZIGZAG4[i]] = c
    return b.reshape(4, 4)


_ZZTARGET = np.array(ZIGZAG4, dtype=np.int64)


def _zigzag_to_blocks(rows: list[list[int]]) -> np.ndarray:
    """Batched _zigzag_to_block: a list of N zig-zag coefficient lists
    (length 16, or 15 for AC-only blocks whose DC slot is implicit 0)
    → one (N, 4, 4) stack via a single fancy-index scatter."""
    arr = np.asarray(rows, dtype=np.int64)
    out = np.zeros((arr.shape[0], 16), dtype=np.int64)
    out[:, _ZZTARGET[16 - arr.shape[1] :]] = arr
    return out.reshape(-1, 4, 4)


def _block_to_zigzag(block: np.ndarray) -> list[int]:
    flat = block.reshape(16)
    return [int(flat[ZIGZAG4[i]]) for i in range(16)]


def _clip255(a: np.ndarray) -> np.ndarray:
    return np.clip(a, 0, 255)


# ---------------------------------------------------------------------
# I-slice macroblock decoding (§7.3.5 / §8.3 / §8.5)
# ---------------------------------------------------------------------


def _decode_residual_luma4(r, st, gx, gy, max_coeffs):
    nc = st.nc_luma(gx, gy)
    coeffs = cavlc_decode_block(r, nc, max_coeffs)
    st.nzY[gy, gx] = sum(1 for c in coeffs if c)
    return coeffs


def _decode_mb(r, st: _FrameState, mbx: int, mby: int, qp: int, pps: PPS) -> int:
    """Decode one I-slice macroblock into the frame state; returns the
    (possibly updated) slice QP."""
    mb_type = r.ue()
    if mb_type > 25:
        raise ValueError(f"invalid I-slice mb_type {mb_type}")
    st.mb_slice[mby, mbx] = st.cur_slice  # joins the slice at decode START
    y0, x0 = mby * 16, mbx * 16

    if mb_type == 25:  # I_PCM (§7.3.5: align then raw samples)
        r.byte_align()
        for yy in range(16):
            for xx in range(16):
                st.Y[y0 + yy, x0 + xx] = r.read_bits(8)
        for plane in (st.Cb, st.Cr):
            for yy in range(8):
                for xx in range(8):
                    plane[mby * 8 + yy, mbx * 8 + xx] = r.read_bits(8)
        st.nzY[mby * 4 : mby * 4 + 4, mbx * 4 : mbx * 4 + 4] = 16
        for c in range(2):
            st.nzC[c][mby * 2 : mby * 2 + 2, mbx * 2 : mbx * 2 + 2] = 16
        st.modeY[mby * 4 : mby * 4 + 4, mbx * 4 : mbx * 4 + 4] = 2
        st.mb_qp[mby, mbx] = 0  # I_PCM deblocks at QPY 0 (§8.7.2)
        return qp

    if mb_type == 0:  # I_NxN = Intra_4x4
        modes = []
        for b in range(16):
            gx, gy = mbx * 4 + _BLK4[b][0], mby * 4 + _BLK4[b][1]
            pred = st.pred_mode4(gx, gy)
            if r.read_bit():
                mode = pred
            else:
                rem = r.read_bits(3)
                mode = rem if rem < pred else rem + 1
            modes.append(mode)
            st.modeY[gy, gx] = mode
        chroma_mode = r.ue()
        cbp = _CBP_INTRA[r.ue()]
        cbp_luma, cbp_chroma = cbp & 15, cbp >> 4
        if cbp:
            # §7.4.5: QPY wraps mod 52 — a conformant delta may cross 0/51
            qp = (qp + r.se() + 52) % 52
        # parse luma residual for all 16 blocks (8x8 order), THEN
        # reconstruct in block order (intra pred needs in-MB neighbors)
        luma_coeffs: list[list[int]] = []
        for b in range(16):
            gx, gy = mbx * 4 + _BLK4[b][0], mby * 4 + _BLK4[b][1]
            if cbp_luma & (1 << (b // 4)):
                luma_coeffs.append(_decode_residual_luma4(r, st, gx, gy, 16))
            else:
                st.nzY[gy, gx] = 0
                luma_coeffs.append([0] * 16)
        _parse_and_add_chroma(r, st, mbx, mby, qp, pps, cbp_chroma,
                              chroma_mode)
        # residuals are prediction-independent: dequant + inverse-
        # transform all 16 blocks in ONE batched call; only the
        # prediction+add walk stays sequential (intra pred needs the
        # just-reconstructed in-MB neighbors)
        res_all = inv_core_transform(dequant4x4(_zigzag_to_blocks(luma_coeffs), qp))
        for b in range(16):
            bx, by = _BLK4[b]
            gx, gy = mbx * 4 + bx, mby * 4 + by
            left, top, topleft, topright = st.luma_neighbors4(gx, gy, b, mbx, mby)
            p = _pred4x4(modes[b], left, top, topleft, topright)
            st.Y[gy * 4 : gy * 4 + 4, gx * 4 : gx * 4 + 4] = _clip255(p + res_all[b])
        st.mb_qp[mby, mbx] = qp
        return qp

    # Intra_16x16 (§7.4.5 Table 7-11 decomposition)
    m = mb_type - 1
    pred_mode = m % 4
    cbp_chroma = (m // 4) % 3
    cbp_luma = 15 if m >= 12 else 0
    chroma_mode = r.ue()
    qp = (qp + r.se() + 52) % 52  # mb_qp_delta always present; mod-52 wrap
    st.modeY[mby * 4 : mby * 4 + 4, mbx * 4 : mbx * 4 + 4] = 2
    # luma DC block: 16 coefficients, nC from blkIdx 0's neighbors
    nc = st.nc_luma(mbx * 4, mby * 4)
    dc_coeffs = cavlc_decode_block(r, nc, 16)
    dc = _zigzag_to_block(dc_coeffs)  # raster-scanned by zig-zag of block idx
    dqdc = dequant_luma_dc(dc, qp)
    ac_blocks = []
    for b in range(16):
        gx, gy = mbx * 4 + _BLK4[b][0], mby * 4 + _BLK4[b][1]
        if cbp_luma:
            ac = _decode_residual_luma4(r, st, gx, gy, 15)
        else:
            st.nzY[gy, gx] = 0
            ac = [0] * 15
        ac_blocks.append(ac)
    _parse_and_add_chroma(r, st, mbx, mby, qp, pps, cbp_chroma,
                          chroma_mode)
    left, top, topleft = st.mb_neighbors16(mbx, mby)
    p16 = _pred16x16(pred_mode, left, top, topleft)
    # batch: all 16 AC blocks dequant + inverse-transform at once; the
    # DC samples come from the Hadamard-transformed DC plane (indexed
    # raster by (by, bx))
    d = dequant4x4(_zigzag_to_blocks(ac_blocks), qp)
    d[:, 0, 0] = dqdc[_BLK4_BY, _BLK4_BX]
    res = inv_core_transform(d)
    res16 = np.zeros((16, 16), dtype=np.int64)
    for b in range(16):
        bx, by = _BLK4[b]
        res16[by * 4 : by * 4 + 4, bx * 4 : bx * 4 + 4] = res[b]
    st.Y[y0 : y0 + 16, x0 : x0 + 16] = _clip255(p16 + res16)
    st.mb_qp[mby, mbx] = qp
    return qp


def _parse_and_add_chroma(r, st, mbx, mby, qp, pps, cbp_chroma, chroma_mode):
    """Chroma residual parse + reconstruction for one MB (§8.5.11)."""
    qpc = chroma_qp(qp, pps.chroma_qp_index_offset)
    if cbp_chroma == 0:
        for comp in range(2):
            plane = st.Cb if comp == 0 else st.Cr
            left, top, topleft = st.mb_neighbors_chroma(comp, mbx, mby)
            pred = _pred_chroma(chroma_mode, left, top, topleft)
            st.nzC[comp][mby * 2 : mby * 2 + 2, mbx * 2 : mbx * 2 + 2] = 0
            plane[mby * 8 : mby * 8 + 8, mbx * 8 : mbx * 8 + 8] = _clip255(pred)
        return
    # bitstream order (§7.3.5.3.3 residual()): ChromaDCLevel for Cb
    # then Cr, then ChromaACLevel Cb (4 blocks) then Cr
    dcs = []
    for comp in range(2):
        dcs.append(cavlc_decode_block(r, -1, 4))
    acs = [[[0] * 15 for _ in range(4)] for _ in range(2)]
    for comp in range(2):
        for b in range(4):
            gx = mbx * 2 + (b & 1)
            gy = mby * 2 + (b >> 1)
            if cbp_chroma == 2:
                nc = st.nc_chroma(comp, gx, gy)
                acs[comp][b] = cavlc_decode_block(r, nc, 15)
                st.nzC[comp][gy, gx] = sum(1 for c in acs[comp][b] if c)
            else:
                st.nzC[comp][gy, gx] = 0
    for comp in range(2):
        plane = st.Cb if comp == 0 else st.Cr
        left, top, topleft = st.mb_neighbors_chroma(comp, mbx, mby)
        pred = _pred_chroma(chroma_mode, left, top, topleft)
        dc = np.array(
            [[dcs[comp][0], dcs[comp][1]], [dcs[comp][2], dcs[comp][3]]],
            dtype=np.int64,
        )
        dqdc = dequant_chroma_dc(dc, qpc)
        # batch the 4 chroma blocks (raster order: by = b>>1, bx = b&1)
        d = dequant4x4(_zigzag_to_blocks(acs[comp]), qpc)
        d[:, 0, 0] = dqdc.reshape(4)
        res = inv_core_transform(d)
        out = res.reshape(2, 2, 4, 4).transpose(0, 2, 1, 3).reshape(8, 8)
        plane[mby * 8 : mby * 8 + 8, mbx * 8 : mbx * 8 + 8] = _clip255(pred + out)


# ---------------------------------------------------------------------
# In-loop deblocking filter (§8.7) — intra pictures.
#
# Real-world encoders default the filter ON, so without this the
# decoder refused essentially every wild avc1 file (r10 VERDICT lead
# item). I slices only ever produce bS 4 (macroblock edges) and bS 3
# (internal 4x4 edges): both sides of every edge are intra-coded.
# Filtering runs AFTER the whole picture is reconstructed — §8.3 intra
# prediction explicitly uses pre-filter samples, so the decode loop is
# untouched and the encoder twin just runs the same function over its
# reconstruction state.
#
# Each edge is filtered as a vectorized numpy batch: all 16 luma (8
# chroma) sample lines of the edge at once, with the per-line on/off
# decisions as boolean masks — there is no per-pixel Python loop.
# ---------------------------------------------------------------------

# Table 8-16: alpha / beta thresholds indexed by indexA / indexB.
_DEBLOCK_ALPHA = np.array(
    [0] * 16
    + [4, 4, 5, 6, 7, 8, 9, 10, 12, 13, 15, 17, 20, 22, 25, 28, 32, 36,
       40, 45, 50, 56, 63, 71, 80, 90, 101, 113, 127, 144, 162, 182,
       203, 226, 255, 255],
    dtype=np.int64,
)
_DEBLOCK_BETA = np.array(
    [0] * 16
    + [2, 2, 2, 3, 3, 3, 3, 4, 4, 4, 6, 6, 7, 7, 8, 8, 9, 9, 10, 10,
       11, 11, 12, 12, 13, 13, 14, 14, 15, 15, 16, 16, 17, 17, 18, 18],
    dtype=np.int64,
)
# Table 8-17: tc0 by (bS-1, indexA). I slices only use the bS=3 row;
# rows 1/2 are transcribed for completeness and structurally tested.
_DEBLOCK_TC0 = np.array(
    [
        [0] * 16
        + [0, 0, 0, 0, 0, 0, 0, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 2, 2, 2,
           2, 2, 3, 3, 3, 4, 4, 4, 5, 6, 6, 7, 8, 9, 10, 11],
        [0] * 16
        + [0, 0, 0, 0, 0, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 2, 2, 2, 2, 3,
           3, 3, 4, 4, 4, 5, 5, 6, 7, 8, 8, 10, 11, 12, 13, 15],
        [0] * 16
        + [0, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 2, 2, 2, 2, 3, 3, 3, 4, 4,
           4, 5, 6, 6, 7, 8, 9, 10, 11, 13, 14, 16, 18, 20, 23, 25],
    ],
    dtype=np.int64,
)


def _deblock_edge(
    p: np.ndarray, q: np.ndarray, bs: int, index_a: int, index_b: int,
    chroma: bool,
) -> None:
    """Filter one block edge (§8.7.2.3/8.7.2.4) IN PLACE: ``p``/``q``
    are (n_lines, 4) int64 views into the frame plane with
    p[:, 3] = p0 touching the edge and q[:, 0] = q0 (both in spatial
    order; transposed views for horizontal edges). Every sample line
    is decided and filtered as one numpy batch — inputs are captured
    before any column is written, so view aliasing is safe. All
    shifts are arithmetic (numpy int64 >> sign-extends, matching the
    spec's definition of >>)."""
    alpha = int(_DEBLOCK_ALPHA[index_a])
    beta = int(_DEBLOCK_BETA[index_b])
    p0, p1 = p[:, 3] + 0, p[:, 2] + 0  # materialize inputs off the views
    q0, q1 = q[:, 0] + 0, q[:, 1] + 0
    d00 = np.abs(p0 - q0)
    filt = (d00 < alpha) & (np.abs(p1 - p0) < beta) & (np.abs(q1 - q0) < beta)
    if not filt.any():
        return
    if bs < 4:
        tc0 = int(_DEBLOCK_TC0[bs - 1, index_a])
        if chroma:
            tc = tc0 + 1
        elif tc0 == 0:
            # indexA < 17: tc0 = 0, so p1/q1 are never modified and tc
            # reduces to ap+aq — skip the whole second-row machinery.
            # NB the int64 cast is load-bearing: numpy bool+bool is
            # logical OR, not arithmetic
            p2, q2 = p[:, 1], q[:, 2]
            tc = (np.abs(p2 - p0) < beta).astype(np.int64) + (
                np.abs(q2 - q0) < beta
            )
        else:
            p2, q2 = p[:, 1], q[:, 2]
            ap = np.abs(p2 - p0) < beta
            aq = np.abs(q2 - q0) < beta
            tc = tc0 + ap + aq  # bool addition = 0/1 per §8.7.2.3
        delta = (((q0 - p0) << 2) + (p1 - q1) + 4) >> 3
        delta = np.minimum(np.maximum(delta, -tc), tc)
        np0 = np.minimum(np.maximum(p0 + delta, 0), 255)
        nq0 = np.minimum(np.maximum(q0 - delta, 0), 255)
        all_filt = filt.all()
        if not chroma and tc0 != 0:
            avg = (p0 + q0 + 1) >> 1
            dp1 = np.minimum(np.maximum((p2 + avg - 2 * p1) >> 1, -tc0), tc0)
            dq1 = np.minimum(np.maximum((q2 + avg - 2 * q1) >> 1, -tc0), tc0)
            mp = ap if all_filt else (filt & ap)
            mq = aq if all_filt else (filt & aq)
            p[:, 2] = np.where(mp, p1 + dp1, p1)
            q[:, 1] = np.where(mq, q1 + dq1, q1)
        if all_filt:
            p[:, 3] = np0
            q[:, 0] = nq0
        else:
            p[:, 3] = np.where(filt, np0, p0)
            q[:, 0] = np.where(filt, nq0, q0)
    else:  # bS == 4 (§8.7.2.4)
        if chroma:
            p[:, 3] = np.where(filt, (2 * p1 + p0 + q1 + 2) >> 2, p0)
            q[:, 0] = np.where(filt, (2 * q1 + q0 + p1 + 2) >> 2, q0)
        else:
            p2, p3 = p[:, 1] + 0, p[:, 0]
            q2, q3 = q[:, 2] + 0, q[:, 3]
            small = d00 < ((alpha >> 2) + 2)
            strong_p = filt & small & (np.abs(p2 - p0) < beta)
            strong_q = filt & small & (np.abs(q2 - q0) < beta)
            # smooth content takes the strong 3-tap set on every line
            # of an edge — assign directly instead of triple-where
            if strong_p.all():
                p[:, 3] = (p2 + 2 * p1 + 2 * p0 + 2 * q0 + q1 + 4) >> 3
                p[:, 2] = (p2 + p1 + p0 + q0 + 2) >> 2
                p[:, 1] = (2 * p3 + 3 * p2 + p1 + p0 + q0 + 4) >> 3
            else:
                p[:, 3] = np.where(
                    strong_p,
                    (p2 + 2 * p1 + 2 * p0 + 2 * q0 + q1 + 4) >> 3,
                    np.where(filt, (2 * p1 + p0 + q1 + 2) >> 2, p0),
                )
                p[:, 2] = np.where(strong_p, (p2 + p1 + p0 + q0 + 2) >> 2, p1)
                p[:, 1] = np.where(
                    strong_p, (2 * p3 + 3 * p2 + p1 + p0 + q0 + 4) >> 3, p2
                )
            if strong_q.all():
                q[:, 0] = (q2 + 2 * q1 + 2 * q0 + 2 * p0 + p1 + 4) >> 3
                q[:, 1] = (q2 + q1 + q0 + p0 + 2) >> 2
                q[:, 2] = (2 * q3 + 3 * q2 + q1 + q0 + p0 + 4) >> 3
            else:
                q[:, 0] = np.where(
                    strong_q,
                    (q2 + 2 * q1 + 2 * q0 + 2 * p0 + p1 + 4) >> 3,
                    np.where(filt, (2 * q1 + q0 + p1 + 2) >> 2, q0),
                )
                q[:, 1] = np.where(strong_q, (q2 + q1 + q0 + p0 + 2) >> 2, q1)
                q[:, 2] = np.where(
                    strong_q, (2 * q3 + 3 * q2 + q1 + q0 + p0 + 4) >> 3, q2
                )


def _deblock_indices(qp_p: int, qp_q: int, off_a: int, off_b: int) -> tuple[int, int]:
    qpav = (qp_p + qp_q + 1) >> 1
    return (
        min(51, max(0, qpav + off_a)),
        min(51, max(0, qpav + off_b)),
    )


def deblock_frame(
    st: _FrameState, pps: PPS, slice_params: list[tuple[int, int, int]]
) -> None:
    """Apply §8.7 to a fully reconstructed intra picture, in place.

    ``slice_params[i]`` = (disable_deblocking_filter_idc,
    filterOffsetA, filterOffsetB) for slice index i — the offsets are
    the slice header's div2 values already doubled. idc semantics:
    0 = filter all edges, 1 = slice filter disabled, 2 = filter all
    but slice-boundary edges. Macroblocks are processed in raster
    order; per MB all vertical edges are filtered left-to-right, then
    all horizontal edges top-to-bottom, each using samples already
    modified by preceding edges (§8.7 ordering). Per-MB QPY comes
    from ``st.mb_qp`` (0 for I_PCM per §8.7.2); chroma uses the
    Table 8-15 mapping with the PPS chroma offset."""
    co = pps.chroma_qp_index_offset
    for mby in range(st.hmb):
        for mbx in range(st.wmb):
            si = int(st.mb_slice[mby, mbx])
            if si < 0:
                continue
            idc, off_a, off_b = slice_params[si]
            if idc == 1:
                continue
            qy = int(st.mb_qp[mby, mbx])
            y0, x0 = mby * 16, mbx * 16
            c0y, c0x = mby * 8, mbx * 8

            def nbr_ok(nx: int, ny: int) -> bool:
                return not (
                    idc == 2 and int(st.mb_slice[ny, nx]) != si
                )

            # -- vertical edges (left to right) -----------------------
            for e in range(4):
                x = x0 + 4 * e
                if e == 0:
                    if mbx == 0 or not nbr_ok(mbx - 1, mby):
                        continue
                    qp_p, bs = int(st.mb_qp[mby, mbx - 1]), 4
                else:
                    qp_p, bs = qy, 3
                ia, ib = _deblock_indices(qp_p, qy, off_a, off_b)
                _deblock_edge(
                    st.Y[y0 : y0 + 16, x - 4 : x],
                    st.Y[y0 : y0 + 16, x : x + 4],
                    bs, ia, ib, chroma=False,
                )
            for e in range(2):  # chroma: edges at luma x offsets 0, 8
                cx = c0x + 4 * e
                if e == 0:
                    if mbx == 0 or not nbr_ok(mbx - 1, mby):
                        continue
                    qp_p, bs = int(st.mb_qp[mby, mbx - 1]), 4
                else:
                    qp_p, bs = qy, 3
                ia, ib = _deblock_indices(
                    chroma_qp(qp_p, co), chroma_qp(qy, co), off_a, off_b
                )
                # both chroma planes share parameters and per-line
                # decisions are independent: filter them as ONE 16-line
                # batch (stack, filter, scatter back)
                ps = np.concatenate(
                    (st.Cb[c0y : c0y + 8, cx - 4 : cx],
                     st.Cr[c0y : c0y + 8, cx - 4 : cx])
                )
                qs = np.concatenate(
                    (st.Cb[c0y : c0y + 8, cx : cx + 4],
                     st.Cr[c0y : c0y + 8, cx : cx + 4])
                )
                _deblock_edge(ps, qs, bs, ia, ib, chroma=True)
                st.Cb[c0y : c0y + 8, cx - 4 : cx] = ps[:8]
                st.Cr[c0y : c0y + 8, cx - 4 : cx] = ps[8:]
                st.Cb[c0y : c0y + 8, cx : cx + 4] = qs[:8]
                st.Cr[c0y : c0y + 8, cx : cx + 4] = qs[8:]

            # -- horizontal edges (top to bottom) ---------------------
            for e in range(4):
                y = y0 + 4 * e
                if e == 0:
                    if mby == 0 or not nbr_ok(mbx, mby - 1):
                        continue
                    qp_p, bs = int(st.mb_qp[mby - 1, mbx]), 4
                else:
                    qp_p, bs = qy, 3
                ia, ib = _deblock_indices(qp_p, qy, off_a, off_b)
                _deblock_edge(
                    st.Y[y - 4 : y, x0 : x0 + 16].T,
                    st.Y[y : y + 4, x0 : x0 + 16].T,
                    bs, ia, ib, chroma=False,
                )
            for e in range(2):
                cy = c0y + 4 * e
                if e == 0:
                    if mby == 0 or not nbr_ok(mbx, mby - 1):
                        continue
                    qp_p, bs = int(st.mb_qp[mby - 1, mbx]), 4
                else:
                    qp_p, bs = qy, 3
                ia, ib = _deblock_indices(
                    chroma_qp(qp_p, co), chroma_qp(qy, co), off_a, off_b
                )
                ps = np.concatenate(
                    (st.Cb[cy - 4 : cy, c0x : c0x + 8].T,
                     st.Cr[cy - 4 : cy, c0x : c0x + 8].T)
                )
                qs = np.concatenate(
                    (st.Cb[cy : cy + 4, c0x : c0x + 8].T,
                     st.Cr[cy : cy + 4, c0x : c0x + 8].T)
                )
                _deblock_edge(ps, qs, bs, ia, ib, chroma=True)
                st.Cb[cy - 4 : cy, c0x : c0x + 8] = ps[:8].T
                st.Cr[cy - 4 : cy, c0x : c0x + 8] = ps[8:].T
                st.Cb[cy : cy + 4, c0x : c0x + 8] = qs[:8].T
                st.Cr[cy : cy + 4, c0x : c0x + 8] = qs[8:].T


# ---------------------------------------------------------------------
# Frame decoding: NAL dispatch + slice loop (§7.3.3 / 7.3.4)
# ---------------------------------------------------------------------


def _parse_slice_header(
    r: BitReader, sps: SPS, pps: PPS, idr: bool = True, nal_ref_idc: int = 3
) -> tuple[int, int, tuple[int, int, int]]:
    """Returns (first_mb_in_slice, slice QP, deblock params) where
    deblock params = (disable_deblocking_filter_idc, filterOffsetA,
    filterOffsetB) for §8.7 (offsets already doubled per §7.4.3; the
    filter defaults ON with zero offsets when the PPS carries no
    slice-level control). I slices only — IDR and (r11) non-IDR alike:
    an I slice in a non-IDR picture (periodic intra refresh) is still
    intra-only and decodable; only its header fields differ (no
    idr_pic_id; dec_ref_pic_marking is the adaptive form, present only
    for reference pictures)."""
    first_mb = r.ue()
    slice_type = r.ue()
    if slice_type % 5 != 2:  # 2/7 = I
        raise NotImplementedError(
            f"slice_type {slice_type}: only I slices are decodable "
            "(P/B need motion compensation)"
        )
    r.ue()  # pps id
    r.read_bits(sps.log2_max_frame_num)  # frame_num
    if idr:
        r.ue()  # idr_pic_id
    if sps.pic_order_cnt_type == 0:
        # the x264/real-world DEFAULT poc mode (r11: was refused, which
        # rejected most wild streams at the header): for an intra-only
        # decode the lsb value itself is irrelevant — parse and drop
        r.read_bits(sps.log2_max_poc_lsb)  # pic_order_cnt_lsb
        if pps.bottom_field_pic_order_present:
            r.se()  # delta_pic_order_cnt_bottom
    if pps.redundant_pic_cnt_present:
        r.ue()  # redundant_pic_cnt
    # dec_ref_pic_marking (§7.3.3.3)
    if idr:
        r.read_bit()  # no_output_of_prior_pics
        r.read_bit()  # long_term_reference
    elif nal_ref_idc != 0:
        if r.read_bit():  # adaptive_ref_pic_marking_mode_flag
            raise NotImplementedError(
                "adaptive ref-pic marking (MMCO) unsupported"
            )
    qp = pps.pic_init_qp + r.se()
    deblock = (0, 0, 0)
    if pps.deblocking_filter_control_present:
        idc = r.ue()
        if idc > 2:
            raise ValueError(f"invalid disable_deblocking_filter_idc {idc}")
        if idc != 1:
            deblock = (idc, r.se() * 2, r.se() * 2)
        else:
            deblock = (1, 0, 0)
    return first_mb, qp, deblock


def parse_avcc_config(avcc: bytes) -> tuple[list[bytes], int]:
    """Parse an AVCDecoderConfigurationRecord (the mp4 ``avcC`` box
    body, ISO 14496-15 §5.2.4.1): returns (parameter-set NALs in
    stream order, NAL length-prefix size for the track's samples).
    Real 'avc1' samples carry ONLY slice NALs — SPS/PPS live here."""
    if len(avcc) < 7 or avcc[0] != 1:
        raise ValueError("not an AVCDecoderConfigurationRecord (version != 1)")
    length_size = (avcc[4] & 0x03) + 1
    nals: list[bytes] = []
    i = 5

    def take(count: int, i: int) -> int:
        for _ in range(count):
            if i + 2 > len(avcc):
                raise ValueError("malformed avcC: truncated parameter-set length")
            ln = int.from_bytes(avcc[i : i + 2], "big")
            i += 2
            if ln == 0 or i + ln > len(avcc):
                raise ValueError("malformed avcC: parameter set overruns record")
            nals.append(avcc[i : i + ln])
            i += ln
        return i

    n_sps = avcc[i] & 0x1F
    i = take(n_sps, i + 1)
    if i >= len(avcc):
        raise ValueError("malformed avcC: missing PPS count")
    i = take(avcc[i], i + 1)
    return nals, length_size


def decode_h264(data: bytes, avcc: bytes | None = None) -> np.ndarray:
    """Decode the FIRST IDR picture in ``data`` (Annex B or AVCC NAL
    framing) to an RGB uint8 array (full-range BT.601 from 4:2:0).
    For real mp4 'avc1' tracks pass the ``avcC`` box body as ``avcc``:
    SPS/PPS are taken from it (samples carry only slice NALs) and the
    track's NAL length-prefix size (1/2/4 bytes) is honored."""
    sps = pps = None
    st = None
    slice_no = 0
    slice_deblock: list[tuple[int, int, int]] = []
    if avcc is not None:
        param_nals, length_size = parse_avcc_config(avcc)
        # an avcC record means the samples ARE length-prefixed — never
        # sniff (a first NAL of 256-511 bytes has prefix 00 00 01 xx,
        # which would misdetect as Annex B)
        nal_list = param_nals + split_nals(
            data, length_size=length_size, framing="avcc"
        )
    else:
        nal_list = split_nals(data)
    for nal in nal_list:
        nal_type = nal[0] & 0x1F
        rbsp = rbsp_unescape(nal[1:])
        if nal_type == 7:
            sps = parse_sps(rbsp)
        elif nal_type == 8:
            pps = parse_pps(rbsp)
        elif nal_type in (1, 5):
            if sps is None or pps is None:
                raise ValueError("slice before SPS/PPS")
            if st is None:
                st = _FrameState(sps.width_mbs, sps.height_mbs)
            st.cur_slice = slice_no
            slice_no += 1
            r = BitReader(rbsp)
            first_mb, qp, deblock = _parse_slice_header(
                r, sps, pps, idr=nal_type == 5,
                nal_ref_idc=(nal[0] >> 5) & 3,
            )
            slice_deblock.append(deblock)
            mb = first_mb
            total = sps.width_mbs * sps.height_mbs
            while mb < total and r.more_rbsp_data():
                qp = _decode_mb(r, st, mb % sps.width_mbs, mb // sps.width_mbs, qp, pps)
                mb += 1
            if mb >= total:
                break
    if st is None:
        raise ValueError("no intra (I) slice found")
    if any(p[0] != 1 for p in slice_deblock):
        deblock_frame(st, pps, slice_deblock)
    l, rgt, t, b = sps.crop
    h = sps.height_mbs * 16 - t - b
    w = sps.width_mbs * 16 - l - rgt
    y = st.Y[t : t + h, l : l + w].astype(np.float64)
    cb = np.repeat(np.repeat(st.Cb, 2, 0), 2, 1)[t : t + h, l : l + w].astype(np.float64)
    cr = np.repeat(np.repeat(st.Cr, 2, 0), 2, 1)[t : t + h, l : l + w].astype(np.float64)
    return ycbcr_to_rgb(y, cb, cr)


def ycbcr_to_rgb(y: np.ndarray, cb: np.ndarray, cr: np.ndarray) -> np.ndarray:
    """Full-range BT.601 (the JFIF matrix operators/jpeg.py uses)."""
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    return np.clip(np.stack([r, g, b], axis=-1).round(), 0, 255).astype(np.uint8)


def rgb_to_ycbcr420(img: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """RGB (or 2-D grayscale) uint8 → full-range Y, Cb, Cr with 2x2
    box-averaged 4:2:0 chroma. Dimensions must be even (the encoder
    pads to macroblock size first)."""
    if img.ndim == 2:
        y = img.astype(np.float64)
        cb = np.full(((img.shape[0] + 1) // 2, (img.shape[1] + 1) // 2), 128.0)
        return y.round().astype(np.int64), cb.astype(np.int64), cb.astype(np.int64).copy()
    r, g, b = img[..., 0].astype(np.float64), img[..., 1].astype(np.float64), img[..., 2].astype(np.float64)
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = 128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b
    cr = 128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b
    h, w = img.shape[:2]
    cb2 = cb.reshape(h // 2, 2, w // 2, 2).mean(axis=(1, 3))
    cr2 = cr.reshape(h // 2, 2, w // 2, 2).mean(axis=(1, 3))
    return (
        np.clip(y.round(), 0, 255).astype(np.int64),
        np.clip(cb2.round(), 0, 255).astype(np.int64),
        np.clip(cr2.round(), 0, 255).astype(np.int64),
    )


# ---------------------------------------------------------------------
# Encoder (I frames only; exists to make the decoder testable and to
# produce deterministic fixture streams exercising every code path)
# ---------------------------------------------------------------------


def _quant4x4(w: np.ndarray, qp: int) -> np.ndarray:
    qbits = 15 + qp // 6
    f = (1 << qbits) // 3  # intra rounding
    return (np.sign(w) * ((np.abs(w) * _MFMAT[qp % 6] + f) >> qbits)).astype(np.int64)


def _quant_dc(w: np.ndarray, qp: int) -> np.ndarray:
    qbits = 15 + qp // 6
    f = (1 << qbits) // 3
    mf = int(_MFMAT[qp % 6, 0, 0])
    return (np.sign(w) * ((np.abs(w) * mf + 2 * f) >> (qbits + 1))).astype(np.int64)


def _allowed_modes4(left, top, topleft):
    modes = [2]
    if top is not None:
        modes += [0, 3, 7]
    if left is not None:
        modes += [1, 8]
    if left is not None and top is not None and topleft is not None:
        modes += [4, 5, 6]
    return modes


def _encode_mb(w: BitWriter, st: _FrameState, mbx: int, mby: int, qp: int,
               pps: PPS, srcY, srcCb, srcCr, mb_kind: str) -> None:
    """Encode one macroblock, updating the in-loop reconstruction in
    ``st`` exactly as the decoder will."""
    st.mb_slice[mby, mbx] = st.cur_slice
    y0, x0 = mby * 16, mbx * 16
    sy = srcY[y0 : y0 + 16, x0 : x0 + 16]
    scb = srcCb[mby * 8 : mby * 8 + 8, mbx * 8 : mbx * 8 + 8]
    scr = srcCr[mby * 8 : mby * 8 + 8, mbx * 8 : mbx * 8 + 8]

    if mb_kind == "pcm":
        w.ue(25)
        while len(w.bits) % 8:
            w.write_bit(0)  # pcm_alignment_zero_bit
        for yy in range(16):
            for xx in range(16):
                w.write_bits(int(sy[yy, xx]), 8)
        for plane in (scb, scr):
            for yy in range(8):
                for xx in range(8):
                    w.write_bits(int(plane[yy, xx]), 8)
        st.Y[y0 : y0 + 16, x0 : x0 + 16] = sy
        st.Cb[mby * 8 : mby * 8 + 8, mbx * 8 : mbx * 8 + 8] = scb
        st.Cr[mby * 8 : mby * 8 + 8, mbx * 8 : mbx * 8 + 8] = scr
        st.nzY[mby * 4 : mby * 4 + 4, mbx * 4 : mbx * 4 + 4] = 16
        for c in range(2):
            st.nzC[c][mby * 2 : mby * 2 + 2, mbx * 2 : mbx * 2 + 2] = 16
        st.modeY[mby * 4 : mby * 4 + 4, mbx * 4 : mbx * 4 + 4] = 2
        return

    qpc = chroma_qp(qp, pps.chroma_qp_index_offset)
    # chroma: compute residual/cbp FIRST (cbp is written before any
    # residual bits), with a deterministic mode choice
    clb, ctb, ctlb = st.mb_neighbors_chroma(0, mbx, mby)
    cmodes = [0]
    if clb is not None:
        cmodes.append(1)
    if ctb is not None:
        cmodes.append(2)
    if clb is not None and ctb is not None and ctlb is not None:
        cmodes.append(3)
    chroma_mode = cmodes[(mbx + 2 * mby) % len(cmodes)]
    cdc_z, cac_z, cpred = [], [], []
    any_cac = False
    any_cdc = False
    for comp, src in ((0, scb), (1, scr)):
        left, top, topleft = st.mb_neighbors_chroma(comp, mbx, mby)
        pred = _pred_chroma(chroma_mode, left, top, topleft)
        cpred.append(pred)
        res = src.astype(np.int64) - pred
        dcs = np.zeros((2, 2), dtype=np.int64)
        acz = []
        for b in range(4):
            bx, by = b & 1, b >> 1
            wv = core_transform(res[by * 4 : by * 4 + 4, bx * 4 : bx * 4 + 4])
            dcs[by, bx] = wv[0, 0]
            z = _quant4x4(wv, qpc)
            z[0, 0] = 0
            acz.append(z)
            if np.any(z):
                any_cac = True
        zdc = _quant_dc(hadamard2(dcs), qpc)
        if np.any(zdc):
            any_cdc = True
        cdc_z.append(zdc)
        cac_z.append(acz)
    cbp_chroma = 2 if any_cac else (1 if any_cdc else 0)

    if mb_kind == "i4":
        # choose modes upfront (availability-driven, deterministic)
        modes = []
        for b in range(16):
            gx, gy = mbx * 4 + _BLK4[b][0], mby * 4 + _BLK4[b][1]
            left, top, topleft, _tr = st.luma_neighbors4(gx, gy, b, mbx, mby)
            allowed = _allowed_modes4(left, top, topleft)
            modes.append(allowed[(mbx * 7 + mby * 3 + b) % len(allowed)])
        # per-block transform/quant + in-loop reconstruction
        zblocks, nz_counts = [], []
        for b in range(16):
            bx, by = _BLK4[b]
            gx, gy = mbx * 4 + bx, mby * 4 + by
            left, top, topleft, topright = st.luma_neighbors4(gx, gy, b, mbx, mby)
            p = _pred4x4(modes[b], left, top, topleft, topright)
            res = sy[by * 4 : by * 4 + 4, bx * 4 : bx * 4 + 4].astype(np.int64) - p
            z = _quant4x4(core_transform(res), qp)
            zblocks.append(z)
            nz_counts.append(int(np.count_nonzero(z)))
            rec = inv_core_transform(dequant4x4(z, qp))
            st.Y[gy * 4 : gy * 4 + 4, gx * 4 : gx * 4 + 4] = _clip255(p + rec)
            st.modeY[gy, gx] = modes[b]
        cbp_luma = 0
        for g in range(4):
            if any(np.any(zblocks[g * 4 + k]) for k in range(4)):
                cbp_luma |= 1 << g
        # blocks inside a SKIPPED 8x8 group must reconstruct with zero
        # residual — they quantized to zero, so the loop above already
        # wrote pred-only samples; nz bookkeeping matches the decoder
        w.ue(0)  # mb_type I_NxN
        # pred_mode4 consults modeY, already committed for this MB's
        # earlier blocks — safe because every block's left/top neighbor
        # precedes it in _BLK4 order, so the values the decoder will
        # have committed at parse time are exactly these
        for b in range(16):
            gx, gy = mbx * 4 + _BLK4[b][0], mby * 4 + _BLK4[b][1]
            prev = st.pred_mode4(gx, gy)
            mode = modes[b]
            if mode == prev:
                w.write_bit(1)
            else:
                w.write_bit(0)
                w.write_bits(mode if mode < prev else mode - 1, 3)
        w.ue(chroma_mode)
        w.ue(_CBP_INTRA_INV[cbp_luma | (cbp_chroma << 4)])
        if cbp_luma or cbp_chroma:
            w.se(0)  # mb_qp_delta
        for b in range(16):
            gx, gy = mbx * 4 + _BLK4[b][0], mby * 4 + _BLK4[b][1]
            if cbp_luma & (1 << (b // 4)):
                nc = st.nc_luma(gx, gy)
                st.nzY[gy, gx] = cavlc_encode_block(
                    w, _block_to_zigzag(zblocks[b]), nc
                )
            else:
                st.nzY[gy, gx] = 0
    else:  # i16
        left, top, topleft = st.mb_neighbors16(mbx, mby)
        allowed = [2]
        if top is not None:
            allowed.append(0)
        if left is not None:
            allowed.append(1)
        if left is not None and top is not None and topleft is not None:
            allowed.append(3)
        pred_mode = allowed[(mbx * 5 + mby) % len(allowed)]
        p16 = _pred16x16(pred_mode, left, top, topleft)
        res = sy.astype(np.int64) - p16
        dcs = np.zeros((4, 4), dtype=np.int64)
        acz = []
        for b in range(16):
            bx, by = _BLK4[b]
            wv = core_transform(res[by * 4 : by * 4 + 4, bx * 4 : bx * 4 + 4])
            dcs[by, bx] = wv[0, 0]
            z = _quant4x4(wv, qp)
            z[0, 0] = 0
            acz.append(z)
        zdc = _quant_dc(hadamard4(dcs) // 2, qp)
        cbp_luma = 15 if any(np.any(z) for z in acz) else 0
        m = pred_mode + 4 * cbp_chroma + (12 if cbp_luma else 0)
        w.ue(1 + m)
        w.ue(chroma_mode)
        w.se(0)  # mb_qp_delta
        # luma DC
        nc = st.nc_luma(mbx * 4, mby * 4)
        cavlc_encode_block(w, _block_to_zigzag(zdc), nc)
        # reconstruction (must mirror the decoder exactly)
        dqdc = dequant_luma_dc(zdc, qp)
        for b in range(16):
            bx, by = _BLK4[b]
            gx, gy = mbx * 4 + bx, mby * 4 + by
            if cbp_luma:
                nc = st.nc_luma(gx, gy)
                st.nzY[gy, gx] = cavlc_encode_block(
                    w, _block_to_zigzag(acz[b])[1:], nc
                )
            else:
                st.nzY[gy, gx] = 0
                acz[b] = np.zeros((4, 4), dtype=np.int64)
            d = dequant4x4(acz[b], qp)
            d[0, 0] = dqdc[by, bx]
            rec = inv_core_transform(d)
            ys, xs = y0 + by * 4, x0 + bx * 4
            st.Y[ys : ys + 4, xs : xs + 4] = _clip255(
                p16[by * 4 : by * 4 + 4, bx * 4 : bx * 4 + 4] + rec
            )
        st.modeY[mby * 4 : mby * 4 + 4, mbx * 4 : mbx * 4 + 4] = 2

    # chroma residual bits + reconstruction
    if cbp_chroma:
        for comp in range(2):
            cavlc_encode_block(w, _block_to_zigzag_cdc(cdc_z[comp]), -1)
        for comp in range(2):
            for b in range(4):
                gx = mbx * 2 + (b & 1)
                gy = mby * 2 + (b >> 1)
                if cbp_chroma == 2:
                    nc = st.nc_chroma(comp, gx, gy)
                    st.nzC[comp][gy, gx] = cavlc_encode_block(
                        w, _block_to_zigzag(cac_z[comp][b])[1:], nc
                    )
                else:
                    st.nzC[comp][gy, gx] = 0
                    cac_z[comp][b] = np.zeros((4, 4), dtype=np.int64)
    else:
        for comp in range(2):
            st.nzC[comp][mby * 2 : mby * 2 + 2, mbx * 2 : mbx * 2 + 2] = 0
            cac_z[comp] = [np.zeros((4, 4), dtype=np.int64) for _ in range(4)]
            cdc_z[comp] = np.zeros((2, 2), dtype=np.int64)
    for comp in range(2):
        plane = st.Cb if comp == 0 else st.Cr
        dqdc = dequant_chroma_dc(cdc_z[comp], qpc)
        out = np.zeros((8, 8), dtype=np.int64)
        for b in range(4):
            bx, by = b & 1, b >> 1
            d = dequant4x4(cac_z[comp][b], qpc)
            d[0, 0] = dqdc[by, bx]
            out[by * 4 : by * 4 + 4, bx * 4 : bx * 4 + 4] = inv_core_transform(d)
        plane[mby * 8 : mby * 8 + 8, mbx * 8 : mbx * 8 + 8] = _clip255(
            cpred[comp] + out
        )


def _block_to_zigzag_cdc(dc2: np.ndarray) -> list[int]:
    return [int(dc2[0, 0]), int(dc2[0, 1]), int(dc2[1, 0]), int(dc2[1, 1])]


def encode_h264_iframe(
    img: np.ndarray,
    qp: int = 26,
    mb_pattern: str = "mixed",
    slices: int = 1,
    deblocking: bool | str = False,
    poc_type: int = 2,
    idr: bool = True,
) -> bytes:
    """Encode an RGB (or grayscale) uint8 image as a one-frame Annex B
    H.264 stream (SPS + PPS + IDR, CAVLC baseline). ``mb_pattern``:
    'mixed' rotates I_PCM / Intra_4x4 / Intra_16x16 per macroblock
    (every entropy + prediction path exercised); 'i4'/'i16'/'pcm'
    force one type. ``slices`` > 1 splits the picture into that many
    contiguous-MB slice NALs (each independently decodable — neighbor
    availability stops at the boundary on both encode and decode).
    ``deblocking=True`` signals the §8.7 in-loop filter ON
    (disable_deblocking_filter_idc=0, zero offsets — the real-world
    encoder default) and runs the SAME deblock_frame loop over the
    reconstruction, so the bit-exactness tests pin encoder and
    decoder filters against each other; ``deblocking='default'``
    additionally omits slice-level control from the PPS entirely (no
    idc fields in the slice header — the filter-by-default stream
    shape). Deterministic — no RNG."""
    img = np.asarray(img)
    h, w_px = img.shape[:2]
    if h % 2 or w_px % 2:
        raise ValueError(
            "H.264 4:2:0 frame cropping works in 2-pixel units — odd "
            f"dimensions ({h}x{w_px}) cannot be represented; pad to even"
        )
    wmb, hmb = -(-w_px // 16), -(-h // 16)
    pad_r, pad_b = wmb * 16 - w_px, hmb * 16 - h
    if img.ndim == 2:
        img = np.pad(img, ((0, pad_b), (0, pad_r)), mode="edge")
    else:
        img = np.pad(img, ((0, pad_b), (0, pad_r), (0, 0)), mode="edge")
    Y, Cb, Cr = rgb_to_ycbcr420(img)

    sps = SPS()
    sps.width_mbs, sps.height_mbs = wmb, hmb
    sps.crop = (0, pad_r, 0, pad_b)
    if poc_type not in (0, 2):
        raise ValueError(f"poc_type must be 0 or 2, got {poc_type}")
    sps.pic_order_cnt_type = poc_type
    pps = PPS()
    pps.pic_init_qp = qp
    pps.deblocking_filter_control_present = deblocking != "default"

    st = _FrameState(wmb, hmb)
    kinds = {"mixed": None, "i4": "i4", "i16": "i16", "pcm": "pcm"}
    if mb_pattern not in kinds:
        raise ValueError(f"mb_pattern must be one of {sorted(kinds)}")
    total = wmb * hmb
    slices = max(1, min(int(slices), total))
    # contiguous MB runs, one slice NAL per run — the decoder must treat
    # cross-boundary neighbors as UNAVAILABLE (§6.4.9), and the encoder
    # reconstruction loop uses the same _FrameState rules, so the
    # bit-exactness tests pin the slice-isolation behavior on both sides
    bounds = [round(i * total / slices) for i in range(slices + 1)]
    slice_rbsps = []
    for si in range(slices):
        st.cur_slice = si
        w = BitWriter()
        # slice header (IDR, I slice)
        w.ue(bounds[si])  # first_mb_in_slice
        w.ue(7)  # slice_type I (all slices in picture)
        w.ue(0)  # pps id
        w.write_bits(0, sps.log2_max_frame_num)  # frame_num
        if idr:
            w.ue(0)  # idr_pic_id
        if poc_type == 0:  # real-world default: poc lsb rides the header
            w.write_bits(0, sps.log2_max_poc_lsb)
        if idr:
            w.write_bit(0)  # no_output_of_prior_pics
            w.write_bit(0)  # long_term_reference
        else:
            w.write_bit(0)  # adaptive_ref_pic_marking_mode_flag = 0
        w.se(0)  # slice_qp_delta
        if deblocking == "default":
            pass  # control absent from PPS: no idc fields, filter ON
        elif deblocking:
            w.ue(0)  # disable_deblocking_filter_idc = 0 (filter ON)
            w.se(0)  # slice_alpha_c0_offset_div2
            w.se(0)  # slice_beta_offset_div2
        else:
            w.ue(1)  # disable_deblocking_filter_idc = 1 (filter OFF)
        for mb in range(bounds[si], bounds[si + 1]):
            mbx, mby = mb % wmb, mb // wmb
            kind = kinds[mb_pattern] or ("pcm", "i4", "i16")[mb % 3]
            _encode_mb(w, st, mbx, mby, qp, pps, Y, Cb, Cr, kind)
            st.mb_qp[mby, mbx] = 0 if kind == "pcm" else qp
        w.rbsp_trailing()
        slice_rbsps.append(w.tobytes())

    def nal(nal_type: int, rbsp: bytes, ref_idc: int = 3) -> bytes:
        return (
            b"\x00\x00\x00\x01"
            + bytes([(ref_idc << 5) | nal_type])
            + rbsp_escape(rbsp)
        )

    stream = (
        nal(7, write_sps(sps))
        + nal(8, write_pps(pps))
        + b"".join(
            nal(5 if idr else 1, s_rbsp, ref_idc=3 if idr else 2)
            for s_rbsp in slice_rbsps
        )
    )
    if deblocking:
        # same loop the decoder runs — intra prediction above used the
        # unfiltered samples (§8.3), so filtering strictly post-hoc
        # keeps the encode bit-identical to the filter-off stream
        deblock_frame(st, pps, [(0, 0, 0)] * slices)
    # stash the encoder's reconstruction for bit-exactness tests
    encode_h264_iframe.last_reconstruction = (
        st.Y.copy(), st.Cb.copy(), st.Cr.copy(), sps.crop
    )
    return stream
