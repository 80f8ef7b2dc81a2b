"""H.264 baseline I-frame codec (operators/h264.py): structural table
validation (every VLC table is a COMPLETE prefix code), randomized
CAVLC round-trips in every context, exact integer transform identities,
header round-trips, and end-to-end encode→decode with bit-exact
reconstruction equality plus PSNR bounds."""

from __future__ import annotations

import numpy as np
import pytest

from regpulse_lakehouse_spark.operators import h264 as H


# --- VLC table structure ------------------------------------------------


def _kraft(table: dict) -> float:
    return sum(2.0 ** -len(code) for code in table)


def _prefix_free(table: dict) -> bool:
    codes = sorted(table, key=len)
    for i, c in enumerate(codes):
        for d in codes[i + 1 :]:
            if d.startswith(c):
                return False
    return True


@pytest.mark.parametrize(
    "name,table",
    [("nc0", H._CT_NC0), ("nc2", H._CT_NC2), ("nc4", H._CT_NC4),
     ("cdc", H._CT_CHROMA_DC), ("flc", H._CT_FLC)]
    + [(f"tz4_{k}", t) for k, t in H._TOTAL_ZEROS_4x4.items()]
    + [(f"tzc_{k}", t) for k, t in H._TOTAL_ZEROS_CDC.items()]
    + [(f"rb_{k}", t) for k, t in H._RUN_BEFORE.items()],
)
def test_vlc_tables_complete_prefix_codes(name, table):
    """Prefix-freeness + near-completeness. The spec tables are NOT all
    Kraft-complete (e.g. Table 9-5 VLC0 leaves one 15-bit slot unused —
    those bit patterns are invalid streams), so the bound is
    0.96 ≤ K ≤ 1 (the ≥8 FLC context uses 62 of 64 slots = 0.96875;
    the VLC tables are within 2⁻¹⁵ of complete): any overlap (K > 1)
    or grossly mistyped short code length fails; fine-grained value
    placement is pinned by the randomized round-trips below."""
    assert _prefix_free(table), f"{name} is not prefix-free"
    k = _kraft(table)
    assert 0.96 <= k <= 1 + 1e-12, (name, k)


def test_vlc_tables_cover_expected_values():
    for t in (H._CT_NC0, H._CT_NC2, H._CT_NC4, H._CT_FLC):
        vals = set(t.values())
        assert (0, 0) in vals
        for tc in range(1, 17):
            for t1 in range(0, min(3, tc) + 1):
                assert (tc, t1) in vals
    for tc, t in H._TOTAL_ZEROS_4x4.items():
        assert set(t.values()) == set(range(16 - tc + 1))
    for tc, t in H._TOTAL_ZEROS_CDC.items():
        assert set(t.values()) == set(range(4 - tc + 1))
    # run_before >6 reaches the maximum possible run (14 zeros)
    assert set(H._RUN_BEFORE_GT6.values()) == set(range(15))


# --- bit I/O + Exp-Golomb ----------------------------------------------


def test_expgolomb_roundtrip():
    w = H.BitWriter()
    vals = list(range(0, 40)) + [255, 1023]
    svals = [0, 1, -1, 2, -2, 17, -31, 400, -400]
    for v in vals:
        w.ue(v)
    for v in svals:
        w.se(v)
    w.rbsp_trailing()
    r = H.BitReader(w.tobytes())
    assert [r.ue() for _ in vals] == vals
    assert [r.se() for _ in svals] == svals


def test_rbsp_escape_roundtrip():
    payloads = [
        b"\x00\x00\x00\x00\x01\x02\x03",
        b"\x00\x00\x03\x00\x00\x02",
        bytes(range(256)) + b"\x00\x00\x00",
    ]
    for p in payloads:
        esc = H.rbsp_escape(p)
        assert b"\x00\x00\x00" not in esc[:-1] or esc.endswith(b"\x00")
        assert H.rbsp_unescape(esc) == p


def test_split_nals_annexb_and_avcc():
    nal1, nal2 = b"\x67\x42\x00\x1f", b"\x65\x88\x84\x00"
    annexb = b"\x00\x00\x00\x01" + nal1 + b"\x00\x00\x01" + nal2
    assert H.split_nals(annexb) == [nal1, nal2]
    avcc = (
        len(nal1).to_bytes(4, "big") + nal1 + len(nal2).to_bytes(4, "big") + nal2
    )
    assert H.split_nals(avcc) == [nal1, nal2]


# --- transforms ---------------------------------------------------------


def test_transform_quant_roundtrip_residual_bounded():
    """forward transform → quant → dequant → inverse reconstructs the
    residual within the quantization step bound at every QP."""
    rng = np.random.default_rng(7)
    for qp in (0, 10, 20, 26, 34, 44, 51):
        x = rng.integers(-128, 128, (4, 4)).astype(np.int64)
        w = H.core_transform(x)
        mf = H._MFMAT[qp % 6]
        qbits = 15 + qp // 6
        f = (1 << qbits) // 3
        z = np.sign(w) * ((np.abs(w) * mf + f) >> qbits)
        d = H.dequant4x4(z, qp)
        rec = H.inv_core_transform(d)
        qstep = 0.625 * 2 ** (qp / 6)
        assert np.max(np.abs(rec - x)) <= max(2, qstep), qp


def test_inverse_transform_is_exact_integer():
    """The §8.5.12.2 arithmetic (shift asymmetries included) — spot
    value: a DC-only dequantized block of value v spreads v to every
    position through both butterfly passes, so each sample is
    (v+32)>>6 — including the asymmetric floor behavior on negatives."""
    for dc in (-64, -1, 0, 1, 64, 255):
        d = np.zeros((4, 4), dtype=np.int64)
        d[0, 0] = dc
        rec = H.inv_core_transform(d)
        assert np.all(rec == (dc + 32) >> 6)


# --- CAVLC block codec --------------------------------------------------


def _rt(coeffs, nc):
    w = H.BitWriter()
    H.cavlc_encode_block(w, list(coeffs), nc)
    w.rbsp_trailing()
    r = H.BitReader(w.tobytes())
    return H.cavlc_decode_block(r, nc, len(coeffs))


@pytest.mark.parametrize("nc", [-1, 0, 1, 2, 3, 4, 7, 8, 16])
def test_cavlc_roundtrip_randomized(nc):
    rng = np.random.default_rng(5 + nc)
    size = 4 if nc == -1 else 16
    for trial in range(400):
        coeffs = np.zeros(size, dtype=np.int64)
        n_nz = rng.integers(0, size + 1)
        pos = rng.choice(size, size=n_nz, replace=False)
        # mix: small levels (trailing-one paths), mid, and escape-range
        mag = rng.choice([1, 1, 1, 2, 3, 7, 15, 40, 300, 3000], size=n_nz)
        coeffs[pos] = mag * rng.choice([-1, 1], size=n_nz)
        out = _rt(coeffs, nc)
        assert list(out) == list(coeffs), (nc, trial, coeffs)


def test_cavlc_ac_only_blocks():
    # 15-coefficient AC blocks (Intra16x16 AC / chroma AC context)
    rng = np.random.default_rng(99)
    for trial in range(200):
        coeffs = np.zeros(15, dtype=np.int64)
        n_nz = rng.integers(0, 16)
        pos = rng.choice(15, size=min(int(n_nz), 15), replace=False)
        coeffs[pos] = rng.choice([-3, -1, -1, 1, 1, 2, 9], size=len(pos))
        nc = int(rng.integers(0, 10))
        assert list(_rt(coeffs, nc)) == list(coeffs), (trial, nc)
    for nc in (0, 2, 5, 9):
        coeffs = np.zeros(15, dtype=np.int64)
        coeffs[[0, 3, 14]] = [4, -1, 1]
        assert list(_rt(coeffs, nc)) == list(coeffs)


def test_cavlc_known_simple_codes():
    """Anchors straight from the spec tables: an empty block in the
    nC<2 context is the single bit '1'; chroma-DC (1,1) is '1'."""
    w = H.BitWriter()
    H.cavlc_encode_block(w, [0] * 16, 0)
    assert "".join(map(str, w.bits)) == "1"
    w = H.BitWriter()
    H.cavlc_encode_block(w, [1, 0, 0, 0], -1)
    bits = "".join(map(str, w.bits))
    # coeff_token (1,1)='1', sign '+'=0, total_zeros(tc=1, tz=0)='1'
    assert bits == "101"


# --- headers ------------------------------------------------------------


def test_sps_pps_roundtrip():
    s = H.SPS()
    s.width_mbs, s.height_mbs = 5, 3
    s.crop = (0, 4, 0, 10)
    s2 = H.parse_sps(H.write_sps(s))
    assert (s2.width_mbs, s2.height_mbs, s2.crop) == (5, 3, (0, 4, 0, 10))
    p = H.PPS()
    p.pic_init_qp = 31
    p.chroma_qp_index_offset = -2
    p.deblocking_filter_control_present = True
    p2 = H.parse_pps(H.write_pps(p))
    assert (p2.pic_init_qp, p2.chroma_qp_index_offset,
            p2.deblocking_filter_control_present) == (31, -2, True)


# --- end-to-end ---------------------------------------------------------


def _gradient(h, w):
    yy, xx = np.mgrid[0:h, 0:w]
    img = np.zeros((h, w, 3), dtype=np.uint8)
    img[..., 0] = (xx * 4) % 256
    img[..., 1] = (yy * 5) % 256
    img[..., 2] = ((xx + yy) * 3) % 256
    return img


def _expected_rgb():
    recY, recCb, recCr, crop = H.encode_h264_iframe.last_reconstruction
    l, r, t, b = crop
    y = recY.astype(float)
    cb = np.repeat(np.repeat(recCb, 2, 0), 2, 1).astype(float)
    cr = np.repeat(np.repeat(recCr, 2, 0), 2, 1).astype(float)
    out = H.ycbcr_to_rgb(y, cb, cr)
    hh, ww = y.shape[0] - t - b, y.shape[1] - l - r
    return out[t : t + hh, l : l + ww]


@pytest.mark.parametrize("pattern", ["pcm", "i4", "i16", "mixed"])
def test_encode_decode_bitexact_vs_reconstruction(pattern):
    """THE contract: decoder output == encoder in-loop reconstruction
    BIT-EXACTLY (both run the integer §8.5 pipeline), for every
    macroblock kind — this catches any entropy/prediction mismatch."""
    img = _gradient(48, 64)
    data = H.encode_h264_iframe(img, qp=24, mb_pattern=pattern)
    out = H.decode_h264(data)
    assert np.array_equal(out, _expected_rgb())
    mse = np.mean((out.astype(float) - img.astype(float)) ** 2)
    assert 10 * np.log10(255**2 / mse) > 26  # quality sanity at qp 24


@pytest.mark.parametrize("qp", [0, 8, 12, 26, 36, 44, 51])
def test_full_qp_range_bitexact(qp):
    rng = np.random.default_rng(3)
    img = rng.integers(0, 256, (38, 54, 3), dtype=np.uint8)
    data = H.encode_h264_iframe(img, qp=qp, mb_pattern="mixed")
    out = H.decode_h264(data)
    assert out.shape == img.shape  # crop applied (38x54 inside 48x64 MBs)
    assert np.array_equal(out, _expected_rgb())


def test_pcm_luma_is_lossless():
    """I_PCM carries raw samples — grayscale input survives exactly
    (validates the NAL/alignment path independent of any transform)."""
    rng = np.random.default_rng(4)
    g = rng.integers(0, 256, (32, 48), dtype=np.uint8)
    out = H.decode_h264(H.encode_h264_iframe(g, qp=30, mb_pattern="pcm"))
    assert np.array_equal(out[..., 0], g)
    assert np.array_equal(out[..., 0], out[..., 1])


def test_quality_improves_with_lower_qp():
    img = _gradient(64, 80)
    def psnr(qp):
        out = H.decode_h264(H.encode_h264_iframe(img, qp=qp, mb_pattern="i4"))
        mse = np.mean((out.astype(float) - img.astype(float)) ** 2)
        return 10 * np.log10(255**2 / mse)
    p10, p40 = psnr(10), psnr(40)
    assert p10 > p40 + 3  # rate-distortion sanity


def test_bitstream_smaller_at_higher_qp():
    img = _gradient(64, 64)
    s10 = len(H.encode_h264_iframe(img, qp=10, mb_pattern="i16"))
    s44 = len(H.encode_h264_iframe(img, qp=44, mb_pattern="i16"))
    assert s44 < s10


def test_refusals_name_the_feature():
    img = _gradient(16, 16)
    data = bytearray(H.encode_h264_iframe(img, qp=30, mb_pattern="i16"))
    with pytest.raises(ValueError, match="odd|even"):
        H.encode_h264_iframe(np.zeros((15, 16), dtype=np.uint8))
    # CABAC refusal: flip entropy_coding_mode in the PPS
    pps = H.PPS()
    w = H.BitWriter()
    w.ue(0); w.ue(0); w.write_bit(1)
    w.rbsp_trailing()
    with pytest.raises(NotImplementedError, match="CABAC"):
        H.parse_pps(w.tobytes())
    # r11: deblocking-enabled stream (no slice-level control) is now
    # DECODED — §8.7 is implemented; the header defaults to filter-on
    # with zero offsets
    pps2 = H.PPS()
    pps2.deblocking_filter_control_present = False
    sps = H.SPS(); sps.width_mbs = sps.height_mbs = 1
    w2 = H.BitWriter()
    w2.ue(0)   # first_mb
    w2.ue(7)   # I slice
    w2.ue(0)   # pps id
    w2.write_bits(0, 4)  # frame_num
    w2.ue(0)   # idr_pic_id
    w2.write_bit(0); w2.write_bit(0)
    w2.se(0)
    w2.rbsp_trailing()
    fm, qp, deblock = H._parse_slice_header(H.BitReader(w2.tobytes()), sps, pps2)
    assert deblock == (0, 0, 0)
    # P-slice refusal
    w3 = H.BitWriter(); w3.ue(0); w3.ue(0)  # slice_type 0 = P
    w3.rbsp_trailing()
    with pytest.raises(NotImplementedError, match="I slices"):
        H._parse_slice_header(H.BitReader(w3.tobytes()), sps, H.PPS())


def test_avcc_framing_decodes_identically():
    img = _gradient(32, 32)
    annexb = H.encode_h264_iframe(img, qp=28, mb_pattern="mixed")
    nals = H.split_nals(annexb)
    avcc = b"".join(len(n).to_bytes(4, "big") + n for n in nals)
    assert np.array_equal(H.decode_h264(avcc), H.decode_h264(annexb))


def test_mp4_avc1_track_decodes_via_decode_video_frames():
    """Integration: an mp4 'avc1' track whose samples are the encoder's
    intra streams decodes through the same decode_video_frames path
    MJPEG uses — the h264 seam is closed for intra samples."""
    from regpulse_lakehouse_spark.operators import multimodal as MM

    f0 = _gradient(32, 48)
    f1 = 255 - f0
    samples = [H.encode_h264_iframe(f, qp=26, mb_pattern="i16") for f in (f0, f1)]
    mp4 = MM.synthetic_mp4(frames=samples, codec="avc1")
    frames = MM.decode_video_frames(mp4)
    assert len(frames) == 2
    exp0 = H.decode_h264(samples[0])
    assert np.array_equal(frames[0], exp0)
    only1 = MM.decode_video_frames(mp4, indices=[1])
    assert len(only1) == 1 and np.array_equal(only1[0], H.decode_h264(samples[1]))


# --- property tests (hypothesis, matching the codec-battery pattern) ----

try:
    from hypothesis import given, settings
    from hypothesis import strategies as st_h

    @given(
        st_h.lists(
            st_h.tuples(st_h.integers(0, 15), st_h.integers(-2000, 2000)),
            min_size=0, max_size=16,
        ),
        st_h.sampled_from([-1, 0, 1, 2, 3, 5, 7, 8, 12]),
    )
    @settings(max_examples=300, deadline=None)
    def test_cavlc_roundtrip_property(pairs, nc):
        size = 4 if nc == -1 else 16
        coeffs = [0] * size
        for pos, lvl in pairs:
            if pos < size:
                coeffs[pos] = lvl
        w = H.BitWriter()
        H.cavlc_encode_block(w, list(coeffs), nc)
        w.rbsp_trailing()
        out = H.cavlc_decode_block(H.BitReader(w.tobytes()), nc, size)
        assert list(out) == list(coeffs)

    @given(st_h.integers(0, 2**32 - 1), st_h.integers(0, 51),
           st_h.sampled_from(["i4", "i16", "mixed"]))
    @settings(max_examples=12, deadline=None)
    def test_encode_decode_property(seed, qp, pattern):
        rng = np.random.default_rng(seed)
        h = int(rng.integers(1, 3)) * 16
        w = int(rng.integers(1, 3)) * 16
        img = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
        data = H.encode_h264_iframe(img, qp=qp, mb_pattern=pattern)
        out = H.decode_h264(data)
        assert np.array_equal(out, _expected_rgb())

except ImportError:  # pragma: no cover - hypothesis is in the container
    pass


def test_multi_slice_idr_bitexact_and_isolated():
    """Conformant multi-slice IDR pictures decode bit-exactly — and the
    slice boundary really isolates: neighbor availability (nC contexts,
    predicted modes, prediction samples) stops at the boundary per
    §6.4.9, so a 2-slice stream generally differs from the 1-slice
    encode of the same image at the boundary row."""
    img = _gradient(64, 48)
    one = H.encode_h264_iframe(img, qp=22, mb_pattern="mixed", slices=1)
    for ns in (2, 3):
        multi = H.encode_h264_iframe(img, qp=22, mb_pattern="mixed", slices=ns)
        out = H.decode_h264(multi)
        assert np.array_equal(out, _expected_rgb())
        assert len(H.split_nals(multi)) == 2 + ns
    # sanity: both are high-quality decodes of the same source
    o1, o2 = H.decode_h264(one), H.decode_h264(
        H.encode_h264_iframe(img, qp=22, mb_pattern="mixed", slices=2)
    )
    for o in (o1, o2):
        mse = np.mean((o.astype(float) - img.astype(float)) ** 2)
        assert 10 * np.log10(255**2 / mse) > 26


def test_real_shaped_avc1_mp4_decodes():
    """A REAL-shaped avc1 track: SPS/PPS live in the avcC record inside
    stsd (not in the samples), samples are AVCC length-prefixed slice
    NALs only — the shape every actual encoder emits (r10 self-review
    finding 1)."""
    from regpulse_lakehouse_spark.operators import multimodal as MM

    img = _gradient(32, 48)
    annexb = H.encode_h264_iframe(img, qp=26, mb_pattern="i16")
    sps_nal, pps_nal, idr_nal = H.split_nals(annexb)
    avcc_body = (
        bytes([1, sps_nal[1], sps_nal[2], sps_nal[3], 0xFF, 0xE1])
        + len(sps_nal).to_bytes(2, "big") + sps_nal
        + bytes([1]) + len(pps_nal).to_bytes(2, "big") + pps_nal
    )
    avcc_box = (len(avcc_body) + 8).to_bytes(4, "big") + b"avcC" + avcc_body
    sample = len(idr_nal).to_bytes(4, "big") + idr_nal  # slice NAL ONLY
    mp4 = MM.synthetic_mp4(frames=[sample], codec="avc1", stsd_extra=avcc_box)
    assert MM.mp4_avcc_config(mp4) == avcc_body
    frames = MM.decode_video_frames(mp4)
    assert len(frames) == 1
    assert np.array_equal(frames[0], H.decode_h264(annexb))
    # 2-byte NAL length prefixes (lengthSizeMinusOne = 1) also honored
    avcc2 = bytearray(avcc_body)
    avcc2[4] = 0xFD  # ...1101 -> length size 2
    assert np.array_equal(
        H.decode_h264(len(idr_nal).to_bytes(2, "big") + idr_nal,
                      avcc=bytes(avcc2)),
        frames[0],
    )


def test_qp_delta_wraps_mod_52():
    """§7.4.5: QPY = (QPY_prev + mb_qp_delta + 52) % 52 — craft a slice
    whose first MB applies delta −5 at QP 2 (→ 49, not −3, which would
    feed a negative shift into the dequant)."""
    sps = H.SPS()
    sps.width_mbs = sps.height_mbs = 1
    pps = H.PPS()
    pps.pic_init_qp = 2
    pps.deblocking_filter_control_present = True
    w = H.BitWriter()
    w.ue(0); w.ue(7); w.ue(0)
    w.write_bits(0, sps.log2_max_frame_num)
    w.ue(0); w.write_bit(0); w.write_bit(0)
    w.se(0)  # slice_qp_delta: QP stays 2
    w.ue(1)  # deblocking off
    # one I_16x16 MB: pred DC, cbp 0, chroma DC, delta -5
    w.ue(1 + 2)  # mb_type: I_16x16, pred 2 (DC), cbp_chroma 0, cbp_luma 0
    w.ue(0)      # intra_chroma_pred_mode DC
    w.se(-5)     # mb_qp_delta -> QP (2 - 5 + 52) % 52 = 49
    # luma DC block: all-zero (coeff_token '1' under nC 0)
    H.cavlc_encode_block(w, [0] * 16, 0)
    w.rbsp_trailing()
    st = H._FrameState(1, 1)
    r = H.BitReader(w.tobytes())
    first_mb, qp, _deblock = H._parse_slice_header(r, sps, pps)
    qp = H._decode_mb(r, st, 0, 0, qp, pps)
    assert qp == 49
    assert np.all(st.Y == 128)  # DC prediction with no neighbors


def test_emulation_prevention_stress_black_pcm():
    """An all-black I_PCM frame is a wall of 0x00 bytes — the densest
    possible emulation-prevention workload (every 00 00 0x needs a 03
    byte): the escaped stream must carry no raw start codes inside a
    NAL and round-trip losslessly."""
    img = np.zeros((32, 32, 3), dtype=np.uint8)
    data = H.encode_h264_iframe(img, qp=26, mb_pattern="pcm")
    nals = H.split_nals(data)
    for nal in nals:
        assert b"\x00\x00\x01" not in nal and b"\x00\x00\x00" not in nal
    out = H.decode_h264(data)
    # PCM luma lossless: Y of black RGB is 0 -> decoded RGB stays black
    assert np.array_equal(out, np.zeros_like(img))


def test_avcc_sample_with_00_00_01_length_prefix_decodes():
    """An AVCC sample whose first NAL is 256-511 bytes has a 4-byte
    length prefix of 00 00 01 xx — byte-identical to an Annex B start
    code. With an avcC record present the framing is KNOWN, so the
    decoder must not sniff (r10 review finding: sniffing sent these
    conformant samples down the Annex B branch and decode failed)."""
    # tune content until the IDR slice NAL lands in [256, 511] bytes
    idr_nal = sps_nal = pps_nal = None
    rng = np.random.default_rng(17)
    for qp in range(20, 45):
        img = rng.integers(0, 256, (16, 48, 3), dtype=np.uint8)
        nals = H.split_nals(H.encode_h264_iframe(img, qp=qp, mb_pattern="i4"))
        if 256 <= len(nals[2]) <= 511:
            sps_nal, pps_nal, idr_nal = nals
            break
    assert idr_nal is not None, "fixture could not hit the 256-511 range"
    sample = len(idr_nal).to_bytes(4, "big") + idr_nal
    assert sample[:3] == b"\x00\x00\x01"  # the ambiguous prefix
    avcc = (
        bytes([1, sps_nal[1], sps_nal[2], sps_nal[3], 0xFF, 0xE1])
        + len(sps_nal).to_bytes(2, "big") + sps_nal
        + bytes([1]) + len(pps_nal).to_bytes(2, "big") + pps_nal
    )
    out = H.decode_h264(sample, avcc=avcc)
    annexb = (b"\x00\x00\x00\x01" + sps_nal + b"\x00\x00\x00\x01" + pps_nal
              + b"\x00\x00\x00\x01" + idr_nal)
    assert np.array_equal(out, H.decode_h264(annexb))


def test_avcc_scan_not_fooled_by_mdat_bytes():
    """The avcC locator must scope to the stsd box: bytes inside frame
    data (mdat precedes moov) that happen to spell a plausible avcC
    header must not shadow the real record (r10 review finding)."""
    from regpulse_lakehouse_spark.operators import multimodal as MM

    img = _gradient(16, 16)
    annexb = H.encode_h264_iframe(img, qp=26, mb_pattern="i16")
    sps_nal, pps_nal, idr_nal = H.split_nals(annexb)
    real_avcc = (
        bytes([1, sps_nal[1], sps_nal[2], sps_nal[3], 0xFF, 0xE1])
        + len(sps_nal).to_bytes(2, "big") + sps_nal
        + bytes([1]) + len(pps_nal).to_bytes(2, "big") + pps_nal
    )
    avcc_box = (len(real_avcc) + 8).to_bytes(4, "big") + b"avcC" + real_avcc
    # a decoy that would satisfy a naive whole-payload scan, riding
    # INSIDE the sample data
    decoy = (16).to_bytes(4, "big") + b"avcC" + b"\x01" + b"\x00" * 7
    # the decoy rides as its own (undecodable) sample's bytes in mdat,
    # BEFORE moov/stsd in the file — a whole-payload scan found it first
    mp4 = MM.synthetic_mp4(
        frames=[decoy + b"\x00" * 8,
                len(idr_nal).to_bytes(4, "big") + idr_nal],
        codec="avc1", stsd_extra=avcc_box,
    )
    assert MM.mp4_avcc_config(mp4) == real_avcc
    frames = MM.decode_video_frames(mp4, indices=[1])
    assert np.array_equal(frames[0], H.decode_h264(annexb))


def test_malformed_avcc_raises_loudly():
    with pytest.raises(ValueError, match="avcC|version"):
        H.parse_avcc_config(b"\x02\x00\x00")
    # truncated parameter-set list
    bad = bytes([1, 66, 0, 30, 0xFF, 0xE1]) + (999).to_bytes(2, "big")
    with pytest.raises(ValueError, match="malformed avcC"):
        H.parse_avcc_config(bad + b"\x00\x00")


def test_decoder_survives_random_corruption():
    """Robustness: flipping bytes anywhere in a valid stream must
    either still decode (corruption in padding/unused space) or raise
    promptly — never hang (all VLC/Exp-Golomb/level loops are bounded)
    and never return a malformed array. 120 deterministic mutations."""
    img = _gradient(32, 48)
    base = bytearray(H.encode_h264_iframe(img, qp=28, mb_pattern="mixed"))
    rng = np.random.default_rng(42)
    outcomes = {"ok": 0, "raised": 0}
    for trial in range(120):
        data = bytearray(base)
        for _ in range(int(rng.integers(1, 4))):
            pos = int(rng.integers(4, len(data)))  # keep the first start code
            data[pos] = int(rng.integers(0, 256))
        try:
            out = H.decode_h264(bytes(data))
        except Exception:
            outcomes["raised"] += 1
        else:
            assert out.dtype == np.uint8 and out.ndim == 3 and out.shape[2] == 3
            outcomes["ok"] += 1
    # both outcomes must occur across 120 trials: corruption is usually
    # fatal, but hits in padding/escape bytes can be survivable
    assert outcomes["raised"] > 0
    assert outcomes["ok"] + outcomes["raised"] == 120


def test_mixed_fixture_exercises_every_prediction_mode(monkeypatch):
    """The docstring claims the mixed pattern exercises every entropy +
    prediction path — pin it: spy the three prediction functions during
    a decode of a large-enough mixed encode and assert all 9 Intra_4x4,
    all 4 Intra_16x16 and all 4 chroma modes actually ran."""
    seen4, seen16, seenc = set(), set(), set()
    real4, real16, realc = H._pred4x4, H._pred16x16, H._pred_chroma

    def spy4(mode, *a):
        seen4.add(mode)
        return real4(mode, *a)

    def spy16(mode, *a):
        seen16.add(mode)
        return real16(mode, *a)

    def spyc(mode, *a):
        seenc.add(mode)
        return realc(mode, *a)

    monkeypatch.setattr(H, "_pred4x4", spy4)
    monkeypatch.setattr(H, "_pred16x16", spy16)
    monkeypatch.setattr(H, "_pred_chroma", spyc)
    img = _gradient(96, 128)  # 48 MBs: 16 each of pcm/i4/i16
    H.decode_h264(H.encode_h264_iframe(img, qp=24, mb_pattern="mixed"))
    assert seen4 == set(range(9)), seen4
    assert seen16 == set(range(4)), seen16
    assert seenc == set(range(4)), seenc


def test_corrupt_cavlc_raises_valueerror_not_indexerror():
    """r10 ADVICE item 3: a malformed stream can pair a legal
    coeff_token with a legal total_zeros whose SUM overruns the block
    (the 15-coeff AC block shares the 16-coeff total_zeros tables:
    TotalCoeff=14 + total_zeros=2 -> position 15) — the decoder must
    keep its documented ValueError error model, not surface a raw
    IndexError from coefficient placement."""
    w = H.BitWriter()
    ct_inv = H._invert(H.coeff_token_table(8))
    w.write_str(ct_inv[(14, 0)])    # TotalCoeff=14, no trailing ones
    for _ in range(14):
        w.write_str("10")           # level_prefix 0 + 1 suffix bit
    w.write_str(H._invert(H._TOTAL_ZEROS_4x4[14])[2])  # tz=2: 14+2>15
    w.write_bits(0, 16 - (len(w.bits) % 8))
    with pytest.raises(ValueError, match="corrupt CAVLC"):
        H.cavlc_decode_block(H.BitReader(w.tobytes()), 8, 15)


def test_corrupt_run_before_overrun_raises_valueerror():
    """The zerosLeft>6 run_before table admits escape runs up to 14; a
    corrupt stream claiming run > zeros_left must fail loudly (it would
    otherwise drive the final implicit run negative and walk the write
    position back out of bounds)."""
    w = H.BitWriter()
    ct_inv = H._invert(H.coeff_token_table(0))
    w.write_str(ct_inv[(3, 3)])     # TotalCoeff=3, three trailing ones
    w.write_bits(0, 3)              # signs
    tz_inv = H._invert(H._TOTAL_ZEROS_4x4[3])
    w.write_str(tz_inv[13])         # total_zeros=13 (3+13=16: legal)
    run_tab = H._invert(H.run_before_table(13))
    w.write_str(run_tab[14])        # claim run 14 > zeros_left 13
    w.write_bits(0, 16 - (len(w.bits) % 8))
    with pytest.raises(ValueError, match="run_before overrun"):
        H.cavlc_decode_block(H.BitReader(w.tobytes()), 0, 16)


# ---------------------------------------------------------------------
# §8.7 in-loop deblocking (r11 — VERDICT r10 lead item)
# ---------------------------------------------------------------------


def test_deblock_tables_are_structurally_sound():
    """Spec tables are monotonic non-decreasing in the index and the
    tc0 rows are ordered bS1 <= bS2 <= bS3 pointwise; endpoint values
    anchored to the published Table 8-16/8-17 maxima."""
    for t in (H._DEBLOCK_ALPHA, H._DEBLOCK_BETA, *H._DEBLOCK_TC0):
        assert len(t) == 52 and np.all(np.diff(t) >= 0)
    assert H._DEBLOCK_ALPHA[51] == 255 and H._DEBLOCK_BETA[51] == 18
    assert list(H._DEBLOCK_TC0[:, 51]) == [11, 15, 25]
    assert np.all(H._DEBLOCK_TC0[0] <= H._DEBLOCK_TC0[1])
    assert np.all(H._DEBLOCK_TC0[1] <= H._DEBLOCK_TC0[2])
    assert np.all(H._DEBLOCK_ALPHA[:16] == 0) and np.all(H._DEBLOCK_BETA[:16] == 0)


@pytest.mark.parametrize("pattern", ["pcm", "i4", "i16", "mixed"])
def test_deblocking_encode_decode_bitexact(pattern):
    """Filter-on streams: decoder §8.7 output == encoder twin's
    reconstruction (which runs the SAME deblock_frame post-hoc)
    bit-exactly, for every macroblock kind incl. I_PCM's QPY=0
    deblock rule."""
    img = _gradient(48, 64)
    data = H.encode_h264_iframe(img, qp=30, mb_pattern=pattern, deblocking=True)
    out = H.decode_h264(data)
    assert np.array_equal(out, _expected_rgb())


@pytest.mark.parametrize("qp", [8, 26, 38, 51])
def test_deblocking_full_qp_range_bitexact(qp):
    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, (38, 54, 3), dtype=np.uint8)
    data = H.encode_h264_iframe(img, qp=qp, mb_pattern="mixed", deblocking=True)
    assert np.array_equal(H.decode_h264(data), _expected_rgb())


def test_deblocking_multi_slice_bitexact_and_idc2_skips_boundaries():
    img = _gradient(64, 64)
    data = H.encode_h264_iframe(img, qp=34, mb_pattern="i16", slices=3,
                                deblocking=True)
    out = H.decode_h264(data)
    assert np.array_equal(out, _expected_rgb())


def test_deblocking_actually_changes_blocky_output():
    """Non-vacuity: at high QP a smooth gradient quantizes into visible
    4x4/16x16 steps; the filter must modify edge samples (and improve
    or hold PSNR vs the unfiltered decode)."""
    img = _gradient(64, 80)
    off = H.decode_h264(H.encode_h264_iframe(img, qp=40, mb_pattern="i16"))
    on = H.decode_h264(
        H.encode_h264_iframe(img, qp=40, mb_pattern="i16", deblocking=True)
    )
    assert not np.array_equal(off, on)
    mse_off = np.mean((off.astype(float) - img.astype(float)) ** 2)
    mse_on = np.mean((on.astype(float) - img.astype(float)) ** 2)
    assert mse_on <= mse_off * 1.05  # filter must not wreck fidelity


def test_deblocking_filter_off_behavior_unchanged():
    """deblocking=False streams decode exactly as before (idc=1 path
    untouched)."""
    img = _gradient(32, 48)
    data = H.encode_h264_iframe(img, qp=28, mb_pattern="mixed")
    out = H.decode_h264(data)
    assert np.array_equal(out, _expected_rgb())


def test_real_shaped_avc1_with_deblocking_on_decodes():
    """The r10 gap in one fixture: a real-shaped avcC mp4 whose PPS
    carries NO slice-level deblocking control (the filter defaults ON,
    no idc fields in the slice header — what most wild encoders emit)
    must decode end-to-end and match the in-library filtered
    reconstruction."""
    from regpulse_lakehouse_spark.operators import multimodal as MM

    img = _gradient(48, 48)
    annexb = H.encode_h264_iframe(img, qp=36, mb_pattern="mixed",
                                  deblocking="default")
    expected = _expected_rgb()
    assert np.array_equal(H.decode_h264(annexb), expected)
    sps_nal, pps_nal, idr_nal = H.split_nals(annexb)
    avcc_body = (
        bytes([1, sps_nal[1], sps_nal[2], sps_nal[3], 0xFF, 0xE1])
        + len(sps_nal).to_bytes(2, "big") + sps_nal
        + bytes([1]) + len(pps_nal).to_bytes(2, "big") + pps_nal
    )
    avcc_box = (len(avcc_body) + 8).to_bytes(4, "big") + b"avcC" + avcc_body
    sample = len(idr_nal).to_bytes(4, "big") + idr_nal
    mp4 = MM.synthetic_mp4(frames=[sample], codec="avc1", stsd_extra=avcc_box)
    frames = MM.decode_video_frames(mp4)
    assert len(frames) == 1 and np.array_equal(frames[0], expected)


def test_poc_type0_streams_decode():
    """r11: pic_order_cnt_type 0 is the x264/real-world DEFAULT; the
    decoder used to refuse it at the slice header although an
    intra-only decode never uses the lsb value. A poc0 + filter-on
    stream (the wild-stream default shape on both axes) must decode
    bit-exactly vs the encoder twin."""
    img = _gradient(48, 48)
    data = H.encode_h264_iframe(img, qp=30, mb_pattern="mixed",
                                deblocking=True, poc_type=0)
    out = H.decode_h264(data)
    assert np.array_equal(out, _expected_rgb())
    # SPS roundtrip keeps the poc fields
    sps_nal = H.split_nals(data)[0]
    sps = H.parse_sps(H.rbsp_unescape(sps_nal[1:]))
    assert sps.pic_order_cnt_type == 0 and sps.log2_max_poc_lsb == 4
    # and the poc2 path is unchanged
    d2 = H.encode_h264_iframe(img, qp=30, mb_pattern="mixed")
    assert np.array_equal(H.decode_h264(d2), _expected_rgb())


def test_non_idr_i_slice_decodes():
    """r11: an I slice in a NON-IDR picture (periodic intra refresh —
    common in wild streams) is intra-only and must decode; only the
    header differs (no idr_pic_id, adaptive dec_ref_pic_marking).
    Bit-exact vs the IDR encode of the same frame, incl. poc0 +
    filter-on (the full wild-stream default shape)."""
    img = _gradient(48, 48)
    ref = H.decode_h264(
        H.encode_h264_iframe(img, qp=30, mb_pattern="mixed",
                             deblocking=True, poc_type=0)
    )
    data = H.encode_h264_iframe(img, qp=30, mb_pattern="mixed",
                                deblocking=True, poc_type=0, idr=False)
    nals = H.split_nals(data)
    assert nals[2][0] & 0x1F == 1  # really a non-IDR NAL
    assert np.array_equal(H.decode_h264(data), ref)
    # P slices still refuse by name, MMCO refuses by name
    w = H.BitWriter(); w.ue(0); w.ue(0)  # slice_type 0 = P
    w.rbsp_trailing()
    with pytest.raises(NotImplementedError, match="I slices"):
        H._parse_slice_header(H.BitReader(w.tobytes()), H.SPS(), H.PPS(),
                              idr=False, nal_ref_idc=2)
