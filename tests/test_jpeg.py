"""Baseline JPEG codec (operators/jpeg.py) — verified with INDEPENDENT
reimplementations where encoder/decoder symmetry could hide a bug:
the IDCT against the direct cosine-sum formula, the canonical Huffman
assignment against known Annex K codewords, plus round trips (4:4:4
and 4:2:0), exactness on DC-only images, and rejection paths."""

from __future__ import annotations

import numpy as np
import pytest

from regpulse_lakehouse_spark.operators import jpeg as J


def test_idct_matches_direct_cosine_sum():
    coeffs = ((np.arange(64).reshape(8, 8) * 7.3) % 41) - 20
    direct = np.zeros((8, 8))
    for x in range(8):
        for y in range(8):
            s = 0.0
            for u in range(8):
                for v in range(8):
                    cu = (1 / np.sqrt(2)) if u == 0 else 1.0
                    cv = (1 / np.sqrt(2)) if v == 0 else 1.0
                    s += (
                        cu * cv * coeffs[u, v]
                        * np.cos((2 * x + 1) * u * np.pi / 16)
                        * np.cos((2 * y + 1) * v * np.pi / 16)
                    )
            direct[x, y] = s / 4.0
    assert np.abs(J.idct2(coeffs) - direct).max() < 1e-9


def test_huffman_canonical_codes_match_annex_k():
    dc = J._huff_codes(*J.DC_LUMA)
    # T.81 Annex K.3.1: category -> codeword
    assert dc[0] == (0b00, 2)
    assert dc[1] == (0b010, 3)
    assert dc[5] == (0b110, 3)
    assert dc[6] == (0b1110, 4)
    assert dc[11] == (0b111111110, 9)
    ac = J._huff_codes(*J.AC_LUMA)
    assert ac[0x00] == (0b1010, 4)       # EOB
    assert ac[0x01] == (0b00, 2)         # run 0 / size 1
    assert ac[0xF0] == (0b11111111001, 11)  # ZRL


def _gradient(h, w):
    x = np.arange(w)
    y = np.arange(h)
    r = np.broadcast_to((x * 255 // max(1, w - 1)).astype(np.uint8), (h, w))
    g = np.broadcast_to(((y * 255 // max(1, h - 1)).astype(np.uint8))[:, None], (h, w))
    b = np.full((h, w), 77, dtype=np.uint8)
    return np.stack([r, g, b], axis=2)


def test_roundtrip_444_and_gray():
    rgb = _gradient(25, 34)
    back = J.decode_jpeg(J.encode_jpeg(rgb, quality=95))
    assert back.shape == rgb.shape
    err = np.abs(back.astype(int) - rgb.astype(int))
    assert err.mean() < 2 and err.max() <= 12
    gray = rgb[:, :, 1]
    back_g = J.decode_jpeg(J.encode_jpeg(gray, quality=95))
    assert back_g.shape == gray.shape
    assert np.abs(back_g.astype(int) - gray.astype(int)).max() <= 6


def test_roundtrip_420_subsampled():
    rgb = _gradient(37, 51)  # deliberately not a multiple of 16
    back = J.decode_jpeg(J.encode_jpeg(rgb, quality=90, subsample=True))
    assert back.shape == rgb.shape
    err = np.abs(back.astype(int) - rgb.astype(int))
    assert err.mean() < 4 and err.max() <= 25  # chroma loss is real but bounded


def test_uniform_image_is_lossless():
    img = np.full((24, 33), 130, dtype=np.uint8)
    back = J.decode_jpeg(J.encode_jpeg(img, quality=90))
    assert (back == img).all()  # DC-only block survives quantization


def test_restart_markers_decode_correctly():
    """Advisor repro (round 5, high): a 2-MCU grayscale image with
    DRI=1 decoded to block means 40/0 instead of 200/40 because the
    bit reader destroyed unconsumed bits at the marker and never
    byte-aligned. The fix byte-aligns + consumes RSTn explicitly."""
    img = np.zeros((8, 16), dtype=np.uint8)
    img[:, :8] = 200
    img[:, 8:] = 40
    payload = J.encode_jpeg(img, quality=95, restart_interval=1)
    assert b"\xff\xdd" in payload  # DRI segment present
    assert b"\xff\xd0" in payload  # at least one RST0 emitted
    back = J.decode_jpeg(payload)
    assert abs(float(back[:, :8].mean()) - 200.0) <= 2.0
    assert abs(float(back[:, 8:].mean()) - 40.0) <= 2.0
    # and the restart stream decodes identically to the plain stream
    plain = J.decode_jpeg(J.encode_jpeg(img, quality=95))
    assert (back == plain).all()


@pytest.mark.parametrize("dri", [1, 2, 3, 7])
def test_restart_roundtrip_intervals(dri):
    rgb = _gradient(25, 34)  # 4:4:4 -> 20 MCUs, exercises RSTn cycling
    with_rst = J.decode_jpeg(J.encode_jpeg(rgb, quality=95, restart_interval=dri))
    without = J.decode_jpeg(J.encode_jpeg(rgb, quality=95))
    assert (with_rst == without).all()


def test_restart_roundtrip_subsampled():
    rgb = _gradient(37, 51)
    with_rst = J.decode_jpeg(
        J.encode_jpeg(rgb, quality=90, subsample=True, restart_interval=2)
    )
    without = J.decode_jpeg(J.encode_jpeg(rgb, quality=90, subsample=True))
    assert (with_rst == without).all()


def test_missing_restart_marker_is_loud():
    """A DRI stream whose markers were stripped must error, not decode
    garbage silently."""
    img = np.tile(np.arange(16, dtype=np.uint8) * 15, (8, 1))
    payload = bytearray(J.encode_jpeg(img, quality=95, restart_interval=1))
    sos = bytes(payload).find(b"\xff\xda")
    body = bytearray(payload[sos:])
    k = 0
    while k + 1 < len(body):  # strip RSTn from the entropy stream
        if body[k] == 0xFF and 0xD0 <= body[k + 1] <= 0xD7:
            del body[k : k + 2]
        else:
            k += 1
    with pytest.raises(ValueError, match="restart marker"):
        J.decode_jpeg(bytes(payload[:sos]) + bytes(body))


# --- progressive (SOF2) -----------------------------------------------------


def test_progressive_equals_baseline_gray_and_rgb():
    """The progressive encoder quantizes identically to the baseline
    one, so the decoded pixels must match the baseline path EXACTLY —
    end-to-end verification of spectral selection + successive
    approximation (DC Al=1+refine, luma AC Al=2→1→0)."""
    gray = ((np.arange(24 * 33, dtype=np.int64) * 37 + 11) % 251).astype(np.uint8).reshape(24, 33)
    assert (
        J.decode_jpeg(J.encode_jpeg_progressive(gray, quality=90))
        == J.decode_jpeg(J.encode_jpeg(gray, quality=90))
    ).all()
    rgb = _gradient(25, 34)
    assert (
        J.decode_jpeg(J.encode_jpeg_progressive(rgb, quality=95))
        == J.decode_jpeg(J.encode_jpeg(rgb, quality=95))
    ).all()


def test_progressive_420_subsampled_equals_baseline():
    rgb = _gradient(37, 51)  # not a multiple of 16: uneven MCU + true grids
    prog = J.decode_jpeg(J.encode_jpeg_progressive(rgb, quality=90, subsample=True))
    base = J.decode_jpeg(J.encode_jpeg(rgb, quality=90, subsample=True))
    assert (prog == base).all()


def test_progressive_quality_sweep_and_noise():
    rng_like = ((np.arange(16 * 24 * 3, dtype=np.int64) * 193 + 7) % 256).astype(np.uint8)
    img = rng_like.reshape(16, 24, 3)  # high-frequency content: many AC coeffs
    for q in (50, 75, 95):
        assert (
            J.decode_jpeg(J.encode_jpeg_progressive(img, quality=q))
            == J.decode_jpeg(J.encode_jpeg(img, quality=q))
        ).all()


def test_progressive_eobn_run_spans_blocks():
    """The encoder caps EOB runs at EOB0, so the decoder's general
    EOBn path (r > 0 with appended run-length bits) gets a hand-built
    stream: three constant 8×8 blocks whose AC band is all zero,
    covered by ONE EOB1 code + 1 extra bit (run = 2+1 = 3 blocks)."""
    import struct

    def seg(marker, body):
        return struct.pack(">BBH", 0xFF, marker, len(body) + 2) + body

    q_l = J._scale_qtab(J.QTAB_LUMA, 50)
    dqt = seg(0xDB, bytes([0]) + bytes(int(v) for v in q_l.ravel()[J.ZIGZAG]))
    dht_dc = seg(0xC4, bytes([0x00]) + bytes(J.DC_LUMA[0]) + bytes(J.DC_LUMA[1]))
    # custom AC table: two 2-bit codes — 00 → 0x10 (EOB1), 01 → 0x00 (EOB0)
    dht_ac = seg(0xC4, bytes([0x10]) + bytes([0, 2] + [0] * 14) + bytes([0x10, 0x00]))
    sof = seg(0xC2, bytes([8]) + struct.pack(">HH", 8, 24) + bytes([1, 1, 0x11, 0]))

    # DC first scan (Ss=0 Se=0 Ah=0 Al=0): three blocks 100/150/200
    dc_codes = J._huff_codes(*J.DC_LUMA)
    wr = J._BitWriter()
    pred = 0
    for v in (100, 150, 200):
        dc = int(round((v - 128.0) * 8.0 / float(q_l[0, 0])))
        t, bits = J._mag_bits(dc - pred)
        pred = dc
        wr.put(*dc_codes[t])
        if t:
            wr.put(bits, t)
    sos_dc = seg(0xDA, bytes([1, 1, 0x00, 0, 0, 0x00])) + wr.flush_scan()
    # AC first scan: EOB1 (code 00) + 1 run bit (1) → eobrun 3
    wr.put(0b00, 2)
    wr.put_bit(1)
    sos_ac = seg(0xDA, bytes([1, 1, 0x00, 1, 63, 0x00])) + wr.flush_scan()

    payload = b"\xff\xd8" + dqt + dht_dc + dht_ac + sof + sos_dc + sos_ac + b"\xff\xd9"
    img = J.decode_jpeg(payload)
    assert img.shape == (8, 24)
    for i, v in enumerate((100, 150, 200)):
        block = img[:, i * 8 : (i + 1) * 8].astype(float)
        assert abs(block.mean() - v) <= 2.0 and block.std() < 1.0


def test_rejections():
    with pytest.raises(ValueError, match="SOI"):
        J.decode_jpeg(b"nope")
    good = bytearray(J.encode_jpeg(np.full((8, 8), 9, dtype=np.uint8)))
    # flip SOF0 (FFC0) to SOF3 (FFC3 lossless)
    i = bytes(good).find(b"\xff\xc0")
    bad = bytes(good[:i]) + b"\xff\xc3" + bytes(good[i + 2 :])
    with pytest.raises(ValueError, match="lossless|unsupported"):
        J.decode_jpeg(bad)


def test_noninterleaved_baseline_equals_interleaved():
    """T.81 A.2.2: one SOS per component. The quantized coefficients
    match the interleaved layout's exactly, so decodes are bit-equal
    (odd dimensions exercise the per-component block-grid rounding)."""
    for h, w in ((16, 16), (25, 34), (9, 11)):
        rgb = _gradient(h, w)
        inter = J.decode_jpeg(J.encode_jpeg(rgb, quality=90))
        multi = J.encode_jpeg(rgb, quality=90, noninterleaved=True)
        assert multi.count(b"\xff\xda") >= 3  # really three scans
        assert (J.decode_jpeg(multi) == inter).all()


def test_noninterleaved_with_restart_markers():
    rgb = _gradient(25, 34)
    inter = J.decode_jpeg(J.encode_jpeg(rgb, quality=95))
    multi = J.encode_jpeg(rgb, quality=95, noninterleaved=True, restart_interval=3)
    assert (J.decode_jpeg(multi) == inter).all()


def test_noninterleaved_rejections():
    # subsampled non-interleaved encoding unsupported (encoder side)
    with pytest.raises(ValueError, match="4:4:4"):
        J.encode_jpeg(_gradient(16, 16), subsample=True, noninterleaved=True)
    # a PARTIAL interleaved scan (2 of 3 comps) rejects loudly
    payload = bytearray(J.encode_jpeg(_gradient(16, 16), quality=90))
    i = bytes(payload).find(b"\xff\xda")
    assert payload[i + 4] == 3
    import struct as _s

    two_comp_sos = _s.pack(">BBH", 0xFF, 0xDA, 10) + bytes(
        [2, 1, 0x00, 2, 0x11, 0, 63, 0]
    )
    rewritten = bytes(payload[:i]) + two_comp_sos + bytes(payload[i + 14 :])
    with pytest.raises(ValueError, match="partial-scan baseline"):
        J.decode_jpeg(rewritten)
    # a lone single-component scan of a 3-component frame: loud (bad
    # entropy data or missing component scans), never KeyError mid-MCU
    one_comp_sos = _s.pack(">BBH", 0xFF, 0xDA, 8) + bytes([1, 1, 0x00, 0, 63, 0])
    lone = bytes(payload[:i]) + one_comp_sos + bytes(payload[i + 14 :])
    with pytest.raises(ValueError):
        J.decode_jpeg(lone)


def _gradient12(h, w):
    """Deterministic 12-bit RGB test image spanning most of 0..4095."""
    x = np.arange(w, dtype=np.float64)[None, :]
    y = np.arange(h, dtype=np.float64)[:, None]
    r = (x / max(w - 1, 1)) * 4095.0 + 0 * y
    g = (y / max(h - 1, 1)) * 4095.0 + 0 * x
    b = ((x + y) / max(w + h - 2, 1)) * 4095.0
    return np.clip(np.stack([r, g, b], axis=2), 0, 4095).astype(np.uint16)


def test_12bit_roundtrip_gray_and_rgb():
    gray = _gradient12(24, 33)[:, :, 0]
    back = J.decode_jpeg(J.encode_jpeg(gray, quality=95, precision=12))
    assert back.dtype == np.uint16 and back.shape == gray.shape
    # lossy but tight on the 0..4095 scale
    assert float(np.abs(back.astype(np.int64) - gray.astype(np.int64)).mean()) < 40.0
    rgb = _gradient12(25, 34)
    back = J.decode_jpeg(J.encode_jpeg(rgb, quality=95, precision=12))
    assert back.dtype == np.uint16 and back.shape == rgb.shape
    assert float(np.abs(back.astype(np.int64) - rgb.astype(np.int64)).mean()) < 80.0


def test_12bit_uniform_is_near_lossless_and_noninterleaved_matches():
    img = np.full((16, 16, 3), 3000, dtype=np.uint16)
    inter = J.decode_jpeg(J.encode_jpeg(img, quality=95, precision=12))
    assert float(np.abs(inter.astype(np.int64) - 3000).max()) <= 4.0
    multi = J.encode_jpeg(img, quality=95, precision=12, noninterleaved=True)
    assert (J.decode_jpeg(multi) == inter).all()


def test_12bit_rejections():
    with pytest.raises(ValueError, match="precision"):
        J.encode_jpeg(_gradient(8, 8), precision=10)
    # a 12-bit payload whose SOF precision byte is overwritten to an
    # unsupported value rejects loudly
    payload = bytearray(J.encode_jpeg(_gradient12(8, 8), quality=95, precision=12))
    i = bytes(payload).find(b"\xff\xc0")
    bad = bytes(payload[: i + 4]) + b"\x0a" + bytes(payload[i + 5 :])
    with pytest.raises(ValueError, match="8/12-bit"):
        J.decode_jpeg(bad)


# --- CMYK / YCCK (Adobe APP14) ----------------------------------------------


def _cmyk_fixture(h, w):
    x = np.arange(w, dtype=np.float64)[None, :]
    y = np.arange(h, dtype=np.float64)[:, None]
    c = (x / max(w - 1, 1)) * 255.0 + 0 * y
    m = (y / max(h - 1, 1)) * 255.0 + 0 * x
    ye = ((x + y) / max(w + h - 2, 1)) * 200.0
    k = np.full((h, w), 40.0)
    return np.clip(np.stack([c, m, ye, k], axis=2), 0, 255).astype(np.uint8)


def _cmyk_to_rgb_ref(cmyk):
    """The decode-side ground truth: naive CMYK→RGB on the original."""
    f = cmyk.astype(np.float64)
    k = 255.0 - f[:, :, 3]
    return np.stack(
        [(255.0 - f[:, :, i]) * k / 255.0 for i in range(3)], axis=2
    )


def test_cmyk_ycck_decodes_to_rgb():
    cmyk = _cmyk_fixture(24, 33)
    payload = J.encode_jpeg(cmyk, quality=95)  # ycck=True default
    assert b"Adobe" in payload  # APP14 emitted
    got = J.decode_jpeg(payload)
    assert got.shape == (24, 33, 3) and got.dtype == np.uint8
    want = _cmyk_to_rgb_ref(cmyk)
    assert float(np.abs(got.astype(np.float64) - want).mean()) < 4.0


def test_cmyk_plain_transform0_matches_ycck():
    cmyk = _cmyk_fixture(16, 16)
    via_ycck = J.decode_jpeg(J.encode_jpeg(cmyk, quality=95, ycck=True))
    via_plain = J.decode_jpeg(J.encode_jpeg(cmyk, quality=95, ycck=False))
    # two encodings of the same ink values land on the same RGB (both
    # lossy; compare against the shared ground truth, not each other bit-wise)
    want = _cmyk_to_rgb_ref(cmyk)
    for got in (via_ycck, via_plain):
        assert float(np.abs(got.astype(np.float64) - want).mean()) < 4.0


def test_cmyk_noninterleaved_equals_interleaved():
    cmyk = _cmyk_fixture(17, 22)
    inter = J.decode_jpeg(J.encode_jpeg(cmyk, quality=95))
    multi = J.encode_jpeg(cmyk, quality=95, noninterleaved=True)
    assert multi.count(b"\xff\xda") >= 4  # four per-component scans
    assert (J.decode_jpeg(multi) == inter).all()


def test_cmyk_rejections():
    with pytest.raises(ValueError, match="4:4:4"):
        J.encode_jpeg(_cmyk_fixture(16, 16), subsample=True)


def test_sof1_extended_sequential_decodes_as_baseline():
    """SOF1 (extended sequential) differs from SOF0 only in allowed
    precision/table budgets — a 12-bit stream relabeled SOF1 must
    decode byte-equal to its SOF0 form; truly unsupported SOFs still
    reject by class."""
    import numpy as np
    import pytest as _pytest

    rng = np.random.default_rng(13)
    img = rng.integers(0, 4096, (16, 16)).astype(np.uint16)
    payload = bytearray(J.encode_jpeg(img, quality=90, precision=12))
    i = payload.find(b"\xff\xc0")
    base = J.decode_jpeg(bytes(payload))
    payload[i + 1] = 0xC1
    assert np.array_equal(J.decode_jpeg(bytes(payload)), base)
    payload[i + 1] = 0xC5
    with _pytest.raises(ValueError, match="hierarchical"):
        J.decode_jpeg(bytes(payload))


@pytest.mark.parametrize("predictor", range(1, 8))
def test_lossless_roundtrip_every_predictor(predictor):
    """SOF3 must reproduce the source EXACTLY under every predictor —
    8-bit gray, 8-bit RGB (components stored directly, no color
    transform), and 16-bit gray."""
    rng = np.random.default_rng(predictor)
    for img in (
        rng.integers(0, 256, (13, 17), dtype=np.uint8),
        rng.integers(0, 256, (9, 11, 3), dtype=np.uint8),
        rng.integers(0, 65536, (8, 10)).astype(np.uint16),
    ):
        out = J.decode_jpeg(J.encode_jpeg_lossless(img, predictor=predictor))
        assert np.array_equal(out, img) and out.dtype == img.dtype


def test_lossless_category16_and_extremes():
    """A 16-bit sample whose difference is exactly ±32768 mod 2^16
    takes the bits-free category-16 path; saturated checkerboards
    drive every magnitude category."""
    img = np.array([[0, 65535], [65535, 0]], dtype=np.uint16)
    assert np.array_equal(J.decode_jpeg(J.encode_jpeg_lossless(img)), img)
    big = np.zeros((6, 6), dtype=np.uint16)
    big[::2, ::2] = 65535
    big[1::2, 1::2] = 32768
    assert np.array_equal(J.decode_jpeg(J.encode_jpeg_lossless(big, predictor=4)), big)


def test_lossless_restart_and_point_transform():
    rng = np.random.default_rng(5)
    img = rng.integers(0, 256, (12, 12), dtype=np.uint8)
    out = J.decode_jpeg(J.encode_jpeg_lossless(img, predictor=2, restart_interval=5))
    assert np.array_equal(out, img)
    # point transform: the one lossy knob — decode returns (x>>pt)<<pt
    out2 = J.decode_jpeg(J.encode_jpeg_lossless(img, pt=3))
    assert np.array_equal(out2, (img >> 3) << 3)


def test_lossless_12bit_and_validation():
    rng = np.random.default_rng(6)
    img = rng.integers(0, 4096, (10, 10)).astype(np.uint16)
    out = J.decode_jpeg(J.encode_jpeg_lossless(img, precision=12, predictor=6))
    assert np.array_equal(out, img)
    with pytest.raises(ValueError, match="predictor"):
        J.encode_jpeg_lossless(img, predictor=0)
    with pytest.raises(ValueError, match="pt must"):
        J.encode_jpeg_lossless(img, precision=12, pt=12)
