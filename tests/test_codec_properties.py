"""Property-based codec verification (hypothesis): the lossless
formats (PNG plain/Adam7, GIF plain/interlaced) must round-trip ANY
uint8 array exactly, and the lossy JPEG paths must agree with each
other exactly (progressive ≡ baseline on identical quantization) for
arbitrary image content — the adversarial inputs a fixed fixture can
never enumerate (extreme dims, flat blocks, saturated values)."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings, strategies as st

from regpulse_lakehouse_spark.operators import jpeg as J
from regpulse_lakehouse_spark.operators import multimodal as MM


def _img(draw, max_h=24, max_w=24, chs=(1, 3, 4)):
    h = draw(st.integers(1, max_h))
    w = draw(st.integers(1, max_w))
    ch = draw(st.sampled_from(chs))
    n = h * w * (1 if ch == 1 else ch)
    seed = draw(st.integers(0, 2**31 - 1))
    mode = draw(st.sampled_from(["noise", "flat", "gradient"]))
    if mode == "flat":
        arr = np.full(n, seed % 256, dtype=np.uint8)
    elif mode == "gradient":
        arr = ((np.arange(n, dtype=np.int64) + seed) % 256).astype(np.uint8)
    else:
        arr = ((np.arange(n, dtype=np.int64) * 2654435761 + seed) % 256).astype(np.uint8)
    return arr.reshape((h, w) if ch == 1 else (h, w, ch))


@settings(max_examples=30, deadline=None)
@given(st.data())
def test_png_roundtrip_exact_any_image(data):
    img = _img(data.draw)
    interlace = data.draw(st.booleans())
    back = MM._decode_png(MM._encode_png(img, interlace=interlace))
    assert back.shape == img.shape and (back == img).all()


@settings(max_examples=30, deadline=None)
@given(st.data())
def test_gif_roundtrip_exact_any_index_image(data):
    h = data.draw(st.integers(1, 24))
    w = data.draw(st.integers(1, 24))
    nc = data.draw(st.integers(2, 256))
    seed = data.draw(st.integers(0, 2**31 - 1))
    interlace = data.draw(st.booleans())
    palette = ((np.arange(nc * 3, dtype=np.int64) * 37 + seed) % 256).astype(
        np.uint8
    ).reshape(nc, 3)
    idx = (
        ((np.arange(h * w, dtype=np.int64) * 97 + seed) % nc).astype(np.uint8).reshape(h, w)
    )
    out = MM._decode_gif(MM._encode_gif(idx, palette, interlace=interlace))
    assert out.shape == (h, w, 3)
    assert (out == palette[idx]).all()


@settings(max_examples=15, deadline=None)
@given(st.data())
def test_jpeg_progressive_equals_baseline_any_image(data):
    img = _img(data.draw, max_h=20, max_w=20, chs=(1, 3))
    quality = data.draw(st.sampled_from([50, 75, 90, 95]))
    prog = J.decode_jpeg(J.encode_jpeg_progressive(img, quality=quality))
    base = J.decode_jpeg(J.encode_jpeg(img, quality=quality))
    assert (prog == base).all()


@settings(max_examples=15, deadline=None)
@given(st.data())
def test_jpeg_restart_stream_equals_plain_any_image(data):
    img = _img(data.draw, max_h=20, max_w=20, chs=(1, 3))
    dri = data.draw(st.integers(1, 5))
    with_rst = J.decode_jpeg(J.encode_jpeg(img, quality=90, restart_interval=dri))
    plain = J.decode_jpeg(J.encode_jpeg(img, quality=90))
    assert (with_rst == plain).all()


def _img16(draw, max_h=20, max_w=20, chs=(1, 3, 4)):
    h = draw(st.integers(1, max_h))
    w = draw(st.integers(1, max_w))
    ch = draw(st.sampled_from(chs))
    n = h * w * (1 if ch == 1 else ch)
    seed = draw(st.integers(0, 2**31 - 1))
    mode = draw(st.sampled_from(["noise", "flat", "gradient"]))
    if mode == "flat":
        arr = np.full(n, seed % 65536, dtype=np.uint16)
    elif mode == "gradient":
        arr = ((np.arange(n, dtype=np.int64) * 97 + seed) % 65536).astype(np.uint16)
    else:
        arr = ((np.arange(n, dtype=np.int64) * 2654435761 + seed) % 65536).astype(np.uint16)
    return arr.reshape((h, w) if ch == 1 else (h, w, ch))


@settings(max_examples=30, deadline=None)
@given(st.data())
def test_png16_roundtrip_exact_any_image(data):
    img = _img16(data.draw)
    interlace = data.draw(st.booleans())
    back = MM._decode_png(MM._encode_png(img, interlace=interlace))
    assert back.dtype == np.uint16
    assert back.shape == img.shape and (back == img).all()


@settings(max_examples=30, deadline=None)
@given(st.data())
def test_pnm16_roundtrip_exact_any_image(data):
    img = _img16(data.draw, chs=(1, 3))
    h, w = img.shape[:2]
    if img.ndim == 2:
        payload = f"P5\n{w} {h}\n65535\n".encode() + img.astype(">u2").tobytes()
    else:
        payload = f"P6\n{w} {h}\n65535\n".encode() + img.astype(">u2").tobytes()
    back = MM._decode_pnm(payload)
    assert back.dtype == np.uint16
    assert back.shape == img.shape and (back == img).all()


@settings(max_examples=15, deadline=None)
@given(st.data())
def test_jpeg_noninterleaved_equals_interleaved_any_image(data):
    img = _img(data.draw, chs=(3,))
    q = data.draw(st.sampled_from([75, 90, 95]))
    inter = J.decode_jpeg(J.encode_jpeg(img, quality=q))
    multi = J.decode_jpeg(J.encode_jpeg(img, quality=q, noninterleaved=True))
    assert (inter == multi).all()


@settings(max_examples=40, deadline=None)
@given(st.data())
def test_qm_coder_roundtrip_any_sequence(data):
    """The QM arithmetic coder must roundtrip ANY decision sequence
    under ANY context assignment — hypothesis drives the state machine
    and carry/stacking byteout into corners a fixed fuzz seed list
    can't enumerate (long MPS runs → 0xFF stacks, alternating flips →
    conditional exchanges, tiny sequences → flush-dominated output)."""
    from regpulse_lakehouse_spark.operators.jpeg_arith import QMDecoder, QMEncoder

    n = data.draw(st.integers(0, 600))
    n_ctx = data.draw(st.integers(1, 5))
    mode = data.draw(st.sampled_from(["uniform", "ones", "zeros", "blocky"]))
    seed = data.draw(st.integers(0, 2**31 - 1))
    import random

    rng = random.Random(seed)
    if mode == "ones":
        bits = [1] * n
    elif mode == "zeros":
        bits = [0] * n
    elif mode == "blocky":
        bits, b = [], rng.getrandbits(1)
        while len(bits) < n:
            run = min(rng.randint(1, 60), n - len(bits))
            bits += [b] * run
            b ^= 1
    else:
        bits = [rng.getrandbits(1) for _ in range(n)]
    ctxs = [rng.randrange(n_ctx) for _ in range(n)]
    enc = QMEncoder()
    st_e = bytearray(n_ctx)
    for b, c in zip(bits, ctxs):
        enc.encode(st_e, c, b)
    payload = enc.flush() + b"\xff\xd9"
    dec = QMDecoder(payload, 0)
    st_d = bytearray(n_ctx)
    assert [dec.decode(st_d, c) for c in ctxs] == bits
    assert st_d == st_e


@settings(max_examples=25, deadline=None)
@given(st.data())
def test_arithmetic_jpeg_equals_huffman_any_image(data):
    """SOF9 ≡ SOF0 and SOF10 ≡ SOF0 decodes for arbitrary image
    content — the entropy layers sit over identical quantization, so
    any disagreement is a coder bug, not a codec tolerance."""
    from regpulse_lakehouse_spark.operators.jpeg_arith import (
        encode_jpeg_arithmetic,
        encode_jpeg_progressive_arithmetic,
    )

    img = _img(data.draw, chs=(1, 3))
    q = data.draw(st.sampled_from([70, 85, 95]))
    h = J.decode_jpeg(J.encode_jpeg(img, quality=q))
    a = J.decode_jpeg(encode_jpeg_arithmetic(img, quality=q))
    assert np.array_equal(a, h)
    p = J.decode_jpeg(encode_jpeg_progressive_arithmetic(img, quality=q))
    assert np.array_equal(p, h)


@settings(max_examples=30, deadline=None)
@given(st.data())
def test_lossless_jpeg_roundtrips_any_image(data):
    """SOF3 is a LOSSLESS format: any uint8/uint16 content under any
    predictor must reproduce exactly — the same contract the PNG/GIF
    properties pin."""
    predictor = data.draw(st.integers(1, 7))
    wide = data.draw(st.booleans())
    img = _img(data.draw, chs=(1, 3))
    if wide:
        seed = data.draw(st.integers(0, 2**31 - 1))
        img = ((img.astype(np.int64) * 257 + seed) % 65536).astype(np.uint16)
    out = J.decode_jpeg(J.encode_jpeg_lossless(img, predictor=predictor))
    assert np.array_equal(out, img)


@settings(max_examples=25, deadline=None)
@given(st.data())
def test_bmp_tiff_roundtrip_exact_any_image(data):
    """BMP and TIFF are lossless containers here: any uint8 content
    must roundtrip exactly at every supported TIFF compression."""
    from regpulse_lakehouse_spark.operators import rasters as R

    img = _img(data.draw, chs=(1, 3))
    comp = data.draw(st.sampled_from([1, 5, 8, 32773]))
    predictor = data.draw(st.sampled_from([1, 2]))
    out = R.decode_tiff(R.encode_tiff(img, compression=comp, predictor=predictor))
    assert np.array_equal(out, img)
    bmp = R.decode_bmp(R.encode_bmp(img))
    want = img if img.ndim == 3 else np.stack([img] * 3, axis=2)
    assert np.array_equal(bmp, want)
