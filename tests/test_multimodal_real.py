"""Pure-Python decoders in operators/multimodal.py: PCM WAV, binary
PPM/PGM, PNG, GIF, nearest-neighbor resize and the MP4 container —
verified against known signal/image ground truth, no codec library
involved."""

from __future__ import annotations

import math

import numpy as np
import pytest

from regpulse_lakehouse_spark.operators import multimodal as MM


def test_wav_roundtrip_known_sine():
    import io
    import wave

    sr, freq = 8000, 440
    t = np.arange(sr) / sr  # 1 second
    pcm = (np.sin(2 * np.pi * freq * t) * 0.5 * 32767).astype("<i2")
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(sr)
        w.writeframes(pcm.tobytes())
    wav = MM._decode_wav(buf.getvalue())
    assert wav.shape == (sr, 1)
    # amplitude 0.5 sine → rms = 0.5/√2
    assert abs(float(np.sqrt((wav**2).mean())) - 0.5 / math.sqrt(2)) < 1e-3
    assert abs(float(np.abs(wav).max()) - 0.5) < 1e-3


def test_pnm_decode_and_resize():
    w_, h_ = 16, 8
    img = np.zeros((h_, w_, 3), dtype=np.uint8)
    img[..., 0] = np.arange(w_) * 17  # red gradient across x
    payload = b"P6\n# c\n16 8\n255\n" + img.tobytes()
    back = MM._decode_pnm(payload)
    assert back.shape == (h_, w_, 3)
    assert (back == img).all()
    small = MM.resize_nearest(back, 4, 4)
    assert small.shape == (4, 4, 3)
    # nearest-neighbor picks source col 0,4,8,12 → red 0,68,136,204
    assert small[0, :, 0].tolist() == [0, 68, 136, 204]
    gray = MM._decode_pnm(b"P5\n2 2\n255\n" + bytes([0, 64, 128, 255]))
    assert gray.tolist() == [[0, 64], [128, 255]]


def _ref_image(h, w, ch=3):
    # deterministic, structured enough that every filter type differs
    base = (np.arange(h * w * ch, dtype=np.int64) * 37 + 11) % 251
    img = base.astype(np.uint8).reshape(h, w, ch)
    return img[:, :, 0] if ch == 1 else img


def test_png_roundtrip_rgb_gray_rgba():
    for shape_ch in (3, 1, 4):
        img = _ref_image(13, 17, shape_ch)
        back = MM._decode_png(MM._encode_png(img))
        assert back.shape == img.shape
        assert (back == img).all()


def test_png_all_five_filters_decode():
    """Exercise Sub/Up/Average/Paeth reconstruction, not just the
    filter-0 rows our own encoder writes: forward-filter each row with
    type y%5 (reference implementation of PNG spec §9) and check the
    decoder reproduces the original pixels."""
    import struct
    import zlib

    img = _ref_image(10, 7, 3)
    h, w_, ch = img.shape
    flat = img.reshape(h, w_ * ch).astype(np.int32)
    raw = bytearray()
    for y in range(h):
        ft = y % 5
        cur = flat[y]
        prev = flat[y - 1] if y else np.zeros(w_ * ch, np.int32)
        left = np.concatenate([np.zeros(ch, np.int32), cur[:-ch]])
        ul = np.concatenate([np.zeros(ch, np.int32), prev[:-ch]])
        if ft == 0:
            enc = cur
        elif ft == 1:
            enc = cur - left
        elif ft == 2:
            enc = cur - prev
        elif ft == 3:
            enc = cur - ((left + prev) >> 1)
        else:
            p = left + prev - ul
            pa, pb, pc = np.abs(p - left), np.abs(p - prev), np.abs(p - ul)
            pred = np.where((pa <= pb) & (pa <= pc), left, np.where(pb <= pc, prev, ul))
            enc = cur - pred
        raw.append(ft)
        raw.extend((enc % 256).astype(np.uint8).tobytes())

    def chunk(ctype, data):
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    payload = (
        MM._PNG_SIG
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w_, h, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )
    assert (MM._decode_png(payload) == img).all()


def test_png_adam7_interlaced_roundtrip():
    """Adam7 decode (round 6): odd dimensions exercise uneven pass
    geometry; tiny images leave some passes empty entirely."""
    for h, w, ch in ((13, 17, 3), (10, 7, 1), (9, 11, 4), (1, 1, 1), (2, 3, 3), (8, 8, 3)):
        img = _ref_image(h, w, ch)
        payload = MM._encode_png(img, interlace=True)
        assert payload[28] == 1  # IHDR interlace byte really set
        back = MM._decode_png(payload)
        assert back.shape == img.shape
        assert (back == img).all()
        # and matches the non-interlaced decode of the same pixels
        assert (back == MM._decode_png(MM._encode_png(img))).all()


def _palette_png(idx, palette, trns=None, interlace=0):
    import struct
    import zlib

    h, w = idx.shape
    if interlace:
        parts = []
        for x0, y0, xs, ys in MM._ADAM7:
            sub = idx[y0::ys, x0::xs]
            if sub.shape[0] and sub.shape[1]:
                parts.extend(b"\x00" + sub[y].tobytes() for y in range(sub.shape[0]))
        raw = b"".join(parts)
    else:
        raw = b"".join(b"\x00" + idx[y].tobytes() for y in range(h))

    def chunk(ctype, data):
        return (
            struct.pack(">I", len(data)) + ctype + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    out = MM._PNG_SIG + chunk(
        b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 3, 0, 0, interlace)
    ) + chunk(b"PLTE", palette.astype(np.uint8).tobytes())
    if trns is not None:
        out += chunk(b"tRNS", bytes(trns))
    return out + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b"")


def test_png_palette_decodes():
    """Round 6: indexed-color PNG resolves through PLTE; tRNS adds an
    alpha channel (entries past the table default to opaque)."""
    palette = np.array([[255, 0, 0], [0, 255, 0], [0, 0, 255], [7, 8, 9]])
    idx = (np.arange(6 * 5, dtype=np.uint8).reshape(6, 5)) % 4
    out = MM._decode_png(_palette_png(idx, palette))
    assert out.shape == (6, 5, 3)
    assert (out == palette[idx]).all()
    # with transparency: index 0 translucent, others default opaque
    out_a = MM._decode_png(_palette_png(idx, palette, trns=[10]))
    assert out_a.shape == (6, 5, 4)
    assert (out_a[:, :, :3] == palette[idx]).all()
    assert (out_a[:, :, 3] == np.where(idx == 0, 10, 255)).all()
    # interlaced palette PNG resolves identically
    out_i = MM._decode_png(_palette_png(idx, palette, interlace=1))
    assert (out_i == out).all()
    # out-of-range index is loud, not garbage
    bad = idx.copy()
    bad[0, 0] = 9
    with pytest.raises(ValueError, match="palette index"):
        MM._decode_png(_palette_png(bad, palette))


def test_png_rejections():
    img = _ref_image(4, 4, 3)
    good = bytearray(MM._encode_png(img))
    # flip IHDR depth byte (offset: 8 sig + 8 len/type + 8 w/h) to a
    # sub-byte depth — 16 is supported since r8, 4 is not
    bad_depth = bytes(good[:24]) + b"\x04" + bytes(good[25:])
    with pytest.raises(ValueError, match="8/16-bit"):
        MM._decode_png(bad_depth)
    bad_interlace = bytes(good[:28]) + b"\x07" + bytes(good[29:])
    with pytest.raises(ValueError, match="interlace"):
        MM._decode_png(bad_interlace)


def _ref_image16(h, w, ch=3):
    base = (np.arange(h * w * ch, dtype=np.int64) * 9973 + 17) % 65521
    img = base.astype(np.uint16).reshape(h, w, ch)
    return img[:, :, 0] if ch == 1 else img


def test_png_16bit_roundtrip_all_colors():
    for shape_ch in (1, 3, 4):
        img = _ref_image16(11, 13, shape_ch)
        back = MM._decode_png(MM._encode_png(img))
        assert back.dtype == np.uint16
        assert back.shape == img.shape
        assert (back == img).all()


def test_png_16bit_adam7_roundtrip():
    img = _ref_image16(14, 9, 3)
    back = MM._decode_png(MM._encode_png(img, interlace=True))
    assert back.dtype == np.uint16
    assert (back == img).all()


def test_png_16bit_all_five_filters_decode():
    """Spec §9: filters operate on BYTES with the left neighbor bpp
    bytes back regardless of sample depth — forward-filter a 16-bit
    image's byte stream (bpp = 6 for RGB16) and check reconstruction."""
    import struct
    import zlib

    img = _ref_image16(10, 7, 3)
    h, w_, ch = img.shape
    bpp = ch * 2
    flat = img.astype(">u2").reshape(h, w_ * ch).view(np.uint8).astype(np.int32)
    raw = bytearray()
    for y in range(h):
        ft = y % 5
        cur = flat[y]
        prev = flat[y - 1] if y else np.zeros(flat.shape[1], np.int32)
        left = np.concatenate([np.zeros(bpp, np.int32), cur[:-bpp]])
        ul = np.concatenate([np.zeros(bpp, np.int32), prev[:-bpp]])
        if ft == 0:
            enc = cur
        elif ft == 1:
            enc = cur - left
        elif ft == 2:
            enc = cur - prev
        elif ft == 3:
            enc = cur - ((left + prev) >> 1)
        else:
            p = left + prev - ul
            pa, pb, pc = np.abs(p - left), np.abs(p - prev), np.abs(p - ul)
            pred = np.where((pa <= pb) & (pa <= pc), left, np.where(pb <= pc, prev, ul))
            enc = cur - pred
        raw.append(ft)
        raw.extend((enc % 256).astype(np.uint8).tobytes())

    def chunk(ctype, data):
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    payload = (
        MM._PNG_SIG
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w_, h, 16, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )
    got = MM._decode_png(payload)
    assert got.dtype == np.uint16
    assert (got == img).all()


def test_pnm_16bit_decode_and_reject():
    # P5 (gray) and P6 (RGB) with maxval 65535: 2-byte big-endian samples
    gray = _ref_image16(5, 6, 1)
    p5 = b"P5\n6 5\n65535\n" + gray.astype(">u2").tobytes()
    got = MM._decode_pnm(p5)
    assert got.dtype == np.uint16 and (got == gray).all()
    rgb = _ref_image16(4, 3, 3)
    p6 = b"P6\n# comment\n3 4\n65535\n" + rgb.astype(">u2").tobytes()
    got = MM._decode_pnm(p6)
    assert got.dtype == np.uint16 and (got == rgb).all()
    with pytest.raises(ValueError, match="maxval"):
        MM._decode_pnm(b"P5\n2 2\n70000\n" + b"\x00" * 16)


def test_binary_column_pruned_from_stats_plan(spark, tmp_path):
    # column pruning is a property of the parquet scan (a LocalTableScan
    # of an in-memory fixture always carries every column)
    path = str(tmp_path / "media")
    MM.synthetic_media(spark, 6).write.parquet(path)
    media = spark.read.parquet(path)
    plan = MM.frame_sample_plan(media)._jdf.queryExecution().executedPlan().toString()
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "payload" not in read_schema  # metadata-only plan never reads bytes


def test_mp4_container_parse_byte_ranges_exact():
    """Sample tables must address the EXACT frame bytes in the file —
    verified against the deterministic fixture frames, across both a
    multi-run stsc layout and a single-chunk layout."""
    for chunked in ((2, 1), (6,)):
        payload = MM.synthetic_mp4(6, chunked)
        samples = MM.parse_mp4_samples(payload)
        assert [s for s, *_ in samples] == list(range(6))
        for s, off, size, dur in samples:
            assert payload[off : off + size] == bytes([s]) * size
            assert dur == 1000


def test_mp4_container_rejections():
    with pytest.raises(ValueError, match="malformed"):
        MM.parse_mp4_samples(b"\x00\x00\x00\x03boxx")  # size < 8
    # a file with boxes but no sample tables
    import struct

    ftyp = struct.pack(">I", 16) + b"ftyp" + b"isom\x00\x00\x02\x00"
    with pytest.raises(ValueError, match="sample tables"):
        MM.parse_mp4_samples(ftyp)


def _gif_fixture(h=23, w=31, n_colors=17):
    palette = (
        (np.arange(n_colors * 3, dtype=np.int64) * 41 + 13) % 256
    ).astype(np.uint8).reshape(n_colors, 3)
    idx = ((np.arange(h * w, dtype=np.int64) * 7 + 3) % n_colors).astype(np.uint8)
    # runs of repeats so LZW genuinely builds multi-symbol entries
    idx[: h * w // 3] = min(5, n_colors - 1)
    return idx.reshape(h, w), palette


def test_gif_roundtrip_plain_and_interlaced():
    idx, palette = _gif_fixture()
    out = MM._decode_gif(MM._encode_gif(idx, palette))
    assert out.shape == (23, 31, 3)
    assert (out == palette[idx]).all()
    out_i = MM._decode_gif(MM._encode_gif(idx, palette, interlace=True))
    assert (out_i == out).all()


def test_gif_transparency_yields_alpha():
    idx, palette = _gif_fixture()
    out = MM._decode_gif(MM._encode_gif(idx, palette, transparent=5))
    assert out.shape == (23, 31, 4)
    assert (out[:, :, :3] == palette[idx]).all()
    assert (out[:, :, 3] == np.where(idx == 5, 0, 255)).all()


def test_gif_lzw_dictionary_growth_and_width_bumps():
    """A 256-color noise image forces the code width up from 9 bits
    and (at this size) past several bump boundaries."""
    h, w = 60, 83
    palette = (
        (np.arange(256 * 3, dtype=np.int64) * 11 + 5) % 256
    ).astype(np.uint8).reshape(256, 3)
    idx = ((np.arange(h * w, dtype=np.int64) * 193 + 7) % 256).astype(np.uint8).reshape(h, w)
    out = MM._decode_gif(MM._encode_gif(idx, palette))
    assert (out == palette[idx]).all()


def test_gif_small_palette_and_tiny_images():
    for h, w, nc in ((1, 1, 2), (2, 3, 3), (7, 5, 4)):
        palette = np.arange(nc * 3, dtype=np.uint8).reshape(nc, 3) * 20
        idx = (np.arange(h * w, dtype=np.uint8).reshape(h, w)) % nc
        out = MM._decode_gif(MM._encode_gif(idx, palette))
        assert (out == palette[idx]).all()


def test_gif_rejections():
    import struct

    with pytest.raises(ValueError, match="signature"):
        MM._decode_gif(b"nope")
    idx, palette = _gif_fixture(5, 5, 4)
    good = bytearray(MM._encode_gif(idx, palette))
    # inflate the claimed image size: the LZW stream then runs dry
    assert good[25] == 0x2C  # image separator (6 hdr + 7 LSD + 12 GCT)
    good[6:10] = struct.pack("<HH", 50, 50)
    good[30:34] = struct.pack("<HH", 50, 50)
    with pytest.raises(ValueError, match="truncated"):
        MM._decode_gif(bytes(good))


def test_mjpeg_video_frames_decode_natively():
    """Motion-JPEG tracks (one complete JPEG per sample) decode
    through the container's byte ranges — frame-for-frame equal to
    decoding the source JPEGs directly; motion-compensated codecs
    still reject loudly by name."""
    import numpy as np
    import pytest as _pytest

    from regpulse_lakehouse_spark.operators import multimodal as M
    from regpulse_lakehouse_spark.operators.jpeg import decode_jpeg, encode_jpeg

    rng = np.random.default_rng(9)
    imgs = [rng.integers(0, 256, (16, 24, 3), dtype=np.uint8) for _ in range(4)]
    jpegs = [encode_jpeg(i, quality=90) for i in imgs]
    mp4 = M.synthetic_mp4(codec="jpeg", frames=jpegs, chunked=(3, 1))
    assert M.mp4_sample_codec(mp4) == "jpeg"
    frames = M.decode_video_frames(mp4)
    assert len(frames) == 4
    for f, j in zip(frames, jpegs):
        assert np.array_equal(f, decode_jpeg(j))
    assert len(M.decode_video_frames(mp4, [0, 2])) == 2
    # the codec seam moved to motion-compensated codecs in r10 (h264
    # intra decodes natively); hvc1 still names the feature loudly,
    # and an 'avc1' track whose samples are NOT h264 fails as malformed
    with _pytest.raises(NotImplementedError, match="hvc1"):
        M.decode_video_frames(M.synthetic_mp4(codec="hvc1", frames=jpegs))
    with _pytest.raises(ValueError, match="NAL"):
        M.decode_video_frames(M.synthetic_mp4(codec="avc1", frames=jpegs))


def test_mp4_sync_samples_roundtrip():
    from regpulse_lakehouse_spark.operators import multimodal as MM

    mp4 = MM.synthetic_mp4(n_samples=5, sync_samples=[0, 2, 4])
    assert MM.mp4_sync_samples(mp4) == [0, 2, 4]
    assert MM.mp4_sync_samples(MM.synthetic_mp4(n_samples=3)) is None


def test_fragmented_mp4_samples_and_sync():
    """r11: fMP4/DASH-shaped files (empty moov tables, moof/tfhd/trun
    chain) parse to exact byte ranges with trex defaults, and keyframe
    info comes from the trun non-sync flag bit (no stss in fragmented
    files)."""
    from regpulse_lakehouse_spark.operators import multimodal as MM

    mp4 = MM.synthetic_mp4(n_samples=5, chunked=(2, 1), fragmented=True)
    samples = MM.parse_mp4_samples(mp4)
    sizes = [20 + 3 * i for i in range(5)]
    assert [s for s, *_ in samples] == list(range(5))
    for s, off, sz, dur in samples:
        assert sz == sizes[s] and dur == 1000
        assert mp4[off : off + sz] == bytes([s]) * sz
    mp4s = MM.synthetic_mp4(
        n_samples=5, chunked=(2, 1), fragmented=True, sync_samples=[0, 3]
    )
    assert MM.mp4_sync_samples(mp4s) == [0, 3]
