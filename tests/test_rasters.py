"""BMP + TIFF codecs (operators/rasters.py): exact roundtrips across
every compression/predictor combination, the TIFF-vs-GIF LZW
'early change' distinction, hand-built RLE/multi-strip/bilevel/palette
fixtures the encoders don't emit."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from regpulse_lakehouse_spark.operators import rasters as R


def _imgs():
    rng = np.random.default_rng(1)
    return (
        rng.integers(0, 256, (13, 17), dtype=np.uint8),
        rng.integers(0, 256, (9, 11, 3), dtype=np.uint8),
    )


def test_bmp_roundtrips():
    g, c = _imgs()
    assert np.array_equal(R.decode_bmp(R.encode_bmp(g)), np.stack([g] * 3, axis=2))
    assert np.array_equal(R.decode_bmp(R.encode_bmp(c)), c)


def test_bmp_top_down_and_variants():
    _, c = _imgs()
    payload = bytearray(R.encode_bmp(c))
    # flip to top-down: negate height, reverse the pixel rows in place
    (h,) = struct.unpack("<i", payload[22:26])
    payload[22:26] = struct.pack("<i", -h)
    stride = ((c.shape[1] * 3) + 3) & ~3
    (off,) = struct.unpack("<I", payload[10:14])
    rows = [bytes(payload[off + i * stride : off + (i + 1) * stride]) for i in range(h)]
    payload[off:] = b"".join(reversed(rows))
    assert np.array_equal(R.decode_bmp(bytes(payload)), c)
    with pytest.raises(ValueError, match="BM signature"):
        R.decode_bmp(b"XX" + bytes(payload[2:]))


def test_bmp_rle8_hand_built():
    """BI_RLE8 stream with encoded runs, an absolute run (word-aligned),
    a delta, and explicit EOL/EOB codes."""
    pal = b"".join(bytes((i, i, i, 0)) for i in range(256))
    rle = bytes(
        [4, 7]            # 4 pixels of color 7
        + [0, 3, 1, 2, 3, 0]  # absolute: 3 pixels 1,2,3 + pad byte
        + [0, 0]          # end of line
        + [0, 2, 2, 1]    # delta: right 2, down 1
        + [3, 9]          # 3 pixels of color 9
        + [0, 1]          # end of bitmap
    )
    off = 14 + 40 + len(pal)
    hdr = b"BM" + struct.pack("<IHHI", off + len(rle), 0, 0, off)
    dib = struct.pack("<IiiHHIIiiII", 40, 8, 3, 1, 8, 1, len(rle), 0, 0, 256, 0)
    img = R.decode_bmp(hdr + dib + pal + rle)
    want = np.zeros((3, 8), dtype=np.uint8)
    want[2, :4] = 7           # bottom-up: row 0 of the stream is the last
    want[2, 4:7] = (1, 2, 3)
    want[0, 2:5] = 9          # after EOL(→row1) + delta right2/down1 → row 2 streamwise
    assert np.array_equal(img, np.stack([want] * 3, axis=2))


@pytest.mark.parametrize("comp", [1, 5, 8, 32773])
@pytest.mark.parametrize("predictor", [1, 2])
def test_tiff_roundtrips_every_compression(comp, predictor):
    g, c = _imgs()
    for img in (g, c):
        out = R.decode_tiff(R.encode_tiff(img, compression=comp, predictor=predictor))
        assert np.array_equal(out, img), (comp, predictor, img.shape)


def test_tiff_lzw_early_change_is_exercised():
    """A stream long enough to cross the 511-entry boundary only
    decodes correctly if encoder AND decoder bump the code width one
    code early — the TIFF-vs-GIF distinction this pair exists for."""
    data = bytes(range(256)) * 40  # incompressible-ish: table grows fast
    assert R._tiff_lzw_decode(R._tiff_lzw_encode(data)) == data
    rng = np.random.default_rng(7)
    blob = bytes(rng.integers(0, 256, 30000, dtype=np.uint8))
    assert R._tiff_lzw_decode(R._tiff_lzw_encode(blob)) == blob


def test_tiff_packbits_spec_example():
    """The PackBits example from the TIFF 6.0 spec roundtrips and
    decodes to its published expansion."""
    dec = bytes.fromhex("aaaaaa80002a aaaaaaaaaaaa 80002a22aaaaaaaaaaaa".replace(" ", ""))
    enc = R._packbits_encode(dec)
    assert R._packbits_decode(enc) == dec


def test_tiff_bilevel_palette_and_byteorders():
    # bilevel: hand-built 1-bit black-is-zero + white-is-zero
    bits = np.array([[1, 0, 1, 0, 1, 1, 0, 0, 1]], dtype=np.uint8)
    packed = np.packbits(bits, axis=1).tobytes()

    def tiff1(photo):
        entries = [
            (256, 3, [9]), (257, 3, [1]), (258, 3, [1]), (259, 3, [1]),
            (262, 3, [photo]), (273, 4, [0]), (277, 3, [1]), (279, 4, [len(packed)]),
        ]
        body = bytearray()
        for i, (tg, typ, vals) in enumerate(entries):
            fmt = {3: "H", 4: "I"}[typ]
            val = struct.pack(f"<{len(vals)}{fmt}", *vals).ljust(4, b"\x00")
            body += struct.pack("<HHI", tg, typ, len(vals)) + val
        out = bytearray(b"II*\x00" + struct.pack("<I", 8))
        out += struct.pack("<H", len(entries)) + body + struct.pack("<I", 0)
        off = len(out)
        # strip offset is entry index 5
        pos = 8 + 2 + 12 * 5 + 8
        out[pos : pos + 4] = struct.pack("<I", off)
        return bytes(out + packed)

    img = R.decode_tiff(tiff1(1))
    assert np.array_equal(img, bits * np.uint8(255))
    inv = R.decode_tiff(tiff1(0))
    assert np.array_equal(inv, (1 - bits) * np.uint8(255))

    # unsupported classes reject loudly
    g, _ = _imgs()
    payload = bytearray(R.encode_tiff(g))
    with pytest.raises(ValueError, match="byte order"):
        R.decode_tiff(b"XX" + bytes(payload[2:]))
    bad = bytearray(R.encode_tiff(g))
    # rewrite the compression tag (entry order: 256,257,258,259 → index 3)
    pos = 8 + 2 + 12 * 3 + 8
    bad[pos : pos + 2] = struct.pack("<H", 4)  # G4 on 8-bit: not bilevel
    with pytest.raises(ValueError, match="bilevel"):
        R.decode_tiff(bytes(bad))
    bad[pos : pos + 2] = struct.pack("<H", 6)  # old-style JPEG-in-TIFF
    with pytest.raises(ValueError, match="compression 6 unsupported"):
        R.decode_tiff(bytes(bad))


@pytest.mark.parametrize("comp", [1, 5, 8, 32773])
@pytest.mark.parametrize("predictor", [1, 2])
def test_tiff_16bit_roundtrips(comp, predictor):
    rng = np.random.default_rng(3)
    g16 = rng.integers(0, 65536, (11, 9)).astype(np.uint16)
    c16 = rng.integers(0, 65536, (7, 8, 3)).astype(np.uint16)
    for img in (g16, c16):
        out = R.decode_tiff(R.encode_tiff(img, compression=comp, predictor=predictor))
        assert out.dtype == np.uint16
        assert np.array_equal(out, img), (comp, predictor, img.shape)


def test_exif_roundtrip_jpeg_and_tiff_and_orientation():
    from regpulse_lakehouse_spark.operators.jpeg import decode_jpeg, encode_jpeg

    blob = R.encode_exif_blob(
        make="ACME", model="Scanner 9000", orientation=6,
        datetime_original="2026:03:01 12:00:00",
    )
    img = np.arange(48, dtype=np.uint8).reshape(6, 8)
    j = R.wrap_jpeg_with_exif(encode_jpeg(img), blob)
    for payload in (j, blob):
        t = R.exif_tags(payload)
        assert t["make"] == "ACME" and t["model"] == "Scanner 9000"
        assert t["orientation"] == 6
        assert t["datetime_original"] == "2026:03:01 12:00:00"
    # the APP1 segment must not disturb pixel decode
    assert np.array_equal(decode_jpeg(j), decode_jpeg(encode_jpeg(img)))
    # no EXIF → {}
    assert R.exif_tags(encode_jpeg(img)) == {}
    assert R.exif_tags(b"\x00garbage") == {}
    # all eight orientations normalize back consistently
    for o, (h, w) in [(1, (6, 8)), (2, (6, 8)), (3, (6, 8)), (4, (6, 8)),
                      (5, (8, 6)), (6, (8, 6)), (7, (8, 6)), (8, (8, 6))]:
        assert R.apply_exif_orientation(img, o).shape == (h, w), o
    assert np.array_equal(
        R.apply_exif_orientation(R.apply_exif_orientation(img, 3), 3), img
    )


@pytest.mark.parametrize("comp", [1, 32773])
def test_multipage_tiff_chain(comp):
    rng = np.random.default_rng(8)
    pages = [rng.integers(0, 256, (5 + i, 7), dtype=np.uint8) for i in range(4)]
    payload = R.encode_tiff_multipage(pages, compression=comp)
    assert R.tiff_page_count(payload) == 4
    got = R.decode_tiff_pages(payload)
    assert len(got) == 4
    for g, p in zip(got, pages):
        assert np.array_equal(g, p)
    # decode_tiff still reads page 0; limit bounds the chain
    assert np.array_equal(R.decode_tiff(payload), pages[0])
    assert len(R.decode_tiff_pages(payload, limit=2)) == 2
    # a cycle raises instead of looping
    bad = bytearray(payload)
    # point page 1's next-IFD at page 1 itself: find the second IFD
    import struct as _s
    (ifd0,) = _s.unpack("<I", bad[4:8])
    _, nxt = R._tiff_ifd_at(bytes(bad), ifd0, "<")
    n = _s.unpack("<H", bad[nxt : nxt + 2])[0]
    ptr = nxt + 2 + 12 * n
    bad[ptr : ptr + 4] = _s.pack("<I", nxt)
    with pytest.raises(ValueError, match="cycles"):
        R.decode_tiff_pages(bytes(bad))


# ---------------------------------------------------------------------
# r11: CCITT bilevel (compression 2/3/4), tiled, planar TIFF
# ---------------------------------------------------------------------


def _scanned_doc(h=40, w=120, seed=3):
    rng = np.random.default_rng(seed)
    img = np.full((h, w), 255, dtype=np.uint8)
    img[5:9, 10:90] = 0
    img[14:16, 10:50] = 0
    img[20:35, 60:64] = 0
    for _ in range(30):
        y, x = rng.integers(0, h), rng.integers(0, w - 6)
        img[y, x : x + rng.integers(1, 6)] = 0
    return img


def test_ccitt_tables_structurally_sound():
    """Prefix-freeness within each decode class (white incl. extended,
    black incl. extended, 2-D modes) and full run coverage 0..63 +
    makeups to 2560 — a transcription slip collides or breaks
    coverage."""
    def prefix_free(codes):
        codes = sorted(codes, key=len)
        for i, c in enumerate(codes):
            for d in codes[i + 1 :]:
                assert not d.startswith(c), (c, d)

    for table in (R._CCITT_WHITE, R._CCITT_BLACK):
        merged = dict(table)
        merged.update({v: k for k, v in R._CCITT_EXT.items()}.__class__())  # no-op guard
        codes = list(table.values()) + list(R._CCITT_EXT.values())
        prefix_free(codes)
        assert set(table) >= set(range(64))
        assert {k for k in table if k >= 64} == set(range(64, 1729, 64))
    assert set(R._CCITT_EXT) == set(range(1792, 2561, 64))
    prefix_free(list(R._CCITT_MODES))


@pytest.mark.parametrize("comp", [2, 3, 4])
def test_ccitt_roundtrip(comp):
    img = _scanned_doc()
    data = R.encode_tiff_bilevel(img, compression=comp)
    assert np.array_equal(R.decode_tiff(data), img)


def test_ccitt_g4_multi_strip_and_flat_pages():
    img = _scanned_doc()
    data = R.encode_tiff_bilevel(img, compression=4, rows_per_strip=16)
    assert np.array_equal(R.decode_tiff(data), img)
    for v in (0, 255):
        flat = np.full((8, 64), v, dtype=np.uint8)
        for comp in (2, 3, 4):
            assert np.array_equal(
                R.decode_tiff(R.encode_tiff_bilevel(flat, comp)), flat
            ), (v, comp)


def test_ccitt_t4_2d_optional_profile_roundtrips():
    """r11 (late): the T.4 2-D-optional profile (t4_options bit 0) —
    EOL + per-row tag bit, 1-D rows interleaved with 2-D rows coded
    against the previous row (the K=2 fax shape)."""
    img = _scanned_doc()
    data = R.encode_tiff_bilevel(img, compression=3, t4_2d=True)
    assert np.array_equal(R.decode_tiff(data), img)


def _ifd_fixture(tags, blobs):
    """Minimal little-endian TIFF writer for decode-only fixtures."""
    import struct as S

    n = len(tags)
    ifd = 8
    data_off = ifd + 2 + 12 * n + 4

    def build(resolved_tags, extra):
        b = b"II*\x00" + S.pack("<I", ifd) + S.pack("<H", n)
        for tid, typ, cnt, v in resolved_tags:
            b += S.pack("<HHI", tid, typ, cnt) + v
        return b + S.pack("<I", 0) + extra

    extra = b""
    resolved = []
    for tid, typ, cnt, val in sorted(tags):
        if isinstance(val, int):
            v = S.pack("<HH", val, 0) if typ == 3 else S.pack("<I", val)
            resolved.append((tid, typ, cnt, v))
        elif len(val) <= 4:
            resolved.append((tid, typ, cnt, val.ljust(4, b"\0")))
        else:
            resolved.append((tid, typ, cnt, S.pack("<I", data_off + len(extra))))
            extra += val
    return build(resolved, extra), data_off + len(extra)


def test_tiled_tiff_roundtrip_8_and_16_bit():
    import struct as S

    rng = np.random.default_rng(5)
    for bits, dt in ((8, np.uint8), (16, np.uint16)):
        img = rng.integers(0, 2 ** bits, (30, 50, 3)).astype(dt)
        tw = th = 16
        ta, td = -(-50 // tw), -(-30 // th)
        pad = np.zeros((td * th, ta * tw, 3), dtype=dt)
        pad[:30, :50] = img
        tiles = [
            pad[ty * th : (ty + 1) * th, tx * tw : (tx + 1) * tw].tobytes()
            for ty in range(td) for tx in range(ta)
        ]
        def tags(offs):
            return [
                (256, 3, 1, 50), (257, 3, 1, 30),
                (258, 3, 3, S.pack("<HHH", bits, bits, bits)),
                (259, 3, 1, 1), (262, 3, 1, 2), (277, 3, 1, 3),
                (322, 3, 1, tw), (323, 3, 1, th),
                (324, 4, len(tiles), S.pack("<%dI" % len(tiles), *offs)),
                (325, 4, len(tiles),
                 S.pack("<%dI" % len(tiles), *[len(t) for t in tiles])),
            ]
        _, start = _ifd_fixture(tags([0] * len(tiles)), b"")
        offs, pos = [], start
        for t in tiles:
            offs.append(pos)
            pos += len(t)
        body, _ = _ifd_fixture(tags(offs), b"")
        out = R.decode_tiff(body + b"".join(tiles))
        assert out.dtype == dt and np.array_equal(out, img), bits


def test_tiled_tiff_big_endian_16bit_predictor2():
    """ADVICE r11: np.dtype('>u2') != np.uint16, so big-endian 16-bit
    tiled TIFFs with predictor 2 fell into the uint8 cumsum branch and
    every sample was silently truncated to its low byte (the reported
    repro: [300, 305, 310] decoded as [44, 49, 54]). Photometric 0 also
    exercises the postprocess inversion, which used the same
    byte-order-sensitive dtype comparison."""
    import struct as S

    rng = np.random.default_rng(9)
    h, w, tw, th = 20, 40, 16, 16
    img = rng.integers(0, 65536, (h, w)).astype(np.uint16)
    img[0, :3] = [300, 305, 310]  # the ADVICE repro values
    ta, td = -(-w // tw), -(-h // th)
    pad = np.zeros((td * th, ta * tw), dtype=np.uint16)
    pad[:h, :w] = img
    tiles = []
    for ty in range(td):
        for tx in range(ta):
            t = pad[ty * th : (ty + 1) * th, tx * tw : (tx + 1) * tw].astype(np.int64)
            d = np.empty_like(t)
            d[:, 0] = t[:, 0]
            d[:, 1:] = (t[:, 1:] - t[:, :-1]) & 0xFFFF
            tiles.append(d.astype(">u2").tobytes())

    def build(offs):
        tags = [
            (256, 3, 1, w), (257, 3, 1, h), (258, 3, 1, 16),
            (259, 3, 1, 1), (262, 3, 1, 0), (277, 3, 1, 1),
            (317, 3, 1, 2), (322, 3, 1, tw), (323, 3, 1, th),
            (324, 4, len(tiles), S.pack(">%dI" % len(tiles), *offs)),
            (325, 4, len(tiles),
             S.pack(">%dI" % len(tiles), *[len(t) for t in tiles])),
        ]
        n = len(tags)
        data_off = 8 + 2 + 12 * n + 4
        extra, resolved = b"", []
        for tid, typ, cnt, val in sorted(tags):
            if isinstance(val, int):
                # BE TIFF left-justifies short values in the 4-byte slot
                v = S.pack(">HH", val, 0) if typ == 3 else S.pack(">I", val)
                resolved.append((tid, typ, cnt, v))
            elif len(val) <= 4:
                resolved.append((tid, typ, cnt, val.ljust(4, b"\0")))
            else:
                resolved.append((tid, typ, cnt, S.pack(">I", data_off + len(extra))))
                extra += val
        b = b"MM\x00*" + S.pack(">I", 8) + S.pack(">H", n)
        for tid, typ, cnt, v in resolved:
            b += S.pack(">HHI", tid, typ, cnt) + v
        return b + S.pack(">I", 0) + extra, data_off + len(extra)

    _, start = build([0] * len(tiles))
    offs, pos = [], start
    for t in tiles:
        offs.append(pos)
        pos += len(t)
    body, _ = build(offs)
    out = R.decode_tiff(body + b"".join(tiles))
    assert out.dtype == np.uint16
    # photometric 0: decoder normalizes white-is-zero by inverting
    assert np.array_equal(out, (65535 - img).astype(np.uint16))


def test_planar_tiff_roundtrip_with_packbits():
    import struct as S

    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, (12, 33, 3), dtype=np.uint8)
    planes = [R._packbits_encode(img[:, :, p].tobytes()) for p in range(3)]
    def tags(offs):
        return [
            (256, 3, 1, 33), (257, 3, 1, 12),
            (258, 3, 3, S.pack("<HHH", 8, 8, 8)),
            (259, 3, 1, 32773), (262, 3, 1, 2), (277, 3, 1, 3),
            (284, 3, 1, 2), (278, 3, 1, 12),
            (273, 4, 3, S.pack("<3I", *offs)),
            (279, 4, 3, S.pack("<3I", *[len(p) for p in planes])),
        ]
    _, start = _ifd_fixture(tags([0, 0, 0]), b"")
    offs, pos = [], start
    for p in planes:
        offs.append(pos)
        pos += len(p)
    body, _ = _ifd_fixture(tags(offs), b"")
    out = R.decode_tiff(body + b"".join(planes))
    assert np.array_equal(out, img)
