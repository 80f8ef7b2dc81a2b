"""BMP and TIFF decode — the scanned-document raster formats
(stdlib + numpy, same posture as PNG/GIF/JPEG in multimodal.py /
jpeg.py: the formats are public structs + public compression).

BMP: BITMAPINFOHEADER, 1/4/8-bit palette and 24/32-bit BGR(A),
bottom-up and top-down rows, BI_RGB and BI_RLE8. TIFF: baseline
strip-organized files — II/MM byte orders, 8- and 16-bit
gray/RGB (16-bit in the file's byte order, predictor differencing
modulo 2^16), 8-bit palette and 1-bit bilevel, compressions
none/PackBits/LZW (MSB-first with the early-change width bump — NOT
the GIF variant)/Deflate, horizontal-differencing predictor 2.
r11 closes the former long tail: TILE-organized files (edge-cropped
padded tiles, per-tile predictor), PLANAR-configuration-2 (plane-major
strip lists), and CCITT bilevel compressions 2/3/4 (T.4 Modified
Huffman byte-aligned, T.4 1-D with EOLs, and T.6 G4 two-dimensional
MMR — the scanned-document default, plus the T.4 2-D-optional
profile with per-row 1-D/2-D tag bits). Remaining refusals, loud and
named: tiled+planar combinations and non-bilevel CCITT.

Encoders exist for fixtures/round-trips (including a TIFF-LZW
compressor so the decoder is exercised against independently
generated streams at every compression)."""

from __future__ import annotations

import struct

import numpy as np


# --- BMP --------------------------------------------------------------------


def decode_bmp(payload: bytes) -> np.ndarray:
    if payload[:2] != b"BM":
        raise ValueError("not a BMP: missing BM signature")
    (data_off,) = struct.unpack("<I", payload[10:14])
    (hdr_size,) = struct.unpack("<I", payload[14:18])
    if hdr_size < 40:
        raise ValueError(f"BMP core-header variant unsupported (size {hdr_size})")
    w, h_raw = struct.unpack("<ii", payload[18:26])
    planes, bpp = struct.unpack("<HH", payload[26:30])
    (comp,) = struct.unpack("<I", payload[30:34])
    top_down = h_raw < 0
    h = abs(h_raw)
    if w <= 0 or h == 0:
        raise ValueError(f"BMP bad dimensions {w}x{h_raw}")
    if comp not in (0, 1):
        raise ValueError(f"BMP compression {comp} unsupported (BI_RGB/BI_RLE8 only)")
    if bpp not in (1, 4, 8, 24, 32):
        raise ValueError(f"BMP {bpp}-bit unsupported")
    if comp == 1 and bpp != 8:
        raise ValueError("BI_RLE8 requires 8-bit")
    # palette (BGRX quads) sits between header and pixel data
    pal = None
    if bpp <= 8:
        (ncol,) = struct.unpack("<I", payload[46:50])
        ncol = ncol or (1 << bpp)
        pstart = 14 + hdr_size
        raw = np.frombuffer(payload[pstart : pstart + 4 * ncol], dtype=np.uint8)
        pal = raw.reshape(-1, 4)[:, [2, 1, 0]]  # BGRX -> RGB
    if comp == 1:
        idx = _bmp_rle8(payload[data_off:], w, h)
    else:
        stride = ((w * bpp + 31) // 32) * 4
        rows = np.frombuffer(
            payload[data_off : data_off + stride * h], dtype=np.uint8
        ).reshape(h, stride)
        if bpp == 1:
            bits = np.unpackbits(rows, axis=1)[:, :w]
            idx = bits
        elif bpp == 4:
            hi = rows >> 4
            lo = rows & 0xF
            inter = np.empty((h, rows.shape[1] * 2), dtype=np.uint8)
            inter[:, 0::2] = hi
            inter[:, 1::2] = lo
            idx = inter[:, :w]
        elif bpp == 8:
            idx = rows[:, :w]
        else:
            nb = bpp // 8
            px = rows[:, : w * nb].reshape(h, w, nb)
            img = px[:, :, [2, 1, 0]]  # BGR(A) -> RGB
            return img[::1] if top_down else img[::-1]
    img = pal[idx]
    return img if top_down else img[::-1]


def _bmp_rle8(data: bytes, w: int, h: int) -> np.ndarray:
    out = np.zeros((h, w), dtype=np.uint8)
    r = c = i = 0
    while i + 1 < len(data):
        n, v = data[i], data[i + 1]
        i += 2
        if n:
            out[r, c : c + n] = v
            c += n
        elif v == 0:  # end of line
            r += 1
            c = 0
        elif v == 1:  # end of bitmap
            break
        elif v == 2:  # delta
            c += data[i]
            r += data[i + 1]
            i += 2
        else:  # absolute run, word-aligned
            out[r, c : c + v] = np.frombuffer(data[i : i + v], dtype=np.uint8)
            c += v
            i += v + (v & 1)
    return out


def encode_bmp(img: np.ndarray) -> bytes:
    """24-bit BI_RGB for (h, w, 3); 8-bit gray-palette for (h, w)."""
    h, w = img.shape[:2]
    if img.ndim == 2:
        bpp, pal = 8, b"".join(bytes((i, i, i, 0)) for i in range(256))
        stride = (w + 3) & ~3
        rows = np.zeros((h, stride), dtype=np.uint8)
        rows[:, :w] = img
        pix = rows[::-1].tobytes()
    else:
        bpp, pal = 24, b""
        stride = ((w * 3) + 3) & ~3
        rows = np.zeros((h, stride), dtype=np.uint8)
        rows[:, : w * 3] = img[:, :, [2, 1, 0]].reshape(h, w * 3)
        pix = rows[::-1].tobytes()
    off = 14 + 40 + len(pal)
    hdr = b"BM" + struct.pack("<IHHI", off + len(pix), 0, 0, off)
    dib = struct.pack("<IiiHHIIiiII", 40, w, h, 1, bpp, 0, len(pix), 2835, 2835,
                      256 if bpp == 8 else 0, 0)
    return hdr + dib + pal + pix


# --- TIFF -------------------------------------------------------------------

_TIFF_TAGS = {
    256: "width", 257: "height", 258: "bits", 259: "compression",
    262: "photometric", 273: "strip_offsets", 277: "spp",
    278: "rows_per_strip", 279: "strip_counts", 317: "predictor",
    320: "colormap", 322: "tile_width", 323: "tile_height",
    324: "tile_offsets", 325: "tile_counts", 284: "planar",
    292: "t4_options", 293: "t6_options",
}
_TYPE_SIZE = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8}


def _tiff_ifd_at(payload: bytes, off: int, bo: str) -> tuple[dict, int]:
    """One IFD at ``off`` → (named tags, next-IFD offset) — the
    next-IFD pointer after the entry array chains multi-page files."""
    (n,) = struct.unpack(bo + "H", payload[off : off + 2])
    tags: dict = {}
    for k in range(n):
        e = off + 2 + 12 * k
        tag, typ, cnt = struct.unpack(bo + "HHI", payload[e : e + 8])
        size = _TYPE_SIZE.get(typ, 1) * cnt
        if size <= 4:
            raw = payload[e + 8 : e + 8 + size]
        else:
            (voff,) = struct.unpack(bo + "I", payload[e + 8 : e + 12])
            raw = payload[voff : voff + size]
        if typ == 3:
            vals = list(struct.unpack(bo + f"{cnt}H", raw))
        elif typ == 4:
            vals = list(struct.unpack(bo + f"{cnt}I", raw))
        elif typ == 1:
            vals = list(raw)
        else:
            vals = [raw]
        name = _TIFF_TAGS.get(tag)
        if name:
            tags[name] = vals
    tail = off + 2 + 12 * n
    (nxt,) = struct.unpack(bo + "I", payload[tail : tail + 4])
    return tags, nxt


def _tiff_ifd(payload: bytes, bo: str) -> dict:
    (off,) = struct.unpack(bo + "I", payload[4:8])
    return _tiff_ifd_at(payload, off, bo)[0]


def _tiff_lzw_decode(data: bytes) -> bytes:
    """TIFF LZW (spec §13): MSB-first codes, table starts at 258
    entries (256 literals + Clear 256 + EOI 257), width bumps ONE CODE
    EARLY (at table sizes 511/1023/2047 — the 'early change' that
    distinguishes TIFF from GIF LZW)."""
    out = bytearray()
    table: list[bytes] = []
    buf = cnt = 0
    width = 9
    prev: bytes | None = None
    pos = 0

    def reset():
        nonlocal table, width, prev
        table = [bytes([i]) for i in range(256)] + [b"", b""]
        width = 9
        prev = None

    reset()
    while True:
        while cnt < width and pos < len(data):
            buf = (buf << 8) | data[pos]
            pos += 1
            cnt += 8
        if cnt < width:
            break
        code = (buf >> (cnt - width)) & ((1 << width) - 1)
        cnt -= width
        if code == 257:  # EOI
            break
        if code == 256:
            reset()
            continue
        if prev is None:
            entry = table[code]
        else:
            if code < len(table):
                entry = table[code]
            elif code == len(table):
                entry = prev + prev[:1]
            else:
                raise ValueError("TIFF LZW: code beyond table")
            table.append(prev + entry[:1])
        out += entry
        prev = entry
        if len(table) + 1 >= (1 << width) and width < 12:  # early change
            width += 1
    return bytes(out)


def _tiff_lzw_encode(data: bytes) -> bytes:
    out_bits: list[tuple[int, int]] = []
    table: dict[bytes, int] = {bytes([i]): i for i in range(256)}
    nxt = 258
    width = 9
    out_bits.append((256, width))  # leading Clear
    run = b""
    for byte in data:
        cand = run + bytes([byte])
        if cand in table:
            run = cand
            continue
        out_bits.append((table[run], width))
        table[cand] = nxt
        nxt += 1
        if nxt + 1 > (1 << width) and width < 12:  # early change
            width += 1
        if nxt == 4094:
            out_bits.append((256, width))
            table = {bytes([i]): i for i in range(256)}
            nxt = 258
            width = 9
        run = bytes([byte])
    if run:
        out_bits.append((table[run], width))
    out_bits.append((257, width))  # EOI
    buf = cnt = 0
    out = bytearray()
    for code, wd in out_bits:
        buf = (buf << wd) | code
        cnt += wd
        while cnt >= 8:
            out.append((buf >> (cnt - 8)) & 0xFF)
            cnt -= 8
    if cnt:
        out.append((buf << (8 - cnt)) & 0xFF)
    return bytes(out)


def _packbits_decode(data: bytes) -> bytes:
    out = bytearray()
    i = 0
    while i < len(data):
        n = data[i]
        i += 1
        if n < 128:
            out += data[i : i + n + 1]
            i += n + 1
        elif n > 128:
            out += bytes([data[i]]) * (257 - n)
            i += 1
        # n == 128: no-op
    return bytes(out)


def _packbits_encode(data: bytes) -> bytes:
    out = bytearray()
    i = 0
    while i < len(data):
        # find a run
        j = i
        while j + 1 < len(data) and data[j + 1] == data[i] and j - i < 127:
            j += 1
        if j > i:  # run of j-i+1 identical bytes
            out.append(257 - (j - i + 1))
            out.append(data[i])
            i = j + 1
        else:  # literal stretch until next run of >=3
            k = i
            while (
                k < len(data)
                and k - i < 128
                and not (
                    k + 2 < len(data) and data[k] == data[k + 1] == data[k + 2]
                )
            ):
                k += 1
            out.append(k - i - 1)
            out += data[i:k]
            i = k
    return bytes(out)


def _tiff_byte_order(payload: bytes) -> str:
    order = payload[:2]
    if order == b"II":
        bo = "<"
    elif order == b"MM":
        bo = ">"
    else:
        raise ValueError("not a TIFF: missing II/MM byte order")
    if struct.unpack(bo + "H", payload[2:4])[0] != 42:
        raise ValueError("not a TIFF: bad magic")
    return bo


def decode_tiff(payload: bytes) -> np.ndarray:
    """First page (IFD0) of a TIFF — see decode_tiff_pages for the
    multi-page (scanned-document) chain."""
    bo = _tiff_byte_order(payload)
    return _decode_tiff_page(payload, _tiff_ifd(payload, bo), bo)


def decode_tiff_pages(payload: bytes, limit: int | None = None) -> list[np.ndarray]:
    """Every page of a multi-page TIFF by following the next-IFD
    chain — the scanned-document layout (one page per IFD). ``limit``
    bounds runaway chains; a cycle raises rather than looping."""
    bo = _tiff_byte_order(payload)
    (off,) = struct.unpack(bo + "I", payload[4:8])
    out = []
    seen = set()
    while off:
        if off in seen:
            raise ValueError("TIFF IFD chain cycles")
        seen.add(off)
        t, off = _tiff_ifd_at(payload, off, bo)
        out.append(_decode_tiff_page(payload, t, bo))
        if limit is not None and len(out) >= limit:
            break
    return out


def tiff_page_count(payload: bytes) -> int:
    bo = _tiff_byte_order(payload)
    (off,) = struct.unpack(bo + "I", payload[4:8])
    n = 0
    seen = set()
    while off and off not in seen:
        seen.add(off)
        _, off = _tiff_ifd_at(payload, off, bo)
        n += 1
    return n


def _tiff_decompress(chunk: bytes, comp: int) -> bytes:
    import zlib

    if comp == 1:
        return chunk
    if comp == 5:
        return _tiff_lzw_decode(chunk)
    if comp in (8, 32946):
        return zlib.decompress(chunk)
    if comp == 32773:
        return _packbits_decode(chunk)
    raise ValueError(
        f"TIFF compression {comp} unsupported "
        "(none/LZW/Deflate/PackBits, CCITT G3-1D/G4 for bilevel)"
    )


def _decode_tiff_page(payload: bytes, t: dict, bo: str) -> np.ndarray:
    if "tile_width" in t:
        return _decode_tiled_tiff_page(payload, t, bo)
    w, h = t["width"][0], t["height"][0]
    spp = t.get("spp", [1])[0]
    bits = t.get("bits", [1])
    comp = t.get("compression", [1])[0]
    photo = t.get("photometric", [1])[0]
    if any(b not in (1, 8, 16) for b in bits):
        raise ValueError(f"TIFF {bits}-bit samples unsupported (1/8/16 only)")
    bit = bits[0]
    if bit == 1 and spp != 1:
        raise ValueError("1-bit TIFF must be single-sample")
    offsets = t["strip_offsets"]
    counts = t.get("strip_counts", [len(payload) - offsets[0]])
    if comp in (2, 3, 4):  # CCITT bilevel (T.4 MH / T.4 2-D / T.6 G4)
        if bit != 1:
            raise ValueError("CCITT-compressed TIFF must be bilevel (1-bit)")
        return _decode_tiff_ccitt(payload, t, comp)
    if t.get("planar", [1])[0] == 2:
        return _decode_planar_tiff_page(payload, t, bo)
    raw = bytearray()
    for off, n in zip(offsets, counts):
        raw += _tiff_decompress(payload[off : off + n], comp)
    if bit == 1:
        stride = (w + 7) // 8
        rows = np.frombuffer(bytes(raw[: stride * h]), dtype=np.uint8).reshape(
            h, stride
        )
        img = np.unpackbits(rows, axis=1)[:, :w] * np.uint8(255)
        if photo == 0:  # white-is-zero
            img = np.uint8(255) - img
        return img
    if bit == 16:
        # samples in the FILE's byte order; predictor 2 differences
        # whole 16-bit samples (TIFF 6.0 §14) modulo 2^16
        dt = "<u2" if bo == "<" else ">u2"
        arr = np.frombuffer(bytes(raw[: h * w * spp * 2]), dtype=dt).reshape(
            h, w, spp
        )
        if t.get("predictor", [1])[0] == 2:
            arr = (np.cumsum(arr.astype(np.int64), axis=1) & 0xFFFF).astype(
                np.uint16
            )
        else:
            arr = arr.astype(np.uint16)
        if photo == 0 and spp == 1:
            return np.uint16(65535) - arr[:, :, 0]
        if spp == 1:
            return arr[:, :, 0].copy()
        if spp in (3, 4):
            return arr[:, :, :3].copy()
        raise ValueError(f"TIFF samples-per-pixel {spp} unsupported")
    arr = np.frombuffer(bytes(raw[: h * w * spp]), dtype=np.uint8).reshape(
        h, w, spp
    )
    if t.get("predictor", [1])[0] == 2:
        arr = np.cumsum(arr.astype(np.int64), axis=1).astype(np.uint8)
    if photo == 3:  # palette: colormap is 3 * 2^bits 16-bit values
        cm = t["colormap"]
        n = len(cm) // 3
        pal = (np.asarray(cm, dtype=np.uint32).reshape(3, n).T >> 8).astype(np.uint8)
        return pal[arr[:, :, 0]]
    if spp == 1:
        img = arr[:, :, 0]
        return np.uint8(255) - img if photo == 0 else img
    if spp in (3, 4):
        return arr[:, :, :3].copy()
    raise ValueError(f"TIFF samples-per-pixel {spp} unsupported")


def encode_tiff(img: np.ndarray, compression: int = 1, predictor: int = 1) -> bytes:
    """Little-endian baseline TIFF for fixtures: (h, w) gray or
    (h, w, 3) RGB, uint8 or uint16 samples (16-bit from the dtype),
    one strip, compression 1/5/8/32773, optional horizontal-
    differencing predictor 2."""
    h, w = img.shape[:2]
    spp = 1 if img.ndim == 2 else img.shape[2]
    wide = img.dtype == np.uint16
    nbits = 16 if wide else 8
    arr = img.reshape(h, w, spp)
    if predictor == 2:
        d = arr.astype(np.int64)
        d = np.concatenate([d[:, :1], np.diff(d, axis=1)], axis=1)
        arr = (d & ((1 << nbits) - 1)).astype(np.uint16 if wide else np.uint8)
    raw = arr.astype("<u2").tobytes() if wide else arr.astype(np.uint8).tobytes()
    if compression == 1:
        data = raw
    elif compression == 5:
        data = _tiff_lzw_encode(raw)
    elif compression == 8:
        import zlib

        data = zlib.compress(raw)
    elif compression == 32773:
        data = _packbits_encode(raw)
    else:
        raise ValueError(f"encoder compression {compression} unsupported")

    entries = []

    def tag(tg, typ, vals):
        entries.append((tg, typ, vals))

    data_off = 8  # placeholder; strips follow the IFD, computed below
    tag(256, 3, [w])
    tag(257, 3, [h])
    tag(258, 3, [nbits] * spp)
    tag(259, 3, [compression])
    tag(262, 3, [2 if spp == 3 else 1])
    tag(273, 4, [0])  # fixed up below
    tag(277, 3, [spp])
    tag(278, 3, [h])
    tag(279, 4, [len(data)])
    if predictor == 2:
        tag(317, 3, [predictor])
    entries.sort()
    n = len(entries)
    ifd_off = 8
    extra_off = ifd_off + 2 + 12 * n + 4
    extra = bytearray()
    body = bytearray()
    strip_off = None
    for tg, typ, vals in entries:
        cnt = len(vals)
        sz = _TYPE_SIZE[typ] * cnt
        fmt = {3: "H", 4: "I"}[typ]
        packed = struct.pack(f"<{cnt}{fmt}", *vals)
        if tg == 273:
            strip_off = ifd_off + 2 + 12 * entries.index((tg, typ, vals)) + 8
        if sz <= 4:
            val_field = packed.ljust(4, b"\x00")
        else:
            val_field = struct.pack("<I", extra_off + len(extra))
            extra += packed
        body += struct.pack("<HHI", tg, typ, cnt) + val_field
    out = bytearray(b"II*\x00" + struct.pack("<I", ifd_off))
    out += struct.pack("<H", n) + body + struct.pack("<I", 0) + extra
    # fix the strip offset now that the layout is known
    data_off = len(out)
    out[strip_off : strip_off + 4] = struct.pack("<I", data_off)
    out += data
    return bytes(out)


# --- EXIF -------------------------------------------------------------------

_EXIF_NAMES = {
    271: "make", 272: "model", 274: "orientation", 306: "datetime",
    36867: "datetime_original", 33434: "exposure_time", 34855: "iso",
    272 + 0: "model",
}
_EXIF_POINTER = 34665  # ExifIFD sub-directory


def _ifd_entries(blob: bytes, off: int, bo: str) -> dict[int, object]:
    """Generic IFD reader over a TIFF-structured blob (offsets are
    blob-relative — exactly how EXIF embeds in a JPEG APP1): returns
    {tag: value} with ASCII NUL-stripped, SHORT/LONG as ints, and
    RATIONAL as a (num, den) tuple."""
    (n,) = struct.unpack(bo + "H", blob[off : off + 2])
    out: dict[int, object] = {}
    for k in range(n):
        e = off + 2 + 12 * k
        tag, typ, cnt = struct.unpack(bo + "HHI", blob[e : e + 8])
        size = _TYPE_SIZE.get(typ, 1) * cnt
        if size <= 4:
            raw = blob[e + 8 : e + 8 + size]
        else:
            (voff,) = struct.unpack(bo + "I", blob[e + 8 : e + 12])
            raw = blob[voff : voff + size]
        if typ == 2:
            out[tag] = raw.split(b"\x00")[0].decode("ascii", "replace")
        elif typ == 3:
            out[tag] = struct.unpack(bo + "H", raw[:2])[0]
        elif typ == 4:
            out[tag] = struct.unpack(bo + "I", raw[:4])[0]
        elif typ == 5:
            num, den = struct.unpack(bo + "II", raw[:8])
            out[tag] = (num, den)
    return out


def exif_tags(payload: bytes) -> dict[str, object]:
    """EXIF metadata from a JPEG (APP1 'Exif\\0\\0' segment) or a TIFF
    file: make/model/orientation/datetime from IFD0 plus
    datetime_original/exposure_time/iso from the Exif sub-IFD.
    Returns {} when no EXIF is present — curation code treats
    metadata as optional, never load-bearing."""
    blob = None
    if payload[:2] == b"\xff\xd8":  # JPEG: walk segments for APP1
        i = 2
        while i + 4 <= len(payload) and payload[i] == 0xFF:
            marker = payload[i + 1]
            if marker in (0xD8, 0xD9) or 0xD0 <= marker <= 0xD7:
                i += 2
                continue
            (seglen,) = struct.unpack(">H", payload[i + 2 : i + 4])
            if marker == 0xE1 and payload[i + 4 : i + 10] == b"Exif\x00\x00":
                blob = payload[i + 10 : i + 2 + seglen]
                break
            if marker == 0xDA:
                break
            i += 2 + seglen
    elif payload[:2] in (b"II", b"MM"):
        blob = payload
    if blob is None or len(blob) < 8:
        return {}
    bo = "<" if blob[:2] == b"II" else ">"
    if struct.unpack(bo + "H", blob[2:4])[0] != 42:
        return {}
    (ifd0,) = struct.unpack(bo + "I", blob[4:8])
    tags = _ifd_entries(blob, ifd0, bo)
    if _EXIF_POINTER in tags:
        tags.update(_ifd_entries(blob, int(tags[_EXIF_POINTER]), bo))
    return {
        name: tags[tag] for tag, name in _EXIF_NAMES.items() if tag in tags
    }


def apply_exif_orientation(img: np.ndarray, orientation: int) -> np.ndarray:
    """Normalize pixels to orientation 1 per the EXIF spec's eight
    cases (rotations/flips are views — no copy until needed)."""
    o = int(orientation or 1)
    if o == 2:
        return img[:, ::-1]
    if o == 3:
        return img[::-1, ::-1]
    if o == 4:
        return img[::-1]
    if o == 5:
        return np.rot90(img[:, ::-1], 1, axes=(0, 1))
    if o == 6:
        return np.rot90(img, 3, axes=(0, 1))
    if o == 7:
        return np.rot90(img[:, ::-1], 3, axes=(0, 1))
    if o == 8:
        return np.rot90(img, 1, axes=(0, 1))
    return img


def encode_exif_blob(
    make: str = "", model: str = "", orientation: int = 1,
    datetime_original: str = "",
) -> bytes:
    """Little-endian EXIF TIFF blob for fixtures: IFD0 with
    make/model/orientation + Exif sub-IFD with DateTimeOriginal."""
    def entry(tag, typ, cnt, val4):
        return struct.pack("<HHI", tag, typ, cnt) + val4

    strings = bytearray()
    deferred: list[tuple[int, bytes]] = []

    def ascii_entry(tag, s):
        data = s.encode("ascii") + b"\x00"
        if len(data) <= 4:
            return entry(tag, 2, len(data), data.ljust(4, b"\x00"))
        deferred.append((len(strings), data))
        ph = entry(tag, 2, len(data), struct.pack("<I", 0xDEAD0000 + len(strings)))
        strings.extend(data)
        return ph

    ifd0_entries = [
        ascii_entry(271, make),
        ascii_entry(272, model),
        entry(274, 3, 1, struct.pack("<HH", orientation, 0)),
        entry(_EXIF_POINTER, 4, 1, struct.pack("<I", 0)),  # fixed below
    ]
    exif_entries = [ascii_entry(36867, datetime_original)]
    header = b"II*\x00" + struct.pack("<I", 8)
    ifd0 = struct.pack("<H", len(ifd0_entries)) + b"".join(ifd0_entries) + b"\x00" * 4
    exif_off = 8 + len(ifd0)
    sub = struct.pack("<H", len(exif_entries)) + b"".join(exif_entries) + b"\x00" * 4
    str_base = exif_off + len(sub)
    b = bytearray(header + ifd0 + sub + bytes(strings))
    # resolve the Exif pointer + deferred string offsets
    # pointer fixup: find the 34665 entry inside IFD0
    n0 = len(ifd0_entries)
    for k in range(n0):
        e = 8 + 2 + 12 * k
        tag = struct.unpack("<H", b[e : e + 2])[0]
        if tag == _EXIF_POINTER:
            b[e + 8 : e + 12] = struct.pack("<I", exif_off)
        val = struct.unpack("<I", b[e + 8 : e + 12])[0]
        if val & 0xFFFF0000 == 0xDEAD0000:
            b[e + 8 : e + 12] = struct.pack("<I", str_base + (val & 0xFFFF))
    for k in range(len(exif_entries)):
        e = exif_off + 2 + 12 * k
        val = struct.unpack("<I", b[e + 8 : e + 12])[0]
        if val & 0xFFFF0000 == 0xDEAD0000:
            b[e + 8 : e + 12] = struct.pack("<I", str_base + (val & 0xFFFF))
    return bytes(b)


def wrap_jpeg_with_exif(jpeg: bytes, exif_blob: bytes) -> bytes:
    """Insert an APP1 Exif segment right after SOI."""
    seg = b"Exif\x00\x00" + exif_blob
    app1 = b"\xff\xe1" + struct.pack(">H", len(seg) + 2) + seg
    return jpeg[:2] + app1 + jpeg[2:]


def encode_tiff_multipage(imgs: list[np.ndarray], compression: int = 1) -> bytes:
    """Multi-page fixture encoder (uint8 grayscale pages, compression
    1/32773): one IFD per page chained through next-IFD pointers —
    the scanned-document layout decode_tiff_pages consumes."""
    if not imgs:
        raise ValueError("need at least one page")
    out = bytearray(b"II*\x00\x00\x00\x00\x00")
    prev_ptr = 4  # header's IFD0 pointer
    for img in imgs:
        if img.ndim != 2 or img.dtype != np.uint8:
            raise ValueError("multipage fixture encoder takes uint8 grayscale pages")
        h, w = img.shape
        raw = img.tobytes()
        data = raw if compression == 1 else _packbits_encode(raw)
        if compression not in (1, 32773):
            raise ValueError(f"multipage encoder compression {compression} unsupported")
        ifd_off = len(out)
        struct.pack_into("<I", out, prev_ptr, ifd_off)
        entries = [
            (256, 3, w), (257, 3, h), (258, 3, 8), (259, 3, compression),
            (262, 3, 1), (273, 4, 0), (277, 3, 1), (278, 3, h),
            (279, 4, len(data)),
        ]
        n = len(entries)
        data_off = ifd_off + 2 + 12 * n + 4
        body = struct.pack("<H", n)
        for tg, typ, val in entries:
            if tg == 273:
                val = data_off
            fmt = {3: "H", 4: "I"}[typ]
            body += struct.pack("<HHI", tg, typ, 1) + struct.pack(
                f"<{fmt}", val
            ).ljust(4, b"\x00")
        prev_ptr = ifd_off + 2 + 12 * n
        out += body + b"\x00\x00\x00\x00" + data
    return bytes(out)


# ---------------------------------------------------------------------
# CCITT bilevel codecs (TIFF compression 2/3/4 — ITU-T T.4 / T.6).
#
# The scanned-document/fax long tail (r10 VERDICT "codec long tail"):
# compression 4 (G4 / T.6 two-dimensional MMR) is the de-facto default
# for bilevel scans; 2 is T.4 one-dimensional Modified Huffman with
# byte-aligned rows; 3 is T.4 with EOL codes (1-D profile supported;
# the 2-D-optional profile raises naming the option bit). Tables
# transcribed from the public ITU-T T.4 spec (Tables 2/3: white/black
# terminating + makeup codes; §4.2.1.3 vertical/pass/horizontal mode
# codes, shared with T.6) and validated structurally in
# tests/test_rasters.py (prefix-freeness per color class) plus
# encoder/decoder round-trips (the same twin strategy as h264.py —
# and the same honesty caveat: no reference decoder in this
# container).
# ---------------------------------------------------------------------

_CCITT_WHITE = {
    0: "00110101", 1: "000111", 2: "0111", 3: "1000", 4: "1011",
    5: "1100", 6: "1110", 7: "1111", 8: "10011", 9: "10100",
    10: "00111", 11: "01000", 12: "001000", 13: "000011", 14: "110100",
    15: "110101", 16: "101010", 17: "101011", 18: "0100111",
    19: "0001100", 20: "0001000", 21: "0010111", 22: "0000011",
    23: "0000100", 24: "0101000", 25: "0101011", 26: "0010011",
    27: "0100100", 28: "0011000", 29: "00000010", 30: "00000011",
    31: "00011010", 32: "00011011", 33: "00010010", 34: "00010011",
    35: "00010100", 36: "00010101", 37: "00010110", 38: "00010111",
    39: "00101000", 40: "00101001", 41: "00101010", 42: "00101011",
    43: "00101100", 44: "00101101", 45: "00000100", 46: "00000101",
    47: "00001010", 48: "00001011", 49: "01010010", 50: "01010011",
    51: "01010100", 52: "01010101", 53: "00100100", 54: "00100101",
    55: "01011000", 56: "01011001", 57: "01011010", 58: "01011011",
    59: "01001010", 60: "01001011", 61: "00110010", 62: "00110011",
    63: "00110100",
    64: "11011", 128: "10010", 192: "010111", 256: "0110111",
    320: "00110110", 384: "00110111", 448: "01100100", 512: "01100101",
    576: "01101000", 640: "01100111", 704: "011001100",
    768: "011001101", 832: "011010010", 896: "011010011",
    960: "011010100", 1024: "011010101", 1088: "011010110",
    1152: "011010111", 1216: "011011000", 1280: "011011001",
    1344: "011011010", 1408: "011011011", 1472: "010011000",
    1536: "010011001", 1600: "010011010", 1664: "011000",
    1728: "010011011",
}
_CCITT_BLACK = {
    0: "0000110111", 1: "010", 2: "11", 3: "10", 4: "011", 5: "0011",
    6: "0010", 7: "00011", 8: "000101", 9: "000100", 10: "0000100",
    11: "0000101", 12: "0000111", 13: "00000100", 14: "00000111",
    15: "000011000", 16: "0000010111", 17: "0000011000",
    18: "0000001000", 19: "00001100111", 20: "00001101000",
    21: "00001101100", 22: "00000110111", 23: "00000101000",
    24: "00000010111", 25: "00000011000", 26: "000011001010",
    27: "000011001011", 28: "000011001100", 29: "000011001101",
    30: "000001101000", 31: "000001101001", 32: "000001101010",
    33: "000001101011", 34: "000011010010", 35: "000011010011",
    36: "000011010100", 37: "000011010101", 38: "000011010110",
    39: "000011010111", 40: "000001101100", 41: "000001101101",
    42: "000011011010", 43: "000011011011", 44: "000001010100",
    45: "000001010101", 46: "000001010110", 47: "000001010111",
    48: "000001100100", 49: "000001100101", 50: "000001010010",
    51: "000001010011", 52: "000000100100", 53: "000000110111",
    54: "000000111000", 55: "000000100111", 56: "000000101000",
    57: "000001011000", 58: "000001011001", 59: "000000101011",
    60: "000000101100", 61: "000001011010", 62: "000001100110",
    63: "000001100111",
    64: "0000001111", 128: "000011001000", 192: "000011001001",
    256: "000001011011", 320: "000000110011", 384: "000000110100",
    448: "000000110101", 512: "0000001101100", 576: "0000001101101",
    640: "0000001001010", 704: "0000001001011", 768: "0000001001100",
    832: "0000001001101", 896: "0000001110010", 960: "0000001110011",
    1024: "0000001110100", 1088: "0000001110101", 1152: "0000001110110",
    1216: "0000001110111", 1280: "0000001010010", 1344: "0000001010011",
    1408: "0000001010100", 1472: "0000001010101", 1536: "0000001011010",
    1600: "0000001011011", 1664: "0000001100100", 1728: "0000001100101",
}
# extended makeup codes 1792-2560 are shared by both colors (T.4 Table 4)
_CCITT_EXT = {
    1792: "00000001000", 1856: "00000001100", 1920: "00000001101",
    1984: "000000010010", 2048: "000000010011", 2112: "000000010100",
    2176: "000000010101", 2240: "000000010110", 2304: "000000010111",
    2368: "000000011100", 2432: "000000011101", 2496: "000000011110",
    2560: "000000011111",
}
#: 2-D mode codes (T.4 §4.2.1.3, shared with T.6): value = mode tag
_CCITT_MODES = {
    "1": "V0", "011": "VR1", "000011": "VR2", "0000011": "VR3",
    "010": "VL1", "000010": "VL2", "0000010": "VL3",
    "001": "H", "0001": "P",
}


def _ccitt_inv(table: dict[int, str]) -> dict[str, int]:
    inv = {code: run for run, code in table.items()}
    inv.update({code: run for run, code in _CCITT_EXT.items()})
    return inv


_CCITT_WHITE_DEC = _ccitt_inv(_CCITT_WHITE)
_CCITT_BLACK_DEC = _ccitt_inv(_CCITT_BLACK)
_CCITT_EOL = "000000000001"


class _CcittBits:
    """MSB-first bit cursor with incremental prefix-code matching (the
    fax codes are <= 14 bits; scanned fixtures are small, so the
    per-bit dict walk is fine — the LUT treatment h264 got can be
    applied here if bilevel decode ever lands on a hot path)."""

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.nbits = len(data) * 8

    def bit(self) -> int:
        if self.pos >= self.nbits:
            raise ValueError("CCITT stream overrun")
        b = (self.data[self.pos >> 3] >> (7 - (self.pos & 7))) & 1
        self.pos += 1
        return b

    def code(self, table: dict[str, int], what: str, max_len: int = 14):
        s = ""
        for _ in range(max_len):
            s += "1" if self.bit() else "0"
            if s in table:
                return table[s]
        raise ValueError(f"invalid CCITT {what} code {s!r}")

    def byte_align(self) -> None:
        self.pos = (self.pos + 7) & ~7

    def eat_eol(self) -> None:
        """Consume fill zeros + one EOL (T.4 §4.1.2)."""
        zeros = 0
        while self.pos < self.nbits:
            if self.bit():
                if zeros >= 11:
                    return
                raise ValueError("CCITT: expected EOL")
            zeros += 1
        raise ValueError("CCITT: stream ended before EOL")


def _ccitt_read_run(r: _CcittBits, white: bool) -> int:
    """One complete run length: zero or more makeup codes (>= 64,
    incl. the shared extended set) followed by a terminating code."""
    table = _CCITT_WHITE_DEC if white else _CCITT_BLACK_DEC
    total = 0
    for _ in range(16):  # bounded: runs can't chain forever
        v = r.code(table, "white run" if white else "black run")
        total += v
        if v < 64:
            return total
    raise ValueError("CCITT: runaway makeup-code chain")


def _ccitt_decode_1d_row(r: _CcittBits, width: int) -> list[int]:
    """One T.4 1-D row as a list of changing-element positions
    (transitions), first run white."""
    trans: list[int] = []
    pos = 0
    white = True
    while pos < width:
        run = _ccitt_read_run(r, white)
        pos += run
        if pos > width:
            raise ValueError("CCITT: 1-D row overruns width")
        trans.append(pos)
        white = not white
    return trans


def _ccitt_decode_2d_row(r: _CcittBits, width: int, ref: list[int]) -> list[int]:
    """One T.6 (G4) 2-D row against reference transitions ``ref``
    (positions where the reference line changes color, ending with two
    ``width`` sentinels)."""
    trans: list[int] = []
    a0 = -1
    white = True
    while a0 < width:
        # b1: first reference transition > a0 whose INDEX parity makes
        # it a transition to the opposite of the current color; ref
        # transitions alternate white->black (even index), black->white
        # (odd). For current color white we need a white->black
        # transition (even index), and vice versa.
        idx = 0
        while idx < len(ref) and (ref[idx] <= a0 or (idx % 2 == 0) != white):
            idx += 1
        b1 = ref[idx] if idx < len(ref) else width
        b2 = ref[idx + 1] if idx + 1 < len(ref) else width
        mode = r.code(_CCITT_MODES, "2-D mode", max_len=7)
        if mode == "P":
            a0 = b2  # pass: current color extends through b2
            continue
        if mode == "H":
            start = max(a0, 0)
            run1 = _ccitt_read_run(r, white)
            run2 = _ccitt_read_run(r, not white)
            a1 = start + run1
            a2 = a1 + run2
            if a2 > width:
                raise ValueError("CCITT: horizontal runs overrun width")
            trans.append(a1)
            trans.append(a2)
            a0 = a2
            continue
        off = {"V0": 0, "VR1": 1, "VR2": 2, "VR3": 3,
               "VL1": -1, "VL2": -2, "VL3": -3}[mode]
        a1 = b1 + off
        if a1 < 0 or a1 > width:
            raise ValueError("CCITT: vertical mode out of row")
        trans.append(a1)
        a0 = a1
        white = not white
        if trans and trans[-1] == width:
            break
    return trans


def _transitions_to_row(trans: list[int], width: int) -> np.ndarray:
    """Changing-element positions → bool row (True = black): each
    in-row transition flips the running color, which starts white."""
    flips = np.zeros(width, dtype=np.int8)
    for t in trans:
        if t < width:
            flips[t] ^= 1
    return np.bitwise_xor.accumulate(flips).astype(bool)


def _row_to_transitions(row: np.ndarray) -> list[int]:
    """Bool row (True = black) → changing-element positions."""
    trans = []
    if len(row) and row[0]:
        trans.append(0)
    trans.extend(int(d) for d in np.flatnonzero(row[1:] != row[:-1]) + 1)
    return trans


def decode_ccitt_g4(
    data: bytes, width: int, height: int, byte_align: bool = False
) -> np.ndarray:
    """Raw ITU-T T.6 (G4) stream → (h, w) bool array, True = black.
    The no-wrapper core shared by TIFF compression 4 and PDF's
    /CCITTFaxDecode filter with /K < 0 (r11); ``byte_align`` is PDF's
    /EncodedByteAlign (each row starts on a byte boundary)."""
    r = _CcittBits(data)
    ref = [width, width]
    black = np.zeros((height, width), dtype=bool)
    for y in range(height):
        if byte_align:
            r.byte_align()
        trans = _ccitt_decode_2d_row(r, width, ref)
        black[y] = _transitions_to_row(trans, width)
        ref = trans + [width, width]
    return black


def _decode_tiff_ccitt(payload: bytes, t: dict, comp: int) -> np.ndarray:
    w, h = t["width"][0], t["height"][0]
    photo = t.get("photometric", [0])[0]
    rows_per_strip = t.get("rows_per_strip", [h])[0]
    offsets = t["strip_offsets"]
    counts = t.get("strip_counts", [len(payload) - offsets[0]])
    t4_2d = comp == 3 and bool(t.get("t4_options", [0])[0] & 1)
    black = np.zeros((h, w), dtype=bool)
    y = 0
    for si, (off, n) in enumerate(zip(offsets, counts)):
        strip_rows = min(rows_per_strip, h - y)
        if comp == 4:  # G4: shared raw core, reference resets per strip
            black[y : y + strip_rows] = decode_ccitt_g4(
                payload[off : off + n], w, strip_rows
            )
            y += strip_rows
            continue
        r = _CcittBits(payload[off : off + n])
        ref = [w, w]
        for _ in range(strip_rows):
            if comp == 2:
                r.byte_align()
                trans = _ccitt_decode_1d_row(r, w)
            elif t4_2d:
                # T.4 2-D-optional (r11): EOL + one tag bit per row —
                # 1 = the row is 1-D coded, 0 = 2-D against the
                # previous row (T.4 §4.2.1)
                r.eat_eol()
                if r.bit():
                    trans = _ccitt_decode_1d_row(r, w)
                else:
                    trans = _ccitt_decode_2d_row(r, w, ref)
            else:  # comp == 3, pure 1-D
                r.eat_eol()
                trans = _ccitt_decode_1d_row(r, w)
            black[y] = _transitions_to_row(trans, w)
            ref = trans + [w, w]
            y += 1
    img = np.where(black, 0, 255).astype(np.uint8)
    if photo == 1:  # BlackIsZero: bilevel sense inverted
        img = np.uint8(255) - img
    return img


def _ccitt_emit_run(bits: list[str], run: int, white: bool) -> None:
    table = _CCITT_WHITE if white else _CCITT_BLACK
    while run >= 64:
        m = min(run - run % 64, 2560)
        bits.append(_CCITT_EXT[m] if m > 1728 else table[m])
        run -= m
    bits.append(table[run])


def _ccitt_encode_1d_row(bits: list[str], row: np.ndarray) -> None:
    """T.4 1-D: alternating white/black run codes, first run white
    (possibly length 0)."""
    trans = _row_to_transitions(row) + [len(row)]
    pos = 0
    white = True
    for t in trans:
        _ccitt_emit_run(bits, t - pos, white)
        pos = t
        white = not white
        if pos >= len(row):
            break


_CCITT_MODE_ENC = {v: k for k, v in _CCITT_MODES.items()}


def _ccitt_encode_2d_row(bits: list[str], row: np.ndarray, ref: list[int]) -> list[int]:
    """T.6 2-D coding of ``row`` against reference transitions; returns
    this row's transitions (next reference)."""
    width = len(row)
    cur = _row_to_transitions(row)
    a0 = -1
    white = True
    ci = 0  # index of next transition in cur strictly > a0
    while a0 < width:
        while ci < len(cur) and cur[ci] <= a0:
            ci += 1
        a1 = cur[ci] if ci < len(cur) else width
        a2 = cur[ci + 1] if ci + 1 < len(cur) else width
        idx = 0
        while idx < len(ref) and (ref[idx] <= a0 or (idx % 2 == 0) != white):
            idx += 1
        b1 = ref[idx] if idx < len(ref) else width
        b2 = ref[idx + 1] if idx + 1 < len(ref) else width
        if b2 < a1:
            bits.append(_CCITT_MODE_ENC["P"])
            a0 = b2
        elif abs(a1 - b1) <= 3:
            mode = {0: "V0", 1: "VR1", 2: "VR2", 3: "VR3",
                    -1: "VL1", -2: "VL2", -3: "VL3"}[a1 - b1]
            bits.append(_CCITT_MODE_ENC[mode])
            a0 = a1
            white = not white
            if a1 >= width:
                break
        else:
            bits.append(_CCITT_MODE_ENC["H"])
            start = max(a0, 0)
            _ccitt_emit_run(bits, a1 - start, white)
            _ccitt_emit_run(bits, a2 - a1, not white)
            a0 = a2
    return cur


def encode_tiff_bilevel(
    img: np.ndarray,
    compression: int = 4,
    rows_per_strip: int | None = None,
    t4_2d: bool = False,
) -> bytes:
    """Little-endian bilevel TIFF fixture encoder for the CCITT
    decoders' round-trips: ``img`` is (h, w) uint8/bool, nonzero =
    white, 0 = black (photometric 0, the fax default). compression
    2 (MH byte-aligned), 3 (T.4 with EOLs — ``t4_2d`` adds the
    2-D-optional profile: per-row tag bits, 1-D every other row like a
    K=2 fax) or 4 (G4)."""
    arr = np.asarray(img)
    black = arr == 0
    h, w = black.shape
    rps = rows_per_strip or h
    strips = []
    for y0 in range(0, h, rps):
        rows = black[y0 : y0 + rps]
        bits: list[str] = []
        ref = [w, w]
        for ri, row in enumerate(rows):
            if compression == 2:
                while sum(len(b) for b in bits) % 8:
                    bits.append("0")
                _ccitt_encode_1d_row(bits, row)
            elif compression == 3 and t4_2d:
                bits.append(_CCITT_EOL)
                if ri % 2 == 0:
                    bits.append("1")  # tag: 1-D row
                    _ccitt_encode_1d_row(bits, row)
                    ref = _row_to_transitions(row) + [w, w]
                else:
                    bits.append("0")  # tag: 2-D row
                    ref = _ccitt_encode_2d_row(bits, row, ref) + [w, w]
            elif compression == 3:
                bits.append(_CCITT_EOL)
                _ccitt_encode_1d_row(bits, row)
            elif compression == 4:
                ref = _ccitt_encode_2d_row(bits, row, ref) + [w, w]
            else:
                raise ValueError(f"bilevel compression {compression} unsupported")
        s = "".join(bits)
        s += "0" * (-len(s) % 8)
        strips.append(
            bytes(int(s[i : i + 8], 2) for i in range(0, len(s), 8))
        )
    # minimal II TIFF: header + IFD + strip data
    n_tags = 10 if t4_2d else 9
    ifd_off = 8
    data_off = ifd_off + 2 + 12 * n_tags + 4
    arrays = b""
    strip_offsets, strip_counts = [], []
    extra_off = data_off
    # strip offset/count arrays (LONG) go after the IFD if > 1 strip
    if len(strips) > 1:
        extra_off += 8 * len(strips)
    pos = extra_off
    for s in strips:
        strip_offsets.append(pos)
        strip_counts.append(len(s))
        pos += len(s)

    def tag(tid, typ, cnt, val):
        return struct.pack("<HHI", tid, typ, cnt) + val

    def long_val(v):
        return struct.pack("<I", v)

    def short_val(v):
        return struct.pack("<HH", v, 0)

    entries = [
        tag(256, 3, 1, short_val(w)),
        tag(257, 3, 1, short_val(h)),
        tag(258, 3, 1, short_val(1)),
        tag(259, 3, 1, short_val(compression)),
        tag(262, 3, 1, short_val(0)),
    ]
    if len(strips) == 1:
        entries.append(tag(273, 4, 1, long_val(strip_offsets[0])))
    else:
        entries.append(tag(273, 4, len(strips), long_val(data_off)))
    entries.append(tag(277, 3, 1, short_val(1)))
    entries.append(tag(278, 3, 1, short_val(rps)))
    if len(strips) == 1:
        entries.append(tag(279, 4, 1, long_val(strip_counts[0])))
    else:
        entries.append(tag(279, 4, len(strips), long_val(data_off + 4 * len(strips))))
    if t4_2d:
        entries.append(tag(292, 4, 1, long_val(1)))  # t4_options: 2-D
    assert len(entries) == n_tags
    out = b"II*\x00" + struct.pack("<I", ifd_off)
    out += struct.pack("<H", n_tags) + b"".join(entries) + struct.pack("<I", 0)
    if len(strips) > 1:
        out += b"".join(struct.pack("<I", o) for o in strip_offsets)
        out += b"".join(struct.pack("<I", c) for c in strip_counts)
    out += b"".join(strips)
    return out


def _tiff_postprocess(arr: np.ndarray, t: dict, bo: str) -> np.ndarray:
    """Shared chroma/palette/photometric handling for an assembled
    (h, w, spp) uint8/uint16 sample array (predictor already undone)."""
    photo = t.get("photometric", [1])[0]
    spp = arr.shape[2]
    if photo == 3:  # palette
        cm = t["colormap"]
        n = len(cm) // 3
        pal = (np.asarray(cm, dtype=np.uint32).reshape(3, n).T >> 8).astype(np.uint8)
        return pal[arr[:, :, 0]]
    if spp == 1:
        img = arr[:, :, 0]
        if photo == 0:
            # byte-order-insensitive: np.dtype('>u2') != np.uint16, so a
            # dtype-equality test would invert big-endian 16-bit images
            # with the 8-bit constant (ADVICE r11)
            full = np.uint16(65535) if img.dtype.itemsize == 2 else np.uint8(255)
            return (full - img).astype(img.dtype)
        return img.copy()
    if spp in (3, 4):
        return arr[:, :, :3].copy()
    raise ValueError(f"TIFF samples-per-pixel {spp} unsupported")


def _undo_predictor(arr: np.ndarray, t: dict) -> np.ndarray:
    if t.get("predictor", [1])[0] != 2:
        return arr
    # itemsize test, not dtype equality: np.dtype('>u2') != np.uint16, so a
    # big-endian 16-bit array would silently take the uint8 branch and
    # truncate every sample to its low byte (ADVICE r11)
    if arr.dtype.kind == "u" and arr.dtype.itemsize == 2:
        return (np.cumsum(arr.astype(np.int64), axis=1) & 0xFFFF).astype(np.uint16)
    return np.cumsum(arr.astype(np.int64), axis=1).astype(np.uint8)


def _decode_tiled_tiff_page(payload: bytes, t: dict, bo: str) -> np.ndarray:
    """Tile-organized TIFF (r10 VERDICT codec long tail): tiles are
    laid out left-to-right, top-to-bottom, each compressed
    independently and PADDED to the full tile size — edge tiles crop.
    Predictor 2 resets per tile row. 8/16-bit, chunky only."""
    if t.get("planar", [1])[0] != 1:
        raise ValueError("tiled + planar-configuration-2 TIFF unsupported")
    w, h = t["width"][0], t["height"][0]
    tw, th = t["tile_width"][0], t["tile_height"][0]
    spp = t.get("spp", [1])[0]
    bits = t.get("bits", [8])
    comp = t.get("compression", [1])[0]
    if any(b not in (8, 16) for b in bits):
        raise ValueError(f"tiled TIFF {bits}-bit samples unsupported (8/16 only)")
    bit = bits[0]
    offsets = t["tile_offsets"]
    counts = t.get("tile_counts", [])
    tiles_across = -(-w // tw)
    tiles_down = -(-h // th)
    if len(offsets) != tiles_across * tiles_down:
        raise ValueError(
            f"tiled TIFF: {len(offsets)} tiles != "
            f"{tiles_across}x{tiles_down} grid"
        )
    dt = np.uint16 if bit == 16 else np.uint8
    full = np.zeros((tiles_down * th, tiles_across * tw, spp), dtype=dt)
    for i, off in enumerate(offsets):
        n = counts[i] if i < len(counts) else len(payload) - off
        raw = _tiff_decompress(payload[off : off + n], comp)
        if bit == 16:
            fdt = "<u2" if bo == "<" else ">u2"
            # .astype normalizes to NATIVE byte order immediately — the
            # predictor/postprocess stages branch on dtype (ADVICE r11)
            tile = (
                np.frombuffer(raw[: th * tw * spp * 2], dtype=fdt)
                .reshape(th, tw, spp)
                .astype(np.uint16)
            )
        else:
            tile = np.frombuffer(raw[: th * tw * spp], dtype=np.uint8).reshape(
                th, tw, spp
            )
        tile = _undo_predictor(tile, t)
        ty, tx = divmod(i, tiles_across)
        full[ty * th : (ty + 1) * th, tx * tw : (tx + 1) * tw] = tile
    return _tiff_postprocess(full[:h, :w].astype(dt), t, bo)


def _decode_planar_tiff_page(payload: bytes, t: dict, bo: str) -> np.ndarray:
    """PlanarConfiguration=2 (r10 VERDICT codec long tail): the strip
    list carries each component's strips consecutively (all of plane 0,
    then plane 1, ...) — StripsPerImage = spp × ceil(h/rows_per_strip).
    Predictor 2 differences within each plane's rows. 8/16-bit."""
    w, h = t["width"][0], t["height"][0]
    spp = t.get("spp", [1])[0]
    bits = t.get("bits", [8])
    comp = t.get("compression", [1])[0]
    if any(b not in (8, 16) for b in bits):
        raise ValueError(f"planar TIFF {bits}-bit samples unsupported (8/16 only)")
    bit = bits[0]
    offsets = t["strip_offsets"]
    counts = t.get("strip_counts", [len(payload) - offsets[0]])
    per_plane = len(offsets) // spp
    if per_plane * spp != len(offsets):
        raise ValueError("planar TIFF: strip count not divisible by spp")
    dt_file = ("<u2" if bo == "<" else ">u2") if bit == 16 else np.uint8
    planes = []
    for p in range(spp):
        raw = bytearray()
        for k in range(per_plane):
            i = p * per_plane + k
            raw += _tiff_decompress(payload[offsets[i] : offsets[i] + counts[i]], comp)
        nbytes = h * w * (2 if bit == 16 else 1)
        plane = np.frombuffer(bytes(raw[:nbytes]), dtype=dt_file).reshape(h, w)
        if bit == 16:
            # native byte order before predictor/postprocess (ADVICE r11)
            plane = plane.astype(np.uint16)
        planes.append(_undo_predictor(plane[:, :, None], t)[:, :, 0])
    arr = np.stack(planes, axis=-1)
    return _tiff_postprocess(arr, t, bo)
