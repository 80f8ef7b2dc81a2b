"""Multimodal column plumbing: media as opaque ``binary`` columns with
typed metadata structs.

Feature extraction runs as an Arrow-batched ``mapInPandas`` stage over
the payload column; ``decode_fake`` is a deterministic stand-in decode
that keeps the plumbing — schema, batch shape, UDF signature,
partitioning — exactly testable. The regulatory ingest path this
engine serves (scrape → .docx/.pdf text extraction → extract →
validate → route) has no image, audio or video surface, so no Spark
stage here decodes media.

The pure-Python decoders below are library code exercised by their
own tests: PCM WAV, binary PPM/PGM, PNG (all five filters, Adam7,
palette, 16-bit), GIF (LZW, interlace, transparency), the MP4 container
(box tree + sample tables → per-frame byte ranges, fragmented files,
sync samples) and ``decode_video_frames`` for Motion-JPEG and h264
intra tracks (operators/jpeg.py, operators/h264.py).

At scale the operative constraints are encoded here: media bytes stay
in executor-side Arrow batches (never collected), metadata-only plans
prune the binary column entirely (Parquet column pruning, see
``frame_sample_plan``), and per-batch decode amortizes Python crossing
costs.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F, types as T

MEDIA_META = T.StructType(
    [
        T.StructField("media_type", T.StringType(), False),  # image|audio|video
        T.StructField("format", T.StringType(), True),  # png|wav|mp4|…
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("duration_ms", T.LongType(), True),
        T.StructField("n_frames", T.IntegerType(), True),
    ]
)

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.StringType(), False),
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("meta", MEDIA_META, True),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.StringType(), False),
        T.StructField("n_bytes", T.LongType(), True),
        T.StructField("feature", T.ArrayType(T.FloatType()), True),
    ]
)


def _decode_wav(payload: bytes) -> np.ndarray:
    """REAL audio decode for PCM WAV — stdlib ``wave`` + numpy, no
    external codec needed. Returns (n_samples, n_channels) float32 in
    [-1, 1]. 8/16/32-bit integer PCM."""
    import io
    import wave

    with wave.open(io.BytesIO(payload), "rb") as w:
        n, ch, width = w.getnframes(), w.getnchannels(), w.getsampwidth()
        raw = w.readframes(n)
    if width == 2:
        arr = np.frombuffer(raw, dtype="<i2").astype(np.float32) / 32768.0
    elif width == 4:
        arr = np.frombuffer(raw, dtype="<i4").astype(np.float32) / 2147483648.0
    elif width == 1:  # 8-bit WAV is unsigned
        arr = (np.frombuffer(raw, dtype=np.uint8).astype(np.float32) - 128.0) / 128.0
    else:
        raise ValueError(f"unsupported PCM sample width {width}")
    return arr.reshape(-1, ch)


def _decode_pnm(payload: bytes) -> np.ndarray:
    """REAL image decode for binary PPM (P6) / PGM (P5) — plain header
    + raw pixels, no codec library. Returns (h, w, 3) or (h, w);
    uint8 for maxval ≤ 255, uint16 (big-endian pairs per spec) above."""
    fields: list[bytes] = []
    i = 0
    # header = magic, width, height, maxval as whitespace-separated
    # tokens, '#' comments allowed between any of them
    while len(fields) < 4:
        while i < len(payload) and payload[i : i + 1].isspace():
            i += 1
        if payload[i : i + 1] == b"#":
            while i < len(payload) and payload[i : i + 1] != b"\n":
                i += 1
            continue
        start = i
        while i < len(payload) and not payload[i : i + 1].isspace():
            i += 1
        fields.append(payload[start:i])
    i += 1  # single whitespace after maxval, then raw pixels
    magic, w, h, maxval = fields[0], int(fields[1]), int(fields[2]), int(fields[3])
    if maxval > 65535:
        raise ValueError(f"PNM maxval {maxval} out of spec (max 65535)")
    # maxval > 255 → two bytes per sample, big-endian (PNM spec)
    dt = ">u2" if maxval > 255 else np.uint8
    out_dt = np.uint16 if maxval > 255 else np.uint8
    if magic == b"P6":
        arr = np.frombuffer(payload, dtype=dt, count=w * h * 3, offset=i)
        return arr.astype(out_dt).reshape(h, w, 3)
    if magic == b"P5":
        arr = np.frombuffer(payload, dtype=dt, count=w * h, offset=i)
        return arr.astype(out_dt).reshape(h, w)
    raise ValueError(f"unsupported PNM magic {magic!r}")


_PNG_SIG = b"\x89PNG\r\n\x1a\n"
# color type → samples per pixel; type 3 (palette) carries 1-byte
# indices resolved through PLTE (+ optional tRNS alpha) after
# unfiltering; 8- and 16-bit depths decode natively (16-bit added r8),
# as does Adam7 interlace (r6)
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def _png_unfilter(raw: np.ndarray, h: int, stride: int, bpp: int) -> np.ndarray:
    """Reverse the five PNG scanline filters (spec §9: None/Sub/Up/
    Average/Paeth). One Python iteration per ROW with vectorized numpy
    inside — the per-pixel recurrences (Sub/Average/Paeth depend on the
    just-reconstructed left neighbor) are rolled per-row, which is the
    standard pure-python decoder shape and amortizes fine per Arrow
    batch."""
    out = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    rows = raw.reshape(h, stride + 1)
    for y in range(h):
        ftype, line = rows[y, 0], rows[y, 1:].astype(np.int32)
        if ftype == 0:  # None
            cur = line
        elif ftype == 1:  # Sub
            cur = line.copy()
            for x in range(bpp, stride):
                cur[x] = (cur[x] + cur[x - bpp]) & 0xFF
        elif ftype == 2:  # Up
            cur = (line + prev) & 0xFF
        elif ftype == 3:  # Average
            cur = line.copy()
            for x in range(stride):
                left = cur[x - bpp] if x >= bpp else 0
                cur[x] = (cur[x] + ((left + int(prev[x])) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            cur = line.copy()
            for x in range(stride):
                a = int(cur[x - bpp]) if x >= bpp else 0
                b = int(prev[x])
                c = int(prev[x - bpp]) if x >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                cur[x] = (cur[x] + pred) & 0xFF
        else:
            raise ValueError(f"unknown PNG filter type {ftype}")
        out[y] = cur.astype(np.uint8)
        prev = out[y]
    return out


# Adam7 pass geometry (PNG spec §8.2): (x_start, y_start, x_step, y_step)
_ADAM7 = [
    (0, 0, 8, 8),
    (4, 0, 8, 8),
    (0, 4, 4, 8),
    (2, 0, 4, 4),
    (0, 2, 2, 4),
    (1, 0, 2, 2),
    (0, 1, 1, 2),
]


def _decode_png(payload: bytes) -> np.ndarray:
    """REAL image decode for 8- and 16-bit PNG (gray / gray+alpha /
    RGB / RGBA, interlace 0 or Adam7; indexed color is 8-bit by spec) —
    stdlib ``zlib`` + numpy, no codec library: parse chunks, inflate
    the concatenated IDAT stream, reverse the scanline filters (which
    operate on BYTES regardless of depth; per interlace pass for
    Adam7, then scatter each pass onto its (start, step) grid; indexed
    color resolves through PLTE, with tRNS as alpha). Returns (h, w)
    for grayscale or (h, w, ch) otherwise — uint8 at depth 8, uint16
    at depth 16. Sub-byte depths (1/2/4) are rejected with a clear
    error."""
    import struct
    import zlib

    if payload[:8] != _PNG_SIG:
        raise ValueError("not a PNG: bad signature")
    i, ihdr, idat, plte, trns = 8, None, [], None, None
    while i + 8 <= len(payload):
        (length,), ctype = struct.unpack(">I", payload[i : i + 4]), payload[i + 4 : i + 8]
        data = payload[i + 8 : i + 8 + length]
        i += 12 + length  # length + type + data + crc
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", data)
        elif ctype == b"PLTE":
            plte = np.frombuffer(data, dtype=np.uint8).reshape(-1, 3)
        elif ctype == b"tRNS":
            trns = np.frombuffer(data, dtype=np.uint8)
        elif ctype == b"IDAT":
            idat.append(data)
        elif ctype == b"IEND":
            break
    if ihdr is None or not idat:
        raise ValueError("PNG missing IHDR or IDAT")
    w, h, depth, color, _comp, _filt, interlace = ihdr
    if depth not in (8, 16):
        raise ValueError(f"only 8/16-bit PNG supported, got depth {depth}")
    if depth == 16 and color == 3:
        raise ValueError("16-bit palette PNG is not a legal combination (spec §11.2.2)")
    if interlace not in (0, 1):
        raise ValueError(f"unknown PNG interlace method {interlace}")
    if color not in _PNG_CHANNELS:
        raise ValueError(f"unsupported PNG color type {color}")
    if color == 3 and plte is None:
        raise ValueError("palette PNG missing PLTE chunk")
    ch = _PNG_CHANNELS[color]
    # filters operate on BYTES with bpp = bytes per pixel (spec §9);
    # 16-bit samples are big-endian pairs reinterpreted after unfiltering
    sb = depth // 8

    def _samples(flat: np.ndarray, rows: int, width: int) -> np.ndarray:
        a = flat.reshape(rows, width * ch * sb)
        if sb == 2:
            a = a.view(">u2").astype(np.uint16)
        return a.reshape(rows, width, ch)

    def _resolve(arr: np.ndarray) -> np.ndarray:
        """Indexed → RGB (or RGBA when tRNS is present) via the palette."""
        if color != 3:
            return arr
        idx = arr if arr.ndim == 2 else arr[:, :, 0]
        if idx.max(initial=0) >= plte.shape[0]:
            raise ValueError("palette index out of range")
        rgb = plte[idx]  # (h, w, 3)
        if trns is None:
            return rgb
        alpha = np.full(plte.shape[0], 255, dtype=np.uint8)
        alpha[: trns.size] = trns
        return np.concatenate([rgb, alpha[idx][..., None]], axis=2)
    raw = np.frombuffer(zlib.decompress(b"".join(idat)), dtype=np.uint8)
    if not interlace:
        stride = w * ch * sb
        if raw.size != h * (stride + 1):
            raise ValueError("PNG pixel data size mismatch")
        out = _samples(_png_unfilter(raw, h, stride, ch * sb), h, w)
        return _resolve(out.reshape(h, w) if ch == 1 else out)
    # Adam7: seven independently-filtered sub-images, concatenated in
    # the one deflate stream; empty passes contribute zero bytes
    out = np.zeros((h, w, ch), dtype=np.uint16 if sb == 2 else np.uint8)
    pos = 0
    for x0, y0, xs, ys in _ADAM7:
        pw = (w - x0 + xs - 1) // xs
        ph = (h - y0 + ys - 1) // ys
        if pw <= 0 or ph <= 0:
            continue
        stride = pw * ch * sb
        need = ph * (stride + 1)
        sub = _png_unfilter(raw[pos : pos + need], ph, stride, ch * sb)
        pos += need
        out[y0::ys, x0::xs] = _samples(sub, ph, pw)
    if pos != raw.size:
        raise ValueError("PNG interlaced pixel data size mismatch")
    return _resolve(out.reshape(h, w) if ch == 1 else out)


def _encode_png(img: np.ndarray, interlace: bool = False) -> bytes:
    """Minimal PNG writer (filter 0 rows, one IDAT; ``interlace=True``
    emits the Adam7 pass layout) for fixtures/round-trip tests — same
    stdlib-only footprint as the decoder. A uint16 input writes a
    16-bit PNG (big-endian samples per spec); everything else is cast
    to 8-bit."""
    import struct
    import zlib

    if img.ndim == 2:
        color, ch = 0, 1
    elif img.shape[2] == 3:
        color, ch = 2, 3
    elif img.shape[2] == 4:
        color, ch = 6, 4
    else:
        raise ValueError(f"unsupported channel count {img.shape[2:]}")
    h, w = img.shape[:2]
    depth = 16 if img.dtype == np.uint16 else 8
    cube = img.astype(">u2" if depth == 16 else np.uint8).reshape(h, w, ch)
    if interlace:
        parts = []
        for x0, y0, xs, ys in _ADAM7:
            sub = cube[y0::ys, x0::xs]
            if sub.shape[0] == 0 or sub.shape[1] == 0:
                continue
            rows2 = sub.reshape(sub.shape[0], sub.shape[1] * ch)
            parts.extend(b"\x00" + rows2[y].tobytes() for y in range(sub.shape[0]))
        raw = b"".join(parts)
    else:
        body = cube.reshape(h, w * ch)
        raw = b"".join(b"\x00" + body[y].tobytes() for y in range(h))

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, depth, color, 0, 0, 1 if interlace else 0)
    return (
        _PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw, 6))
        + chunk(b"IEND", b"")
    )


# --- GIF (87a/89a, LZW) -----------------------------------------------------


class _LSBBitReader:
    """LSB-first bit reader over the concatenated GIF data sub-blocks."""

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.buf = 0
        self.nbits = 0

    def read(self, width: int) -> int:
        while self.nbits < width:
            if self.pos >= len(self.data):
                return -1  # ran out: treated as end of stream
            self.buf |= self.data[self.pos] << self.nbits
            self.pos += 1
            self.nbits += 8
        v = self.buf & ((1 << width) - 1)
        self.buf >>= width
        self.nbits -= width
        return v


def _gif_lzw_decode(data: bytes, cs: int, n_pixels: int) -> np.ndarray:
    """GIF variable-width LZW (spec appendix F): clear/end codes, table
    grows to 4096, width bumps when the table fills the current width,
    KwKwK (code == next slot) handled."""
    clear, end = 1 << cs, (1 << cs) + 1
    rd = _LSBBitReader(data)
    out = np.empty(n_pixels, dtype=np.uint8)
    n = 0
    table: list[bytes] = []
    width = cs + 1
    prev: bytes | None = None

    def reset():
        nonlocal table, width, prev
        table = [bytes([i]) for i in range(1 << cs)] + [b"", b""]
        width = cs + 1
        prev = None

    reset()
    while n < n_pixels:
        code = rd.read(width)
        if code < 0 or code == end:
            break
        if code == clear:
            reset()
            continue
        if prev is None:
            if code >= len(table):
                raise ValueError("GIF LZW: first code not a literal")
            entry = table[code]
        else:
            if code < len(table):
                entry = table[code]
            elif code == len(table):  # KwKwK
                entry = prev + prev[:1]
            else:
                raise ValueError("GIF LZW: code beyond table")
            if len(table) < 4096:
                table.append(prev + entry[:1])
                if len(table) == (1 << width) and width < 12:
                    width += 1
        take = min(len(entry), n_pixels - n)
        out[n : n + take] = np.frombuffer(entry[:take], dtype=np.uint8)
        n += len(entry)
        prev = entry
    if n < n_pixels:
        raise ValueError("GIF pixel data truncated")
    return out


_GIF_INTERLACE = [(0, 8), (4, 8), (2, 4), (1, 2)]


def _decode_gif(payload: bytes) -> np.ndarray:
    """REAL GIF decode (87a/89a): logical screen + global/local color
    tables, variable-width LZW, 4-pass interlace, GCE transparency →
    RGBA. Animations yield their FIRST frame (composited onto the
    logical screen at its offset; later frames need disposal-method
    state that a feature-extraction pipeline doesn't want anyway)."""
    import struct as _s

    if payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF: bad signature")
    sw, sh, packed, _bg, _ar = _s.unpack("<HHBBB", payload[6:13])
    i = 13
    gct = None
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        gct = np.frombuffer(payload[i : i + 3 * n], dtype=np.uint8).reshape(n, 3)
        i += 3 * n
    transparent = None
    while i < len(payload):
        b = payload[i]
        if b == 0x3B:  # trailer
            break
        if b == 0x21:  # extension: label + sub-blocks
            label = payload[i + 1]
            i += 2
            if label == 0xF9 and payload[i] >= 4:  # graphic control
                flags, _delay, tci = payload[i + 1], payload[i + 2 : i + 4], payload[i + 4]
                if flags & 0x01:
                    transparent = tci
            while payload[i]:  # skip sub-blocks
                i += 1 + payload[i]
            i += 1
            continue
        if b != 0x2C:
            raise ValueError(f"unexpected GIF block 0x{b:02X}")
        left, top, w, h, ipacked = _s.unpack("<HHHHB", payload[i + 1 : i + 10])
        i += 10
        ct = gct
        if ipacked & 0x80:
            n = 2 << (ipacked & 0x07)
            ct = np.frombuffer(payload[i : i + 3 * n], dtype=np.uint8).reshape(n, 3)
            i += 3 * n
        if ct is None:
            raise ValueError("GIF image without a color table")
        cs = payload[i]
        i += 1
        parts = []
        while payload[i]:
            ln = payload[i]
            parts.append(payload[i + 1 : i + 1 + ln])
            i += 1 + ln
        i += 1
        idx = _gif_lzw_decode(b"".join(parts), cs, w * h)
        if ipacked & 0x40:  # interlaced: 4 passes
            img_idx = np.empty((h, w), dtype=np.uint8)
            flat = idx.reshape(-1, w)
            row = 0
            for start, step in _GIF_INTERLACE:
                n_rows = len(range(start, h, step))
                img_idx[start::step] = flat[row : row + n_rows]
                row += n_rows
        else:
            img_idx = idx.reshape(h, w)
        if img_idx.max(initial=0) >= ct.shape[0]:
            raise ValueError("GIF color index out of range")
        rgb = np.zeros((sh, sw, 3), dtype=np.uint8)
        rgb[top : top + h, left : left + w] = ct[img_idx]
        if transparent is None:
            return rgb
        alpha = np.zeros((sh, sw), dtype=np.uint8)
        alpha[top : top + h, left : left + w] = np.where(
            img_idx == transparent, 0, 255
        )
        return np.concatenate([rgb, alpha[..., None]], axis=2)
    raise ValueError("GIF contains no image data")


def _encode_gif(
    img_idx: np.ndarray,
    palette: np.ndarray,
    interlace: bool = False,
    transparent: int | None = None,
) -> bytes:
    """Minimal GIF89a writer with REAL LZW compression (dictionary
    growth, width bumps, 4094-entry clear) for fixtures/round-trips."""
    import struct as _s

    h, w = img_idx.shape
    n = palette.shape[0]
    cbits = max(1, (n - 1).bit_length())
    n_pad = 1 << cbits
    pal = np.zeros((n_pad, 3), dtype=np.uint8)
    pal[:n] = palette
    cs = max(2, cbits)
    clear, end = 1 << cs, (1 << cs) + 1

    if interlace:
        rows = []
        for start, step in _GIF_INTERLACE:
            rows.extend(range(start, h, step))
        pixels = img_idx[rows].ravel()
    else:
        pixels = img_idx.ravel()

    out_bits = bytearray()
    buf = 0
    nbits = 0

    def put(code: int, width: int) -> None:
        nonlocal buf, nbits
        buf |= code << nbits
        nbits += width
        while nbits >= 8:
            out_bits.append(buf & 0xFF)
            buf >>= 8
            nbits -= 8

    table: dict[bytes, int] = {bytes([j]): j for j in range(1 << cs)}
    next_code = end + 1
    width = cs + 1
    put(clear, width)
    seq = bytes([int(pixels[0])])
    for px in pixels[1:]:
        cand = seq + bytes([int(px)])
        if cand in table:
            seq = cand
            continue
        put(table[seq], width)
        if next_code < 4094:
            table[cand] = next_code
            next_code += 1
            if next_code == (1 << width) + 1 and width < 12:
                width += 1
        else:  # table nearly full: clear and start fresh
            put(clear, width)
            table = {bytes([j]): j for j in range(1 << cs)}
            next_code = end + 1
            width = cs + 1
        seq = bytes([int(px)])
    put(table[seq], width)
    put(end, width)
    if nbits:
        out_bits.append(buf & 0xFF)

    sub = bytearray()
    for j in range(0, len(out_bits), 255):
        chunk = out_bits[j : j + 255]
        sub.append(len(chunk))
        sub.extend(chunk)
    sub.append(0)

    out = b"GIF89a" + _s.pack("<HHBBB", w, h, 0x80 | (cbits - 1), 0, 0)
    out += pal.tobytes()
    if transparent is not None:
        out += bytes([0x21, 0xF9, 4, 0x01, 0, 0, transparent, 0])
    ipk = 0x40 if interlace else 0x00
    out += b"\x2c" + _s.pack("<HHHHB", 0, 0, w, h, ipk) + bytes([cs]) + bytes(sub)
    return out + b"\x3b"


def resize_nearest(img: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """REAL nearest-neighbor image resize in pure numpy (the standard
    thumbnail/normalize step before feature extraction)."""
    h, w = img.shape[:2]
    rows = (np.arange(out_h) * h // out_h).clip(0, h - 1)
    cols = (np.arange(out_w) * w // out_w).clip(0, w - 1)
    return img[rows][:, cols]


def decode_fake(payload: bytes, dim: int = 16) -> np.ndarray:
    """Deterministic stand-in decode: a dim-length float vector derived
    from the payload's sha256 — stable across runs/engines, exercises
    the exact array shapes a real decoder would produce."""
    digest = hashlib.sha256(payload or b"").digest()
    raw = np.frombuffer((digest * ((dim * 4) // len(digest) + 1))[: dim * 4], dtype=np.uint32)
    return (raw.astype(np.float64) / np.iinfo(np.uint32).max).astype(np.float32)


def extract_features(media: DataFrame, dim: int = 16) -> DataFrame:
    """Decode + feature-extract as a mapInPandas stage over Arrow
    batches (the multimodal analog of the X1 extractor plumbing)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            feats = [decode_fake(p, dim).tolist() for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "n_bytes": [len(p or b"") for p in pdf["payload"]],
                    "feature": feats,
                }
            )

    return media.select("media_id", "payload").mapInPandas(gen, schema=FEATURE_SCHEMA)


def frame_sample_plan(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Frame-sampling *plan*: computes the sample timestamps per video
    from metadata only — the binary column is pruned from this scan
    entirely (check .explain ReadSchema). The downstream decode of the
    chosen frames is the stubbed stage."""
    return (
        media.filter(F.col("meta.media_type") == "video")
        .select(
            "media_id",
            F.explode(
                F.sequence(
                    F.lit(0),
                    F.coalesce(F.col("meta.duration_ms"), F.lit(0)),
                    F.lit(every_ms),
                )
            ).alias("sample_at_ms"),
        )
    )


def synthetic_media(spark, n: int = 32) -> DataFrame:
    """Deterministic fixture media table (no codecs needed)."""
    rows = []
    for i in range(n):
        mt = ("image", "audio", "video")[i % 3]
        payload = hashlib.sha256(f"media-{i}".encode()).digest() * (i % 4 + 1)
        rows.append(
            (
                f"media-{i:04d}",
                bytearray(payload),
                (
                    mt,
                    {"image": "png", "audio": "wav", "video": "mp4"}[mt],
                    640 if mt != "audio" else None,
                    480 if mt != "audio" else None,
                    (i + 1) * 1500 if mt != "image" else None,
                    (i + 1) * 30 if mt == "video" else None,
                ),
            )
        )
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


# ---------------------------------------------------------------------------
# MP4 container parsing — the sample tables are plain struct data, so the
# CONTAINER level is decodable with stdlib just like PNG/WAV/PPM; MJPEG
# and h264-intra sample payloads decode natively (decode_video_frames);
# only motion-compensated decode (P/B, h265) stays behind the seam.
# ---------------------------------------------------------------------------

_MP4_CONTAINERS = {b"moov", b"trak", b"mdia", b"minf", b"stbl", b"mvex"}


def _mp4_walk(payload: bytes, start: int, end: int, out: dict, prefix: str = ""):
    import struct

    i = start
    while i + 8 <= end:
        (size,), btype = struct.unpack(">I", payload[i : i + 4]), payload[i + 4 : i + 8]
        if size == 1:  # 64-bit largesize
            size = struct.unpack(">Q", payload[i + 8 : i + 16])[0]
            body = i + 16
        elif size == 0:  # to end of enclosing box
            size = end - i
            body = i + 8
        else:
            body = i + 8
        if size < 8 or i + size > end:
            raise ValueError(f"malformed mp4 box {btype!r} at {i}")
        path = f"{prefix}/{btype.decode('latin1')}"
        if btype in _MP4_CONTAINERS:
            _mp4_walk(payload, body, i + size, out, path)
        else:
            out.setdefault(path, []).append(payload[body : i + size])
        i += size


def _mp4_top_boxes(payload: bytes) -> list[tuple[bytes, int, int]]:
    """Top-level (type, file_offset, size) triples — fragment parsing
    needs each moof's absolute offset for base-data-offset math."""
    import struct

    out = []
    i = 0
    while i + 8 <= len(payload):
        (size,) = struct.unpack(">I", payload[i : i + 4])
        btype = payload[i + 4 : i + 8]
        if size == 1:
            size = struct.unpack(">Q", payload[i + 8 : i + 16])[0]
        elif size == 0:
            size = len(payload) - i
        if size < 8 or i + size > len(payload):
            break
        out.append((btype, i, size))
        i += size
    return out


def _mp4_children(payload: bytes, start: int, end: int):
    import struct

    i = start
    while i + 8 <= end:
        (size,) = struct.unpack(">I", payload[i : i + 4])
        btype = payload[i + 4 : i + 8]
        body = i + 8
        if size == 1:
            size = struct.unpack(">Q", payload[i + 8 : i + 16])[0]
            body = i + 16
        elif size == 0:
            size = end - i
        if size < 8 or i + size > end:
            raise ValueError(f"malformed mp4 box {btype!r} at {i}")
        yield btype, body, i + size, i
        i += size


def _parse_mp4_fragments(
    payload: bytes, boxes: dict
) -> list[tuple[int, int, int, int, bool]]:
    """Samples of a FRAGMENTED (fMP4/DASH-style) file: walk top-level
    ``moof`` boxes, read the first traf's tfhd (per-fragment defaults +
    base-data-offset flags) and trun runs (per-sample sizes/durations/
    flags, data offset relative to the base). trex supplies track-wide
    defaults. Returns (idx, offset, size, duration, is_sync) — sync
    comes from the trun/tfhd sample flags' non-sync bit (fragmented
    files carry keyframe info there, not in stss)."""
    import struct

    trex_dur = trex_size = trex_flags = 0
    for path, bodies in boxes.items():
        if path.endswith("/trex"):
            b = bodies[0]
            _, _tid, _desc, trex_dur, trex_size, trex_flags = struct.unpack(
                ">IIIIII", b[:24]
            )
            break
    out: list = []
    s = 0
    for btype, off, size in _mp4_top_boxes(payload):
        if btype != b"moof":
            continue
        moof_start, moof_end = off, off + size
        traf = next(
            ((b0, e0) for t, b0, e0, _ in _mp4_children(payload, off + 8, moof_end)
             if t == b"traf"),
            None,
        )
        if traf is None:
            continue
        base = moof_start
        def_dur, def_size, def_flags = trex_dur, trex_size, trex_flags
        truns = []
        for t, b0, e0, _ in _mp4_children(payload, traf[0], traf[1]):
            if t == b"tfhd":
                flags = int.from_bytes(payload[b0 + 1 : b0 + 4], "big")
                p = b0 + 8  # skip version/flags + track_id
                if flags & 0x01:  # base-data-offset
                    base = struct.unpack(">Q", payload[p : p + 8])[0]
                    p += 8
                if flags & 0x02:
                    p += 4  # sample_description_index
                if flags & 0x08:
                    (def_dur,) = struct.unpack(">I", payload[p : p + 4])
                    p += 4
                if flags & 0x10:
                    (def_size,) = struct.unpack(">I", payload[p : p + 4])
                    p += 4
                if flags & 0x20:
                    (def_flags,) = struct.unpack(">I", payload[p : p + 4])
                    p += 4
                # 0x020000 default-base-is-moof: base stays moof_start
            elif t == b"trun":
                truns.append((b0, e0))
        for b0, e0 in truns:
            version = payload[b0]
            flags = int.from_bytes(payload[b0 + 1 : b0 + 4], "big")
            (count,) = struct.unpack(">I", payload[b0 + 4 : b0 + 8])
            p = b0 + 8
            if flags & 0x000001:
                (doff,) = struct.unpack(">i", payload[p : p + 4])
                p += 4
                pos = base + doff
            else:
                raise ValueError(
                    "fragmented mp4: trun without data-offset unsupported"
                )
            first_flags = None
            if flags & 0x000004:
                (first_flags,) = struct.unpack(">I", payload[p : p + 4])
                p += 4
            for k in range(count):
                dur, sz, sflags = def_dur, def_size, def_flags
                if flags & 0x000100:
                    (dur,) = struct.unpack(">I", payload[p : p + 4])
                    p += 4
                if flags & 0x000200:
                    (sz,) = struct.unpack(">I", payload[p : p + 4])
                    p += 4
                if flags & 0x000400:
                    (sflags,) = struct.unpack(">I", payload[p : p + 4])
                    p += 4
                if flags & 0x000800:
                    p += 4  # cts offset (signed in v1; irrelevant here)
                if k == 0 and first_flags is not None:
                    sflags = first_flags
                if sz == 0:
                    raise ValueError(
                        "fragmented mp4: sample size 0 (no trun/tfhd/trex size)"
                    )
                is_sync = not (sflags & 0x00010000)  # non-sync bit clear
                out.append((s, pos, sz, dur, is_sync))
                pos += sz
                s += 1
            _ = version
    return out


def parse_mp4_samples(payload: bytes) -> list[tuple[int, int, int, int]]:
    """REAL MP4/ISO-BMFF container parse (stdlib struct, no codec):
    walk the box tree, read the sample tables (stsz sizes, stco/co64
    chunk offsets, stsc sample-to-chunk runs, stts durations) of the
    FIRST track carrying them, and return one
    ``(sample_index, byte_offset, byte_size, duration_units)`` tuple
    per sample — the exact byte ranges a frame decoder would read.
    FRAGMENTED files (r11): when the moov sample tables are absent or
    empty, samples come from the moof/tfhd/trun chain instead (DASH /
    streaming-recorder output) with trex defaults honored.
    Multi-track interleaving beyond the first table/traf remains the
    documented seam."""
    import struct

    boxes: dict = {}
    _mp4_walk(payload, 0, len(payload), boxes)

    def first(name: str) -> bytes | None:
        for path, bodies in boxes.items():
            if path.endswith("/" + name):
                return bodies[0]
        return None

    stsz, stco, stsc, stts = (first(n) for n in ("stsz", "stco", "stsc", "stts"))
    if stco is None:
        stco = first("co64")
        co64 = stco is not None
    else:
        co64 = False
    tables_empty = stsz is not None and struct.unpack(">II", stsz[4:12])[1] == 0
    if stsz is None or stco is None or stsc is None or tables_empty:
        frags = _parse_mp4_fragments(payload, boxes)
        if frags:
            return [(s, o, z, d) for s, o, z, d, _sync in frags]
        raise ValueError("mp4 missing sample tables (and no moof fragments)")

    # stsz: version/flags, uniform size, count, [sizes]
    uniform, n_samples = struct.unpack(">II", stsz[4:12])
    sizes = (
        [uniform] * n_samples
        if uniform
        else list(struct.unpack(f">{n_samples}I", stsz[12 : 12 + 4 * n_samples]))
    )
    # chunk offsets
    (n_chunks,) = struct.unpack(">I", stco[4:8])
    fmt, width = (">Q", 8) if co64 else (">I", 4)
    offsets = [
        struct.unpack(fmt, stco[8 + j * width : 8 + (j + 1) * width])[0]
        for j in range(n_chunks)
    ]
    # stsc: runs of (first_chunk, samples_per_chunk, desc_index)
    (n_runs,) = struct.unpack(">I", stsc[4:8])
    runs = [
        struct.unpack(">III", stsc[8 + j * 12 : 8 + (j + 1) * 12])
        for j in range(n_runs)
    ]
    per_chunk = []
    for j, (first_chunk, spc, _desc) in enumerate(runs):
        last = runs[j + 1][0] - 1 if j + 1 < len(runs) else n_chunks
        per_chunk.extend([spc] * (last - first_chunk + 1))
    # stts: runs of (count, delta)
    (n_tt,) = struct.unpack(">I", stts[4:8])
    durs = []
    for j in range(n_tt):
        cnt, delta = struct.unpack(">II", stts[8 + j * 8 : 8 + (j + 1) * 8])
        durs.extend([delta] * cnt)

    out = []
    s = 0
    for chunk_idx, spc in enumerate(per_chunk):
        pos = offsets[chunk_idx]
        for _ in range(spc):
            if s >= n_samples:
                break
            out.append((s, pos, sizes[s], durs[s] if s < len(durs) else 0))
            pos += sizes[s]
            s += 1
    return out


def mp4_sync_samples(payload: bytes) -> list[int] | None:
    """0-based sample indices of the track's SYNC (keyframe) samples
    from the ``stss`` box; None when the box is absent — which per
    ISO-BMFF means EVERY sample is a sync sample. This is the table a
    keyframe-sampling pipeline must honor on wild files: mixed-GOP
    tracks mark only their IDR samples here, and those are exactly the
    samples the intra-only h264 decoder can serve."""
    import struct

    boxes: dict = {}
    _mp4_walk(payload, 0, len(payload), boxes)
    for path, bodies in boxes.items():
        if path.endswith("/stss"):
            body = bodies[0]
            (n,) = struct.unpack(">I", body[4:8])
            return [
                struct.unpack(">I", body[8 + 4 * j : 12 + 4 * j])[0] - 1
                for j in range(n)
            ]
    # fragmented files carry keyframe info in the trun/tfhd sample
    # flags (non-sync bit), not in an stss box (r11)
    frags = _parse_mp4_fragments(payload, boxes)
    if frags:
        return [s for s, _o, _z, _d, is_sync in frags if is_sync]
    return None


def synthetic_mp4(
    n_samples: int = 6,
    chunked: tuple[int, ...] = (2, 1),
    codec: str | None = None,
    frames: list[bytes] | None = None,
    stsd_extra: bytes = b"",
    sync_samples: list[int] | None = None,
    fragmented: bool = False,
) -> bytes:
    """Minimal valid-enough ISO-BMFF fixture built with stdlib struct:
    ftyp + mdat carrying the frame bytes + moov with real
    stsz/stco/stsc/stts tables describing them. ``chunked`` gives the
    stsc run pattern (samples per chunk, last run repeats). Pass
    ``frames`` (real payloads, e.g. encoded JPEGs for an MJPEG track)
    and ``codec`` (the stsd fourcc) to build decodable video fixtures;
    ``stsd_extra`` appends child boxes to the sample entry (e.g. an
    avcC configuration record for a real-shaped 'avc1' track). By
    default the samples are deterministic fake bytes and no stsd is
    written."""
    import struct

    def box(btype: bytes, body: bytes) -> bytes:
        return struct.pack(">I", len(body) + 8) + btype + body

    if frames is not None:
        n_samples = len(frames)
        sizes = [len(f) for f in frames]
    else:
        sizes = [20 + 3 * i for i in range(n_samples)]
        frames = [bytes([i]) * sizes[i] for i in range(n_samples)]
    if fragmented:
        # fMP4/DASH shape (r11): moov carries stsd + EMPTY sample
        # tables + mvex/trex defaults; samples live in moof+mdat pairs
        # (one pair per `chunked` run) with per-sample sizes and sync
        # flags in trun — keyframe info rides the non-sync flag bit,
        # there is no stss.
        stbl_body = (
            box(b"stsz", struct.pack(">III", 0, 0, 0))
            + box(b"stco", struct.pack(">II", 0, 0))
            + box(b"stsc", struct.pack(">II", 0, 0))
            + box(b"stts", struct.pack(">II", 0, 0))
        )
        if codec is not None:
            entry = (
                struct.pack(">I", 16 + len(stsd_extra))
                + codec.encode("latin1")[:4].ljust(4)
                + b"\x00" * 8
                + stsd_extra
            )
            stbl_body = box(b"stsd", struct.pack(">II", 0, 1) + entry) + stbl_body
        trex = box(
            b"trex", struct.pack(">IIIIII", 0, 1, 1, 1000, 0, 0)
        )
        moov = box(
            b"moov",
            box(b"trak", box(b"mdia", box(b"minf", box(b"stbl", stbl_body))))
            + box(b"mvex", trex),
        )
        out = box(b"ftyp", b"isom\x00\x00\x02\x00isomiso2") + moov
        sync = set(sync_samples) if sync_samples is not None else None
        s = 0
        ci = 0
        while s < n_samples:
            spc = min(chunked[min(ci, len(chunked) - 1)], n_samples - s)
            ci += 1
            grp = list(range(s, s + spc))
            trun_flags = 0x000001 | 0x000200 | 0x000400  # doff+size+flags
            per = b""
            for k in grp:
                sflags = 0 if (sync is None or k in sync) else 0x00010000
                per += struct.pack(">II", sizes[k], sflags)
            tfhd = box(b"tfhd", struct.pack(">II", 0x020000, 1))
            # sizes are doff-independent: trun = hdr(8) + verflags(4) +
            # count(4) + doff(4) + per; moof = hdr + traf(hdr + tfhd +
            # trun); data offset (relative to moof start, default-base-
            # is-moof) = moof size + mdat header
            trun_size = 8 + 4 + 4 + 4 + len(per)
            moof_size = 8 + (8 + len(tfhd) + trun_size)
            doff = moof_size + 8
            trun = box(
                b"trun",
                b"\x00" + trun_flags.to_bytes(3, "big")
                + struct.pack(">Ii", spc, doff)
                + per,
            )
            moof = box(b"moof", box(b"traf", tfhd + trun))
            assert len(moof) == moof_size
            out += moof + box(b"mdat", b"".join(frames[k] for k in grp))
            s += spc
        return out
    mdat_body = b"".join(frames)
    ftyp = box(b"ftyp", b"isom\x00\x00\x02\x00isomiso2")
    mdat = box(b"mdat", mdat_body)
    mdat_start = len(ftyp) + 8  # payload offset inside the file

    # chunk layout per `chunked` run pattern
    per_chunk = []
    i = 0
    while sum(per_chunk) < n_samples:
        per_chunk.append(chunked[min(i, len(chunked) - 1)])
        i += 1
    offsets, pos, s = [], mdat_start, 0
    for spc in per_chunk:
        offsets.append(pos)
        for _ in range(min(spc, n_samples - s)):
            pos += sizes[s]
            s += 1
    runs = []
    for j, spc in enumerate(per_chunk):
        if not runs or runs[-1][1] != spc:
            runs.append((j + 1, spc))

    stsz = box(
        b"stsz",
        struct.pack(">III", 0, 0, n_samples)
        + struct.pack(f">{n_samples}I", *sizes),
    )
    stco = box(
        b"stco",
        struct.pack(">II", 0, len(offsets))
        + struct.pack(f">{len(offsets)}I", *offsets),
    )
    stsc = box(
        b"stsc",
        struct.pack(">II", 0, len(runs))
        + b"".join(struct.pack(">III", fc, spc, 1) for fc, spc in runs),
    )
    stts = box(b"stts", struct.pack(">II", 0, 1) + struct.pack(">II", n_samples, 1000))
    stbl_body = stsz + stco + stsc + stts
    if sync_samples is not None:
        # stss: 1-based sync (keyframe) sample numbers; callers pass
        # 0-based indices like everywhere else in this module
        stbl_body += box(
            b"stss",
            struct.pack(">II", 0, len(sync_samples))
            + struct.pack(
                f">{len(sync_samples)}I", *[s + 1 for s in sync_samples]
            ),
        )
    if codec is not None:
        entry = (
            struct.pack(">I", 16 + len(stsd_extra))
            + codec.encode("latin1")[:4].ljust(4)
            + b"\x00" * 8
            + stsd_extra
        )
        stbl_body = box(b"stsd", struct.pack(">II", 0, 1) + entry) + stbl_body
    stbl = box(b"stbl", stbl_body)
    moov = box(b"moov", box(b"trak", box(b"mdia", box(b"minf", stbl))))
    return ftyp + mdat + moov


def mp4_avcc_config(payload: bytes) -> bytes | None:
    """Body of the ``avcC`` box (AVCDecoderConfigurationRecord) inside
    the 'avc1' sample entry, or None. Real avc1 tracks carry SPS/PPS
    HERE, not in the samples (ISO 14496-15) — h264.decode_h264 takes
    this as its ``avcc`` argument. The scan is SCOPED to the stsd box
    body found by the box-tree walk — scanning the raw payload would
    let a byte coincidence inside mdat (which precedes moov) shadow
    the real record (r10 review)."""
    boxes: dict = {}
    _mp4_walk(payload, 0, len(payload), boxes)
    for path, bodies in boxes.items():
        if not path.endswith("/stsd"):
            continue
        body = bodies[0]
        i = 0
        while True:
            i = body.find(b"avcC", i)
            if i < 0:
                break
            if i >= 4:
                size = int.from_bytes(body[i - 4 : i], "big")
                if 8 <= size <= len(body) - (i - 4):
                    rec = body[i + 4 : i - 4 + size]
                    if rec[:1] == b"\x01":  # configurationVersion == 1
                        return rec
            i += 4
    return None


def mp4_sample_codec(payload: bytes) -> str | None:
    """FourCC of the first ``stsd`` sample entry (the track's codec —
    'avc1' for h264, 'jpeg'/'mjpa'/'mjpb' for Motion-JPEG variants),
    or None when the container carries no sample description."""
    boxes: dict = {}
    _mp4_walk(payload, 0, len(payload), boxes)
    for path, bodies in boxes.items():
        if path.endswith("/stsd"):
            body = bodies[0]
            if len(body) >= 16:
                return body[12:16].decode("latin1")
    return None


_MJPEG_CODECS = {"jpeg", "mjpa", "mjpb"}


def decode_video_frames(
    payload: bytes,
    indices: list[int] | None = None,
    _samples: list[tuple[int, int, int, int]] | None = None,
) -> list[np.ndarray]:
    """Decode video frames NATIVELY where the codec allows it:
    Motion-JPEG tracks ('jpeg'/'mjpa'/'mjpb' sample entries) store one
    complete T.81 JPEG per sample (operators/jpeg.py), and 'avc1'
    (H.264) INTRA samples decode through operators/h264.py — the
    baseline-profile I-frame decoder (CAVLC, Intra_4x4/16x16/I_PCM,
    4:2:0, §8.7 in-loop deblocking; see its module docstring for the
    honest scope: IDR samples only — P/B motion compensation stays
    the documented seam, which is the right trade for a pipeline that
    frame-samples keyframes rather than transcoding). 'hvc1' (h265)
    raises NotImplementedError naming the codec. ``indices`` selects
    samples (default: all) — pair with frame_sample_plan to range-read
    only the chosen frames at scale."""
    from .jpeg import decode_jpeg

    codec = mp4_sample_codec(payload)
    if codec == "avc1":
        from .h264 import decode_h264

        avcc = mp4_avcc_config(payload)  # None for Annex-B-in-sample fixtures

        def _dec(b: bytes):
            return decode_h264(b, avcc=avcc)

    elif codec in _MJPEG_CODECS:
        _dec = decode_jpeg
    else:
        raise NotImplementedError(
            f"video codec {codec!r} needs ffmpeg-class decode; "
            f"Motion-JPEG tracks ({sorted(_MJPEG_CODECS)}) and h264 "
            "intra ('avc1' IDR samples) decode natively"
        )
    samples = parse_mp4_samples(payload) if _samples is None else _samples
    want = set(indices) if indices is not None else None
    out = []
    for s, off, size, _dur in samples:
        if want is not None and s not in want:
            continue
        out.append(_dec(payload[off : off + size]))
    return out
