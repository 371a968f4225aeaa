"""Multimodal column plumbing (driver mandate).

Image/audio/video payloads are opaque `binary` columns with typed
metadata; decode / feature-extract / resize / frame-sample run as
Arrow-batched kernels over mapInPandas.

Decode is REAL for six codec-library-free formats (plain bytes +
numpy + stdlib zlib):
  * Netpbm (PGM P2/P5, PPM P3/P6) — dimensions, per-channel statistics
    features, nearest-neighbor pixel resize with re-encode;
  * uncompressed BMP (8-bit paletted / 24/32-bit BI_RGB, either row
    order, padding handled) — same feature/resize path, BMP re-encode;
  * PNG (8-bit non-interlaced, color types 0/2/3/4/6, all five
    scanline filters, CRC-verified chunk walk; DEFLATE via the
    Python stdlib's zlib) — same feature/resize path, PNG re-encode;
  * GIF87a/89a (variable-width LSB-packed LZW entropy decode in pure
    python, global/local palettes, interlacing, multi-frame counting)
    — n_frames is REAL for animated GIFs, feeding sample_frames;
  * baseline JPEG (SOF0: table-driven canonical Huffman from the
    stream's DHT, vectorized dequant + IDCT, 4:4:4 and 4:2:0, restart
    markers — see operators/jpeg.py) — decode, features, resize with
    JPEG re-encode;
  * PCM WAV audio (8/16-bit, any channel count, RIFF chunk walk) —
    duration/rms/peak/zero-crossing/energy features;
  * MPEG audio (MP3, MPEG 1/2/2.5 x Layer I/II/III) — frame-header
    walk: exact frame/sample counts, duration and CBR/VBR bitrate
    profile without a synthesis filterbank (ID3v2/v1 tags handled);
  * MJPEG-in-AVI video — RIFF chunk walk (shared with WAV) + the
    operators/jpeg.py decoder per '00dc' frame; real frame counts
    feeding sample_frames.
No stubs remain: unknown payloads raise ValueError.

The documents table's media spans (kind='media', media_ref='File:…')
attach to payloads via media_ref, mirroring the reference's opaque
handling of File: gallery fragments (WikiMarkupStripper passes them
through; SURVEY.md §1.2).
"""

from __future__ import annotations

import zlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .jpeg import encode_jpeg, parse_jpeg

MEDIA_SCHEMA = (
    "media_ref string, media_type string, payload binary, meta_width int,"
    " meta_height int"
)

DECODED_SCHEMA = (
    "media_ref string, width int, height int, n_frames int,"
    " features array<float>"
)


_NETPBM_MAGICS = {b"P2": 1, b"P3": 3, b"P5": 1, b"P6": 3}


def parse_netpbm(data: bytes) -> np.ndarray:
    """Netpbm PGM/PPM parser (pure bytes + numpy) -> HxWxC uint8 array.

    Handles whitespace/#-comment headers, ASCII (P2/P3) and binary
    (P5/P6) rasters, maxval scaling to 0..255."""
    if len(data) < 2 or data[:2] not in _NETPBM_MAGICS:
        raise ValueError("not a supported netpbm payload")
    magic = data[:2]
    channels = _NETPBM_MAGICS[magic]

    pos = 2
    fields: list[int] = []
    while len(fields) < 3:
        while pos < len(data) and data[pos : pos + 1].isspace():
            pos += 1
        if data[pos : pos + 1] == b"#":
            while pos < len(data) and data[pos] != 0x0A:
                pos += 1
            continue
        start = pos
        while pos < len(data) and not data[pos : pos + 1].isspace():
            pos += 1
        fields.append(int(data[start:pos]))
    width, height, maxval = fields
    n = width * height * channels
    if magic in (b"P5", b"P6"):
        pos += 1  # exactly one whitespace byte before the raster
        if maxval < 256:
            px = np.frombuffer(data, dtype=np.uint8, count=n, offset=pos)
        else:
            px = np.frombuffer(
                data, dtype=">u2", count=n, offset=pos
            ).astype(np.uint32)
    else:
        px = np.array(data[pos:].split()[:n], dtype=np.uint32)
    if maxval != 255:
        px = (px.astype(np.uint32) * 255 // maxval)
    return px.astype(np.uint8).reshape(height, width, channels)


def encode_netpbm(px: np.ndarray) -> bytes:
    """HxWxC uint8 -> binary PGM (C=1) / PPM (C=3)."""
    h, w, c = px.shape
    magic = b"P5" if c == 1 else b"P6"
    return magic + f"\n{w} {h}\n255\n".encode() + px.tobytes()


def parse_bmp(data: bytes) -> np.ndarray:
    """Uncompressed BMP decoder (pure struct math + numpy) -> HxWxC uint8.

    Handles the classic BITMAPINFOHEADER layout: 24/32-bit BI_RGB
    truecolor and 8-bit paletted, bottom-up or top-down rows, 4-byte row
    padding, BGR(A) -> RGB channel order. No codec library involved —
    the format is plain little-endian structs."""
    if len(data) < 54 or data[:2] != b"BM":
        raise ValueError("not a BMP payload")

    def _i32(off):
        return int.from_bytes(data[off:off + 4], "little", signed=True)

    def _u16(off):
        return int.from_bytes(data[off:off + 2], "little")

    pixel_off = _i32(10)
    hdr_size = _i32(14)
    width = _i32(18)
    height = _i32(22)
    bpp = _u16(28)
    compression = _i32(30)
    if compression != 0:
        raise ValueError(f"only BI_RGB (uncompressed) BMP: {compression}")
    if bpp not in (8, 24, 32):
        raise ValueError(f"unsupported BMP bit depth: {bpp}")
    top_down = height < 0
    height = abs(height)
    row_bytes = (width * bpp // 8 + 3) & ~3
    raster = np.frombuffer(
        data, dtype=np.uint8, count=row_bytes * height, offset=pixel_off
    ).reshape(height, row_bytes)
    if bpp == 8:
        # palette: BGRA quads right after the info header
        pal_off = 14 + hdr_size
        n_pal = (pixel_off - pal_off) // 4 or 256
        pal = np.frombuffer(
            data, dtype=np.uint8, count=n_pal * 4, offset=pal_off
        ).reshape(n_pal, 4)[:, :3][:, ::-1]  # BGR -> RGB
        idx = raster[:, :width]
        px = pal[idx]
    else:
        c = bpp // 8
        px = raster[:, : width * c].reshape(height, width, c)
        px = px[:, :, 2::-1]  # BGR(A) -> RGB, alpha dropped
    if not top_down:
        px = px[::-1]
    return np.ascontiguousarray(px)


def encode_bmp(px: np.ndarray) -> bytes:
    """HxWx3 uint8 -> 24-bit bottom-up BI_RGB BMP."""
    h, w, c = px.shape
    if c == 1:
        px = np.repeat(px, 3, axis=2)
    row_bytes = (w * 3 + 3) & ~3
    raster = np.zeros((h, row_bytes), dtype=np.uint8)
    raster[:, : w * 3] = px[::-1, :, ::-1].reshape(h, w * 3)  # RGB->BGR
    body = raster.tobytes()
    size = 54 + len(body)
    hdr = (
        b"BM" + size.to_bytes(4, "little") + b"\x00\x00\x00\x00"
        + (54).to_bytes(4, "little")
        + (40).to_bytes(4, "little")
        + w.to_bytes(4, "little", signed=True)
        + h.to_bytes(4, "little", signed=True)
        + (1).to_bytes(2, "little") + (24).to_bytes(2, "little")
        + (0).to_bytes(4, "little") + len(body).to_bytes(4, "little")
        + (2835).to_bytes(4, "little") * 2
        + (0).to_bytes(4, "little") * 2
    )
    return hdr + body


_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def _paeth(a: int, b: int, c: int) -> int:
    """Paeth predictor (PNG spec §9.4): nearest of left/up/up-left to
    the linear estimate a + b - c, ties broken a, b, c."""
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


# Adam7 pass grid (PNG spec §8.2): (x_start, x_step, y_start, y_step)
_ADAM7_PASSES = (
    (0, 8, 0, 8), (4, 8, 0, 8), (0, 4, 4, 8), (2, 4, 0, 4),
    (0, 2, 2, 4), (1, 2, 0, 2), (0, 1, 1, 2),
)


def _unfilter_lines(raw: np.ndarray, height: int, width: int,
                    nch: int) -> np.ndarray:
    """Invert the five PNG scanline filters over one (sub-)image.

    raw: (height, stride+1) uint8 — filter byte + filtered scanline per
    row. Returns the reconstructed (height, stride) samples. Each
    interlace pass is an independent sub-image (prev row starts zero),
    so Adam7 decode calls this once per pass."""
    stride = width * nch
    out = np.zeros((height, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    for y in range(height):
        ft = int(raw[y, 0])
        row = raw[y, 1:].copy()
        if ft == 0:  # None
            pass
        elif ft == 1:  # Sub: prefix sum over columns strided by bpp
            row = np.cumsum(
                row.reshape(width, nch), axis=0, dtype=np.uint8
            ).reshape(stride)
        elif ft == 2:  # Up
            row += prev
        elif ft == 3:  # Average
            for i in range(stride):
                left = int(row[i - nch]) if i >= nch else 0
                row[i] = (int(row[i]) + (left + int(prev[i])) // 2) & 0xFF
        elif ft == 4:  # Paeth
            for i in range(stride):
                left = int(row[i - nch]) if i >= nch else 0
                ul = int(prev[i - nch]) if i >= nch else 0
                row[i] = (
                    int(row[i]) + _paeth(left, int(prev[i]), ul)
                ) & 0xFF
        else:
            raise ValueError(f"bad PNG filter type {ft}")
        out[y] = row
        prev = row
    return out


def parse_png(data: bytes) -> np.ndarray:
    """Baseline PNG decoder (stdlib zlib + numpy, no codec library)
    -> HxWxC uint8 (C=1 gray or 3 RGB; alpha dropped, palette
    expanded).

    Real entropy decode: the IDAT stream is DEFLATE, inflated with the
    stdlib's zlib; scanline unfiltering implements all five PNG filter
    types (None/Sub/Up/Average/Paeth). Supported layout: 8-bit depth,
    color types 0/2/3/4/6, both interlace methods (none / Adam7
    seven-pass). Chunk CRCs are verified."""
    if data[:8] != _PNG_MAGIC:
        raise ValueError("not a PNG payload")
    pos = 8
    width = height = color_type = None
    interlace = 0
    palette = None
    idat = bytearray()
    while pos + 8 <= len(data):
        clen = int.from_bytes(data[pos:pos + 4], "big")
        ctype = data[pos + 4:pos + 8]
        body = data[pos + 8:pos + 8 + clen]
        crc = int.from_bytes(data[pos + 8 + clen:pos + 12 + clen], "big")
        if zlib.crc32(ctype + body) != crc:
            raise ValueError(f"PNG chunk CRC mismatch in {ctype!r}")
        if ctype == b"IHDR":
            width = int.from_bytes(body[0:4], "big")
            height = int.from_bytes(body[4:8], "big")
            bit_depth, color_type, comp, filt, interlace = body[8:13]
            if bit_depth != 8:
                raise ValueError(f"only 8-bit PNG: depth {bit_depth}")
            if comp != 0 or filt != 0:
                raise ValueError("nonstandard PNG compression/filter")
            if interlace not in (0, 1):
                raise ValueError(f"bad PNG interlace method {interlace}")
            if color_type not in _PNG_CHANNELS:
                raise ValueError(f"unknown PNG color type {color_type}")
        elif ctype == b"PLTE":
            palette = np.frombuffer(body, dtype=np.uint8).reshape(-1, 3)
        elif ctype == b"IDAT":
            idat += body
        elif ctype == b"IEND":
            break
        pos += 12 + clen
    if width is None or not idat:
        raise ValueError("PNG missing IHDR/IDAT")
    nch = _PNG_CHANNELS[color_type]
    stride = width * nch
    raw = np.frombuffer(zlib.decompress(bytes(idat)), dtype=np.uint8)
    if interlace == 0:
        if len(raw) != (stride + 1) * height:
            raise ValueError("PNG pixel data length mismatch")
        out = _unfilter_lines(
            raw.reshape(height, stride + 1), height, width, nch
        )
        px = out.reshape(height, width, nch)
    else:
        # Adam7: seven sequential sub-images, each independently
        # filtered, scattered back onto the full-resolution grid
        px = np.zeros((height, width, nch), dtype=np.uint8)
        off = 0
        for xs, xstep, ys, ystep in _ADAM7_PASSES:
            wp = -(-(width - xs) // xstep) if width > xs else 0
            hp = -(-(height - ys) // ystep) if height > ys else 0
            if wp == 0 or hp == 0:
                continue  # empty pass contributes NO bytes (spec §8.2)
            need = hp * (wp * nch + 1)
            if off + need > len(raw):
                raise ValueError("PNG pixel data length mismatch")
            sub = _unfilter_lines(
                raw[off:off + need].reshape(hp, wp * nch + 1), hp, wp, nch
            )
            off += need
            px[ys::ystep, xs::xstep] = sub.reshape(hp, wp, nch)
        if off != len(raw):
            raise ValueError("PNG pixel data length mismatch")
    if color_type == 3:
        if palette is None:
            raise ValueError("paletted PNG missing PLTE")
        px = palette[px[:, :, 0]]
    elif color_type == 4:  # gray+alpha -> gray
        px = px[:, :, :1]
    elif color_type == 6:  # RGBA -> RGB
        px = px[:, :, :3]
    return np.ascontiguousarray(px)


def _png_chunk(ctype: bytes, body: bytes) -> bytes:
    return (
        len(body).to_bytes(4, "big") + ctype + body
        + zlib.crc32(ctype + body).to_bytes(4, "big")
    )


def _filter_lines(sub: np.ndarray, c: int, filter_type: int) -> bytes:
    """Forward PNG filter over one (sub-)image (h, w, c) uint8 ->
    filter-byte-prefixed scanlines. prev row starts zero (per pass)."""
    h = sub.shape[0]
    flat = sub.reshape(h, -1).astype(np.int16)
    lines = []
    prev = np.zeros(flat.shape[1], dtype=np.int16)
    for y in range(h):
        cur = flat[y]
        left = np.zeros_like(cur)
        left[c:] = cur[:-c]
        ul = np.zeros_like(prev)
        ul[c:] = prev[:-c]
        if filter_type == 0:
            enc = cur
        elif filter_type == 1:
            enc = cur - left
        elif filter_type == 2:
            enc = cur - prev
        elif filter_type == 3:
            enc = cur - (left + prev) // 2
        elif filter_type == 4:
            pred = np.array(
                [_paeth(int(a), int(b), int(cc))
                 for a, b, cc in zip(left, prev, ul)],
                dtype=np.int16,
            )
            enc = cur - pred
        else:
            raise ValueError(f"bad PNG filter type {filter_type}")
        lines.append(bytes([filter_type]) + (enc & 0xFF).astype(
            np.uint8).tobytes())
        prev = cur
    return b"".join(lines)


def encode_png(
    px: np.ndarray, filter_type: int = 0, interlace: bool = False
) -> bytes:
    """HxWxC uint8 (C=1 gray / C=3 RGB) -> PNG bytes.

    filter_type applies one PNG filter to every scanline (the forward
    transform — the decoder must invert it, which makes non-zero
    filters a round-trip oracle for the unfiltering code, not just a
    size optimization). interlace=True emits the Adam7 seven-pass
    layout — the oracle for the decoder's deinterlacer."""
    h, w, c = px.shape
    color_type = 0 if c == 1 else 2
    if interlace:
        body = b""
        for xs, xstep, ys, ystep in _ADAM7_PASSES:
            sub = px[ys::ystep, xs::xstep]
            if sub.shape[0] == 0 or sub.shape[1] == 0:
                continue  # empty pass emits nothing (spec §8.2)
            body += _filter_lines(np.ascontiguousarray(sub), c,
                                  filter_type)
    else:
        body = _filter_lines(px, c, filter_type)
    ihdr = (
        w.to_bytes(4, "big") + h.to_bytes(4, "big")
        + bytes([8, color_type, 0, 0, 1 if interlace else 0])
    )
    return (
        _PNG_MAGIC
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(body))
        + _png_chunk(b"IEND", b"")
    )


def _gif_lzw_decode(data: bytes, min_code_size: int) -> list[int]:
    """GIF-variant LZW decode (codes packed LSB-first, dynamic code
    width 3..12 bits, clear/EOI codes) -> palette index list."""
    clear = 1 << min_code_size
    eoi = clear + 1

    def reset():
        return (
            {i: (i,) for i in range(clear)},
            min_code_size + 1,
            clear + 2,
        )

    table, width, next_code = reset()
    out: list[int] = []
    acc = nbits = 0
    prev: tuple[int, ...] | None = None
    for byte in data:
        acc |= byte << nbits
        nbits += 8
        while nbits >= width:
            code = acc & ((1 << width) - 1)
            acc >>= width
            nbits -= width
            if code == clear:
                table, width, next_code = reset()
                prev = None
                continue
            if code == eoi:
                return out
            if code in table:
                entry = table[code]
            elif code == next_code and prev is not None:
                entry = prev + (prev[0],)  # the KwKwK case
            else:
                raise ValueError(f"bad LZW code {code}")
            out.extend(entry)
            if prev is not None and next_code < 4096:
                table[next_code] = prev + (entry[0],)
                next_code += 1
                if next_code == (1 << width) and width < 12:
                    width += 1
            prev = entry
    return out


def _gif_lzw_encode(indices: list[int], min_code_size: int) -> bytes:
    """GIF-variant LZW encode (the forward transform; the decoder must
    invert it — a lossless round-trip oracle)."""
    clear = 1 << min_code_size
    eoi = clear + 1
    table = {(i,): i for i in range(clear)}
    width = min_code_size + 1
    next_code = clear + 2
    acc = nbits = 0
    out = bytearray()

    def emit(code):
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    emit(clear)
    run: tuple[int, ...] = ()
    for idx in indices:
        cand = run + (idx,)
        if cand in table:
            run = cand
            continue
        emit(table[run])
        table[cand] = next_code
        next_code += 1
        if next_code - 1 == (1 << width) and width < 12:
            width += 1
        if next_code == 4096:
            emit(clear)
            table = {(i,): i for i in range(clear)}
            width = min_code_size + 1
            next_code = clear + 2
        run = (idx,)
    if run:
        emit(table[run])
    emit(eoi)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


_GIF_MAGICS = (b"GIF87a", b"GIF89a")
_GIF_DEINTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


def parse_gif(data: bytes) -> tuple[np.ndarray, int]:
    """GIF87a/89a decoder (pure python LZW + numpy) ->
    (first frame as HxWx3 uint8, n_frames).

    Real entropy decode: variable-width LSB-packed LZW with clear/EOI
    handling and the KwKwK case; interlaced frames are reordered by the
    four-pass scheme. Extensions (GCE/comment/app) are skipped by the
    sub-block walk; later frames are counted, not composited."""
    if data[:6] not in _GIF_MAGICS:
        raise ValueError("not a GIF payload")
    # bytes 6-9 are the logical screen size; frames carry their own
    # dimensions, which is what the decode returns
    flags = data[10]
    pos = 13
    gct = None
    if flags & 0x80:
        n = 2 << (flags & 0x07)
        gct = np.frombuffer(
            data, dtype=np.uint8, count=n * 3, offset=pos
        ).reshape(n, 3)
        pos += n * 3

    def skip_subblocks(p):
        # bounds-checked walk: a truncated payload raises the same
        # ValueError contract as the other parsers, not an IndexError
        # from deep inside the Spark kernel
        while True:
            if p >= len(data):
                raise ValueError("truncated GIF")
            n = data[p]
            if not n:
                return p + 1
            p += 1 + n

    first: np.ndarray | None = None
    n_frames = 0
    while pos < len(data):
        b = data[pos]
        if b == 0x3B:  # trailer
            break
        if b == 0x21:  # extension: label + sub-blocks
            pos = skip_subblocks(pos + 2)
            continue
        if b != 0x2C:
            raise ValueError(f"bad GIF block 0x{b:02x}")
        if pos + 10 > len(data):
            raise ValueError("truncated GIF")
        w = int.from_bytes(data[pos + 5:pos + 7], "little")
        h = int.from_bytes(data[pos + 7:pos + 9], "little")
        iflags = data[pos + 9]
        pos += 10
        pal = gct
        if iflags & 0x80:  # local color table
            n = 2 << (iflags & 0x07)
            pal = np.frombuffer(
                data, dtype=np.uint8, count=n * 3, offset=pos
            ).reshape(n, 3)
            pos += n * 3
        if pos >= len(data):
            raise ValueError("truncated GIF")
        min_code = data[pos]
        pos += 1
        lzw = bytearray()
        while True:
            if pos >= len(data):
                raise ValueError("truncated GIF")
            ln = data[pos]
            if not ln:
                break
            if pos + 1 + ln > len(data):
                raise ValueError("truncated GIF")
            lzw += data[pos + 1:pos + 1 + ln]
            pos += 1 + ln
        pos += 1
        n_frames += 1
        if first is None:
            if pal is None:
                raise ValueError("GIF frame without a color table")
            idx = np.array(
                _gif_lzw_decode(bytes(lzw), min_code)[: w * h],
                dtype=np.int32,
            ).reshape(h, w)
            if iflags & 0x40:  # interlaced: four-pass row order
                rows = np.concatenate(
                    [np.arange(start, h, step)
                     for start, step in _GIF_DEINTERLACE_PASSES]
                )
                deint = np.empty_like(idx)
                deint[rows] = idx
                idx = deint
            first = pal[idx]
    if first is None:
        raise ValueError("GIF with no image frame")
    return np.ascontiguousarray(first), n_frames


def encode_gif(px: np.ndarray) -> bytes:
    """HxWxC uint8 (≤256 distinct colors) -> single-frame GIF89a."""
    h, w, c = px.shape
    if c == 1:
        px = np.repeat(px, 3, axis=2)
    flat = px.reshape(-1, 3)
    colors, inverse = np.unique(flat, axis=0, return_inverse=True)
    if len(colors) > 256:
        raise ValueError("encode_gif needs <=256 distinct colors")
    bits = max(1, int(len(colors) - 1).bit_length())
    pal = np.zeros((2 ** bits, 3), dtype=np.uint8)
    pal[: len(colors)] = colors
    min_code = max(2, bits)
    body = _gif_lzw_encode(inverse.tolist(), min_code)
    out = bytearray(b"GIF89a")
    out += w.to_bytes(2, "little") + h.to_bytes(2, "little")
    out += bytes([0x80 | (bits - 1), 0, 0])
    out += pal.tobytes()
    out += b"\x2c" + b"\x00" * 4
    out += w.to_bytes(2, "little") + h.to_bytes(2, "little") + b"\x00"
    out += bytes([min_code])
    for i in range(0, len(body), 255):
        chunk = body[i:i + 255]
        out += bytes([len(chunk)]) + chunk
    out += b"\x00\x3b"
    return bytes(out)


def parse_wav(data: bytes) -> tuple[int, np.ndarray]:
    """PCM WAV decoder (RIFF chunk walk, pure numpy) ->
    (sample_rate, samples[n, channels] as float64 in [-1, 1]).

    Handles 8-bit unsigned and 16-bit signed PCM (format tag 1), any
    channel count, extra chunks (LIST, fact) skipped by the chunk walk."""
    if len(data) < 44 or data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError("not a WAV payload")
    pos = 12
    rate = channels = bits = None
    samples = None
    while pos + 8 <= len(data):
        cid = data[pos:pos + 4]
        clen = int.from_bytes(data[pos + 4:pos + 8], "little")
        body = data[pos + 8:pos + 8 + clen]
        if cid == b"fmt ":
            tag = int.from_bytes(body[0:2], "little")
            if tag != 1:
                raise ValueError(f"only PCM WAV (tag 1): {tag}")
            channels = int.from_bytes(body[2:4], "little")
            rate = int.from_bytes(body[4:8], "little")
            bits = int.from_bytes(body[14:16], "little")
        elif cid == b"data":
            samples = body
        pos += 8 + clen + (clen & 1)  # chunks are word-aligned
    if rate is None or samples is None:
        raise ValueError("WAV missing fmt/data chunk")
    if bits == 16:
        arr = np.frombuffer(
            samples, dtype="<i2",
            count=len(samples) // 2 // channels * channels,
        ).astype(np.float64) / 32768.0
    elif bits == 8:
        arr = (
            np.frombuffer(
                samples, dtype=np.uint8,
                count=len(samples) // channels * channels,
            ).astype(np.float64) - 128.0
        ) / 128.0
    else:
        raise ValueError(f"unsupported PCM bit depth: {bits}")
    return rate, arr.reshape(-1, channels)


# MPEG audio frame-header tables (ISO/IEC 11172-3 §2.4.2.3; the public
# header layout). Bitrates in kbps by (version-group, layer); sample
# rates by version field. Version field: 0=MPEG2.5, 2=MPEG2, 3=MPEG1.
_MP3_BITRATES = {
    # MPEG1
    (3, 1): (0, 32, 64, 96, 128, 160, 192, 224, 256, 288, 320, 352,
             384, 416, 448),  # Layer I
    (3, 2): (0, 32, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256,
             320, 384),  # Layer II
    (3, 3): (0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224,
             256, 320),  # Layer III
    # MPEG2 / MPEG2.5 (LSF): Layer I, and one shared Layer II/III table
    (2, 1): (0, 32, 48, 56, 64, 80, 96, 112, 128, 144, 160, 176, 192,
             224, 256),
    (2, 2): (0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144,
             160),
    (2, 3): (0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144,
             160),
}
_MP3_RATES = {3: (44100, 48000, 32000), 2: (22050, 24000, 16000),
              0: (11025, 12000, 8000)}


def parse_mp3(data: bytes) -> dict:
    """MPEG audio (MP3) frame-header walk — duration/bitrate/layout
    features WITHOUT a full audio decode (no DCT/synthesis filterbank
    needed: every frame's byte length is derivable from its 4-byte
    header, so walking headers yields the exact frame count, sample
    count, duration, and the CBR/VBR bitrate profile).

    Handles ID3v2 prefix (syncsafe size), ID3v1 'TAG' trailer, MPEG
    1/2/2.5 x Layer I/II/III, padding bit, mono/stereo mode. Free-format
    frames (bitrate index 0) and reserved fields raise ValueError."""
    pos = 0
    if data[:3] == b"ID3" and len(data) >= 10:
        size = 0
        for b in data[6:10]:  # syncsafe u28: 7 bits per byte
            size = (size << 7) | (b & 0x7F)
        pos = 10 + size
    frames = 0
    n_samples = 0
    rate = channels = None
    kbps: list[int] = []
    byte_len = 0
    while pos + 4 <= len(data):
        if data[pos:pos + 3] == b"TAG":  # ID3v1 trailer
            break
        hdr = int.from_bytes(data[pos:pos + 4], "big")
        if (hdr >> 21) & 0x7FF != 0x7FF:
            if frames == 0:
                pos += 1  # resync: junk before the first frame
                continue
            break  # trailing junk after the last frame
        version = (hdr >> 19) & 3   # 0=2.5, 1=reserved, 2=MPEG2, 3=MPEG1
        layer_f = (hdr >> 17) & 3   # 0=reserved, 1=LIII, 2=LII, 3=LI
        br_idx = (hdr >> 12) & 0xF
        sr_idx = (hdr >> 10) & 3
        padding = (hdr >> 9) & 1
        mode = (hdr >> 6) & 3       # 3 = single channel
        if version == 1 or layer_f == 0 or sr_idx == 3 or br_idx == 15:
            if frames == 0:
                pos += 1
                continue
            raise ValueError("reserved MP3 header field mid-stream")
        if br_idx == 0:
            raise ValueError("free-format MP3 not supported")
        layer = 4 - layer_f         # 1/2/3 as written
        vgroup = 3 if version == 3 else 2
        bitrate = _MP3_BITRATES[(vgroup, layer)][br_idx] * 1000
        srate = _MP3_RATES[version][sr_idx]
        if layer == 1:
            spf = 384
            flen = (12 * bitrate // srate + padding) * 4
        else:
            spf = 1152 if (layer == 2 or version == 3) else 576
            flen = spf // 8 * bitrate // srate + padding
        if flen <= 4 or pos + flen > len(data):
            break  # truncated final frame: keep what fully parsed
        if rate is None:
            rate, channels = srate, (1 if mode == 3 else 2)
        frames += 1
        n_samples += spf
        kbps.append(bitrate // 1000)
        byte_len += flen
        pos += flen
    if frames == 0:
        raise ValueError("no MP3 frames")
    duration = n_samples / rate
    return {
        "sample_rate": rate,
        "channels": channels,
        "n_frames": frames,
        "n_samples": n_samples,
        "duration": duration,
        "kbps_avg": sum(kbps) / frames,
        "kbps_min": min(kbps),
        "kbps_max": max(kbps),
        "vbr": len(set(kbps)) > 1,
        "byte_len": byte_len,
    }


def _mp3_features(info: dict) -> list[float]:
    """8 deterministic audio-stream statistics (header-walk features —
    same arity as the WAV/image feature vectors)."""
    return [
        round(x, 6)
        for x in (
            info["duration"],
            info["kbps_avg"],
            float(info["kbps_min"]),
            float(info["kbps_max"]),
            1.0 if info["vbr"] else 0.0,
            float(info["n_frames"]),
            float(info["channels"]),
            info["byte_len"] / max(1.0, info["duration"]),
        )
    ]


def _riff_chunks(data: bytes, pos: int, end: int):
    """Flat RIFF chunk walk (word-aligned) over [pos, end)."""
    while pos + 8 <= end:
        cid = data[pos:pos + 4]
        clen = int.from_bytes(data[pos + 4:pos + 8], "little")
        if pos + 8 + clen > end:
            raise ValueError("truncated RIFF chunk")
        yield cid, pos + 8, clen
        pos += 8 + clen + (clen & 1)


def parse_avi(data: bytes) -> tuple[np.ndarray, int, float]:
    """MJPEG-in-AVI decoder (RIFF chunk walk + operators/jpeg.py per
    frame) -> (first frame as HxWxC uint8, n_frames, fps).

    The container walk is the same RIFF discipline as parse_wav; video
    frames are '00dc'/'00db' chunks inside LIST/movi, each a complete
    baseline JPEG for MJPEG streams. n_frames is the REAL count of
    frame chunks (feeding sample_frames); fps comes from the avih main
    header's dwMicroSecPerFrame."""
    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"AVI ":
        raise ValueError("not an AVI payload")
    micro_per_frame = 0
    first: np.ndarray | None = None
    n_frames = 0
    for cid, body, clen in _riff_chunks(data, 12, len(data)):
        if cid != b"LIST":
            continue
        ltype = data[body:body + 4]
        if ltype == b"hdrl":
            for c2, b2, l2 in _riff_chunks(data, body + 4, body + clen):
                if c2 == b"avih" and l2 >= 4:
                    micro_per_frame = int.from_bytes(
                        data[b2:b2 + 4], "little"
                    )
        elif ltype == b"movi":
            for c2, b2, l2 in _riff_chunks(data, body + 4, body + clen):
                if c2[2:4] in (b"dc", b"db"):
                    n_frames += 1
                    if first is None and l2 >= 2:
                        payload = data[b2:b2 + l2]
                        if payload[:2] != b"\xff\xd8":
                            raise ValueError(
                                "non-MJPEG AVI video frame"
                            )
                        first = parse_jpeg(payload)
    if first is None:
        raise ValueError("AVI with no video frame")
    fps = 1e6 / micro_per_frame if micro_per_frame else 0.0
    return first, n_frames, fps


def _wav_features(rate: int, samples: np.ndarray) -> list[float]:
    """8 deterministic audio statistics (the feature-extraction stage):
    duration, rms, peak, mean, zero-crossing rate, std, and the energy
    split between the first/second half."""
    mono = samples.mean(axis=1)
    n = len(mono)
    dur = n / rate if rate else 0.0
    zcr = float(np.mean(np.abs(np.diff(np.signbit(mono))))) if n > 1 else 0.0
    half = n // 2
    e1 = float(np.mean(mono[:half] ** 2)) if half else 0.0
    e2 = float(np.mean(mono[half:] ** 2)) if n - half else 0.0
    return [
        round(x, 6)
        for x in (
            dur,
            float(np.sqrt(np.mean(mono ** 2))) if n else 0.0,
            float(np.abs(mono).max()) if n else 0.0,
            float(mono.mean()) if n else 0.0,
            zcr,
            float(mono.std()) if n else 0.0,
            e1,
            e2,
        )
    ]


def _netpbm_features(px: np.ndarray) -> list[float]:
    """8 deterministic image statistics (the feature-extraction stage)."""
    h, w, c = px.shape
    f = px.astype(np.float64)
    chan = [float(f[:, :, k].mean()) / 255.0 for k in range(c)]
    chan += [chan[-1]] * (3 - len(chan))
    return [
        round(x, 6)
        for x in (
            float(f.mean()) / 255.0,
            float(f.std()) / 255.0,
            *chan,
            round(w / h, 6),
            float(f.min()) / 255.0,
            float(f.max()) / 255.0,
        )
    ]


def decode_media(media: DataFrame) -> DataFrame:
    """(media_ref, payload, ...) -> (media_ref, width, height, n_frames,
    features). Arrow-batched mapInPandas; one python call per batch.

    EVERY supported modality decodes for real (no codec library, no
    stub): Netpbm (PGM/PPM), uncompressed BMP, PNG incl. Adam7 (stdlib
    zlib inflate), GIF (pure-python LZW), baseline JPEG (pure-python
    Huffman + numpy DCT), PCM WAV audio (width = sample rate, height =
    channel count, n_frames = sample count, features = duration/rms/
    peak/zcr stats), MPEG audio / MP3 (frame-header walk: exact
    duration/bitrate/frame features without a synthesis filterbank),
    and MJPEG-in-AVI video (RIFF walk + per-frame JPEG decode;
    n_frames is the real video frame count). Unknown payloads raise
    ValueError."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {"media_ref": [], "width": [], "height": [],
                    "n_frames": [], "features": []}
            for ref, payload in zip(pdf["media_ref"], pdf["payload"]):
                raw = bytes(payload) if payload is not None else b""
                is_riff = raw[:4] == b"RIFF"
                if (
                    raw[:2] in _NETPBM_MAGICS
                    or raw[:2] == b"BM"
                    or raw[:8] == _PNG_MAGIC
                    or raw[:6] in _GIF_MAGICS
                    or raw[:2] == b"\xff\xd8"
                    or (is_riff and raw[8:12] == b"AVI ")
                ):
                    nf = 1
                    if raw[:8] == _PNG_MAGIC:
                        px = parse_png(raw)
                    elif raw[:6] in _GIF_MAGICS:
                        px, nf = parse_gif(raw)
                    elif raw[:2] == b"\xff\xd8":
                        px = parse_jpeg(raw)
                    elif raw[:2] == b"BM":
                        px = parse_bmp(raw)
                    elif is_riff:
                        px, nf, _fps = parse_avi(raw)
                    else:
                        px = parse_netpbm(raw)
                    h, w = px.shape[0], px.shape[1]
                    feats = _netpbm_features(px)
                elif is_riff and raw[8:12] == b"WAVE":
                    rate, samples = parse_wav(raw)
                    w, h = rate, samples.shape[1]
                    nf = samples.shape[0]
                    feats = _wav_features(rate, samples)
                elif raw[:3] == b"ID3" or (
                    len(raw) >= 2
                    and raw[0] == 0xFF
                    and raw[1] & 0xE0 == 0xE0
                ):
                    info = parse_mp3(raw)
                    w, h = info["sample_rate"], info["channels"]
                    nf = info["n_samples"]
                    feats = _mp3_features(info)
                else:
                    raise ValueError(
                        "unsupported media payload (supported: netpbm, "
                        "BMP, PNG, GIF, baseline JPEG, PCM WAV, MP3, "
                        "MJPEG AVI)"
                    )
                rows["media_ref"].append(ref)
                rows["width"].append(w)
                rows["height"].append(h)
                rows["n_frames"].append(nf)
                rows["features"].append(feats)
            yield pd.DataFrame(rows)

    return media.select("media_ref", "payload").mapInPandas(
        kernel, schema=DECODED_SCHEMA
    )


def resize_media(media: DataFrame, max_side: int = 64) -> DataFrame:
    """REAL pixel resize for netpbm/BMP/PNG payloads: nearest-neighbor
    downscale preserving aspect ratio, re-encoded in the same container.
    -> (media_ref, payload, width, height)."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {"media_ref": [], "payload": [], "width": [],
                    "height": []}
            for ref, payload in zip(pdf["media_ref"], pdf["payload"]):
                raw = bytes(payload)
                is_bmp = raw[:2] == b"BM"
                is_png = raw[:8] == _PNG_MAGIC
                is_gif = raw[:6] in _GIF_MAGICS
                is_jpg = raw[:2] == b"\xff\xd8"
                if is_png:
                    px = parse_png(raw)
                elif is_gif:
                    px, _ = parse_gif(raw)
                elif is_jpg:
                    px = parse_jpeg(raw)
                elif is_bmp:
                    px = parse_bmp(raw)
                else:
                    px = parse_netpbm(raw)
                h, w = px.shape[0], px.shape[1]
                scale = min(1.0, max_side / max(w, h))
                ow = max(1, int(round(w * scale)))
                oh = max(1, int(round(h * scale)))
                yi = (np.arange(oh) * (h / oh)).astype(int)
                xi = (np.arange(ow) * (w / ow)).astype(int)
                out = px[yi][:, xi]
                rows["media_ref"].append(ref)
                if is_png:
                    enc = encode_png(out)
                elif is_gif:
                    enc = encode_gif(out)
                elif is_jpg:
                    enc = encode_jpeg(out)
                elif is_bmp:
                    enc = encode_bmp(out)
                else:
                    enc = encode_netpbm(out)
                rows["payload"].append(enc)
                rows["width"].append(ow)
                rows["height"].append(oh)
            yield pd.DataFrame(rows)

    return media.select("media_ref", "payload").mapInPandas(
        kernel,
        schema="media_ref string, payload binary, width int, height int",
    )


def sample_frames(decoded: DataFrame, every_k: int = 2) -> DataFrame:
    """Frame-sampling plan: one output row per kept frame index —
    an explode of a sequence column, fully relational."""
    return decoded.select(
        "media_ref",
        F.explode(
            F.sequence(
                F.lit(0), F.col("n_frames") - 1, F.lit(every_k)
            )
        ).alias("frame_idx"),
    )


# 44-byte header of an 8-sample 8 kHz mono 16-bit PCM WAV: with the
# sample count fixed, every header field is a constant, so synthetic
# payload construction stays a pure column expression (no UDF)
_WAV8_HEADER = (
    b"RIFF" + (36 + 16).to_bytes(4, "little") + b"WAVE"
    + b"fmt " + (16).to_bytes(4, "little")
    + (1).to_bytes(2, "little") + (1).to_bytes(2, "little")
    + (8000).to_bytes(4, "little") + (16000).to_bytes(4, "little")
    + (2).to_bytes(2, "little") + (16).to_bytes(2, "little")
    + b"data" + (16).to_bytes(4, "little")
)


def media_payloads_from_documents(
    documents: DataFrame, synth_payloads: bool = True
) -> DataFrame:
    """Extract media spans and synthesize deterministic REAL payloads —
    the container's documents table has no actual blobs, so each
    media_ref gets a tiny valid PCM WAV whose 8 samples are the ref's
    md5 digest bytes. Pure column math (constant header ++ digest):
    the payloads round-trip through the real parse_wav decode path, not
    a stub. Pass synth_payloads=False for NULL payloads (schema-only
    plumbing tests)."""
    spans = documents.select(
        F.explode("spans").alias("s")
    ).filter(F.col("s.kind") == "media").select(
        F.col("s.media_ref").alias("media_ref"),
        F.col("s.text").alias("caption"),
    ).distinct()
    payload = (
        F.concat(
            F.lit(_WAV8_HEADER),
            F.to_binary(F.md5(F.col("media_ref")), F.lit("hex")),
        )
        if synth_payloads
        else F.lit(None).cast("binary")
    )
    return spans.withColumn("payload", payload).withColumn(
        "media_type", F.lit("audio/wav")
    )
