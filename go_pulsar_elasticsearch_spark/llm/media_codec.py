"""Dependency-free media codecs: BMP (24-bit BITMAPINFOHEADER), WAV
(RIFF/PCM 16-bit), PNG (8-bit RGB/RGBA, stdlib zlib inflate +
per-scanline unfilter), GIF (87a/89a single-frame, real
variable-code-width LZW both directions), and baseline JPEG (T.81
sequential DCT: marker stream, per-image optimized canonical Huffman
tables, byte-stuffed entropy bitstream, zigzag/dequant/IDCT, 4:4:4
YCbCr or grayscale).

These replace the multimodal decode stub for the container formats
that need no external codec library — pure struct parsing over the
public file formats (BMP: Windows BITMAPFILEHEADER + BITMAPINFOHEADER;
WAV: RIFF chunks + PCM fmt; PNG: RFC 2083 chunk stream, DEFLATE via
stdlib zlib, filter types 0-4; GIF: GCT + LZW index stream in
length-prefixed sub-blocks).  The certified queries in
llm/multimodal.py check each against a DuckDB oracle computing the
same channel/sample statistics from the generating arithmetic — a
broken parser (wrong offset, missed row padding, bad chunk walk, wrong
unfilter, an LZW code-width off-by-one) cannot hash-match because
every output value passes through real encoded bytes.

Encoders exist so tests and the certified queries can synthesize
spec-conformant payloads; golden byte fixtures in
tests/test_multimodal.py, tests/test_png_codec.py, and
tests/test_gif_codec.py pin the codecs to the published layouts so an
encoder/decoder bug pair cannot cancel out.
"""

from __future__ import annotations

import math
import struct
import zlib

import numpy as _np


class MediaFormatError(ValueError):
    """Payload does not parse as the claimed container format."""


# --------------------------------------------------------------------------
# BMP — 24-bit uncompressed, BITMAPINFOHEADER, bottom-up rows, BGR order,
# rows padded to 4-byte boundaries (the classic Windows DIB layout)
# --------------------------------------------------------------------------


def encode_bmp(width: int, height: int, rgb_rows: list[list[tuple[int, int, int]]]) -> bytes:
    """rgb_rows[y][x] = (r, g, b) with y=0 the TOP row (the encoder
    writes rows bottom-up as the format requires)."""
    if len(rgb_rows) != height or any(len(r) != width for r in rgb_rows):
        raise ValueError("pixel grid does not match width/height")
    row_stride = (width * 3 + 3) & ~3  # pad to 4 bytes
    pad = b"\x00" * (row_stride - width * 3)
    pixel_bytes = bytearray()
    for y in range(height - 1, -1, -1):  # bottom-up
        for r, g, b in rgb_rows[y]:
            pixel_bytes += bytes((b, g, r))  # BGR on disk
        pixel_bytes += pad
    data_offset = 14 + 40
    file_size = data_offset + len(pixel_bytes)
    header = struct.pack("<2sIHHI", b"BM", file_size, 0, 0, data_offset)
    info = struct.pack(
        "<IiiHHIIiiII",
        40,          # biSize
        width, height,
        1,           # biPlanes
        24,          # biBitCount
        0,           # biCompression = BI_RGB
        len(pixel_bytes),
        2835, 2835,  # 72 DPI
        0, 0,
    )
    return header + info + bytes(pixel_bytes)


def decode_bmp(data: bytes) -> dict:
    """Parse a 24-bit uncompressed BMP; returns width, height, n_pixels
    and EXACT per-channel byte sums (sum_r/g/b) — integer facts an
    oracle can recompute.  Handles bottom-up AND top-down (negative
    height) images and row padding."""
    if len(data) < 54 or data[:2] != b"BM":
        raise MediaFormatError("not a BMP payload (missing 'BM' magic)")
    magic, _file_size, _r1, _r2, data_offset = struct.unpack_from("<2sIHHI", data, 0)
    (
        bi_size, width, height_raw, planes, bpp, compression,
        _img_size, _xppm, _yppm, _clr_used, _clr_imp,
    ) = struct.unpack_from("<IiiHHIIiiII", data, 14)
    if bi_size < 40:
        raise MediaFormatError(f"unsupported DIB header size {bi_size}")
    if bpp != 24 or compression != 0:
        raise MediaFormatError(
            f"only 24-bit uncompressed BMP supported (bpp={bpp}, "
            f"compression={compression})"
        )
    height = abs(height_raw)
    row_stride = (width * 3 + 3) & ~3
    need = data_offset + row_stride * height
    if len(data) < need:
        raise MediaFormatError(
            f"truncated BMP: need {need} bytes, have {len(data)}"
        )
    sum_r = sum_g = sum_b = 0
    for row in range(height):
        off = data_offset + row * row_stride
        rowbytes = data[off:off + width * 3]
        # BGR triplets; slice-stride sums keep this O(n) in C
        sum_b += sum(rowbytes[0::3])
        sum_g += sum(rowbytes[1::3])
        sum_r += sum(rowbytes[2::3])
    return {
        "width": width,
        "height": height,
        "n_pixels": width * height,
        "sum_r": sum_r,
        "sum_g": sum_g,
        "sum_b": sum_b,
        "top_down": height_raw < 0,
    }


# --------------------------------------------------------------------------
# WAV — RIFF container, PCM (audioFormat=1), 16-bit little-endian samples
# --------------------------------------------------------------------------


def encode_wav(sample_rate: int, samples: list[int], n_channels: int = 1) -> bytes:
    """16-bit PCM mono/interleaved WAV from int samples in [-32768, 32767]."""
    data = struct.pack(f"<{len(samples)}h", *samples)
    byte_rate = sample_rate * n_channels * 2
    block_align = n_channels * 2
    fmt = struct.pack(
        "<4sIHHIIHH", b"fmt ", 16, 1, n_channels, sample_rate,
        byte_rate, block_align, 16,
    )
    data_chunk = struct.pack("<4sI", b"data", len(data)) + data
    riff_size = 4 + len(fmt) + len(data_chunk)
    return struct.pack("<4sI4s", b"RIFF", riff_size, b"WAVE") + fmt + data_chunk


def _parse_wav_chunks(data: bytes) -> tuple[int, int, bytes]:
    """Shared RIFF walk for the WAV decoders: validates the container,
    walks the chunk list (skipping unknown chunks, word-aligned), and
    returns (n_channels, sample_rate, pcm_bytes) for 16-bit PCM."""
    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise MediaFormatError("not a RIFF/WAVE payload")
    pos = 12
    fmt_info = None
    pcm = None
    while pos + 8 <= len(data):
        cid, size = struct.unpack_from("<4sI", data, pos)
        body = data[pos + 8:pos + 8 + size]
        if cid == b"fmt ":
            if size < 16:
                raise MediaFormatError("fmt chunk too short")
            audio_fmt, n_ch, rate, _br, _ba, bits = struct.unpack_from(
                "<HHIIHH", body, 0
            )
            if audio_fmt != 1 or bits != 16:
                raise MediaFormatError(
                    f"only 16-bit PCM supported (fmt={audio_fmt}, bits={bits})"
                )
            fmt_info = (n_ch, rate)
        elif cid == b"data":
            pcm = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt_info is None or pcm is None:
        raise MediaFormatError("missing fmt or data chunk")
    return fmt_info[0], fmt_info[1], pcm


def decode_wav(data: bytes) -> dict:
    """Parse a RIFF/PCM WAV (shared chunk walk in _parse_wav_chunks);
    returns exact integer sample statistics."""
    n_ch, rate, pcm = _parse_wav_chunks(data)
    n = len(pcm) // 2
    samples = struct.unpack(f"<{n}h", pcm[: n * 2])
    return {
        "n_channels": n_ch,
        "sample_rate": rate,
        "bits_per_sample": 16,
        "n_samples": n // n_ch,
        "sum_abs": sum(abs(s) for s in samples),
        "peak_abs": max((abs(s) for s in samples), default=0),
    }


def decode_bmp_pixels(data: bytes) -> dict:
    """Parse a 24-bit uncompressed BMP into the full pixel grid:
    returns width, height, and rgb_rows[y][x] = (r, g, b) with y=0 the
    TOP row regardless of on-disk row order (bottom-up or top-down).
    Same header validation as decode_bmp; used by the perceptual-hash
    operators, which need pixel access rather than channel sums."""
    if len(data) < 54 or data[:2] != b"BM":
        raise MediaFormatError("not a BMP payload (missing 'BM' magic)")
    _magic, _file_size, _r1, _r2, data_offset = struct.unpack_from(
        "<2sIHHI", data, 0
    )
    (
        bi_size, width, height_raw, _planes, bpp, compression,
        _img_size, _xppm, _yppm, _clr_used, _clr_imp,
    ) = struct.unpack_from("<IiiHHIIiiII", data, 14)
    if bi_size < 40:
        raise MediaFormatError(f"unsupported DIB header size {bi_size}")
    if bpp != 24 or compression != 0:
        raise MediaFormatError(
            f"only 24-bit uncompressed BMP supported (bpp={bpp}, "
            f"compression={compression})"
        )
    height = abs(height_raw)
    top_down = height_raw < 0
    row_stride = (width * 3 + 3) & ~3
    need = data_offset + row_stride * height
    if len(data) < need:
        raise MediaFormatError(
            f"truncated BMP: need {need} bytes, have {len(data)}"
        )
    rows = []
    for disk_row in range(height):
        off = data_offset + disk_row * row_stride
        rowbytes = data[off:off + width * 3]
        rows.append(
            [
                (rowbytes[3 * x + 2], rowbytes[3 * x + 1], rowbytes[3 * x])
                for x in range(width)
            ]
        )
    if not top_down:
        rows.reverse()  # bottom-up on disk -> top-row-first grid
    return {"width": width, "height": height, "rgb_rows": rows}


# --------------------------------------------------------------------------
# PNG — RFC 2083: 8-byte signature, length/type/data/CRC chunks, IHDR,
# one-or-more IDAT carrying a zlib stream of filtered scanlines, IEND.
# Supported: bit depth 8, color type 2 (RGB) or 6 (RGBA), no interlace.
# Filter types 0-4 (None/Sub/Up/Average/Paeth) both encode and decode —
# the real codec surface a crawl corpus exercises.  Everything here is
# stdlib: struct for chunk framing, zlib for DEFLATE and CRC-32.
# --------------------------------------------------------------------------

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_chunk(ctype: bytes, body: bytes) -> bytes:
    return (
        struct.pack(">I", len(body)) + ctype + body
        + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
    )


def _paeth(a: int, b: int, c: int) -> int:
    """Paeth predictor (PNG filter type 4): the neighbor (left/up/
    up-left) closest to the linear estimate a + b - c."""
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def _filter_scanline(ftype: int, raw: bytes, prev: bytes, bpp: int) -> bytes:
    """Apply PNG filter ``ftype`` to one raw scanline (encoder side)."""
    n = len(raw)
    if ftype == 0:
        return bytes(raw)
    if ftype == 1:  # Sub
        return bytes(
            (raw[i] - (raw[i - bpp] if i >= bpp else 0)) & 0xFF
            for i in range(n)
        )
    if ftype == 2:  # Up
        return bytes((raw[i] - prev[i]) & 0xFF for i in range(n))
    if ftype == 3:  # Average
        return bytes(
            (raw[i] - ((raw[i - bpp] if i >= bpp else 0) + prev[i]) // 2)
            & 0xFF
            for i in range(n)
        )
    if ftype == 4:  # Paeth
        return bytes(
            (raw[i] - _paeth(raw[i - bpp] if i >= bpp else 0, prev[i],
                             prev[i - bpp] if i >= bpp else 0)) & 0xFF
            for i in range(n)
        )
    raise ValueError(f"invalid PNG filter type {ftype}")


def _unfilter_scanline(ftype: int, line: bytearray, prev: bytes, bpp: int) -> None:
    """Reverse PNG filter ``ftype`` over one scanline IN PLACE (decoder
    side — reconstruction is sequential because Sub/Average/Paeth read
    already-reconstructed bytes of the same line)."""
    n = len(line)
    if ftype == 0:
        return
    if ftype == 1:  # Sub
        for i in range(bpp, n):
            line[i] = (line[i] + line[i - bpp]) & 0xFF
        return
    if ftype == 2:  # Up
        for i in range(n):
            line[i] = (line[i] + prev[i]) & 0xFF
        return
    if ftype == 3:  # Average
        for i in range(n):
            left = line[i - bpp] if i >= bpp else 0
            line[i] = (line[i] + (left + prev[i]) // 2) & 0xFF
        return
    if ftype == 4:  # Paeth
        for i in range(n):
            left = line[i - bpp] if i >= bpp else 0
            ul = prev[i - bpp] if i >= bpp else 0
            line[i] = (line[i] + _paeth(left, prev[i], ul)) & 0xFF
        return
    raise MediaFormatError(f"invalid PNG filter type {ftype}")


def encode_png(
    width: int,
    height: int,
    rgb_rows: list[list[tuple[int, ...]]],
    filter_types: list[int] | None = None,
) -> bytes:
    """8-bit PNG from rgb_rows[y][x] = (r, g, b) or (r, g, b, a) with
    y=0 the TOP row.  ``filter_types`` (one per row, 0-4) lets tests
    and the certified corpus exercise every unfilter path; default is
    all-0 (None).  Pixel tuples must be uniformly 3- or 4-wide."""
    if len(rgb_rows) != height or any(len(r) != width for r in rgb_rows):
        raise ValueError("pixel grid does not match width/height")
    n_ch = len(rgb_rows[0][0]) if height and width else 3
    if n_ch not in (3, 4):
        raise ValueError("pixels must be RGB or RGBA tuples")
    color_type = 2 if n_ch == 3 else 6
    if filter_types is None:
        filter_types = [0] * height
    if len(filter_types) != height:
        raise ValueError("need one filter type per row")
    ihdr = struct.pack(">IIBBBBB", width, height, 8, color_type, 0, 0, 0)
    raw = bytearray()
    prev = bytes(width * n_ch)
    for y in range(height):
        line = bytes(v & 0xFF for px in rgb_rows[y] for v in px)
        ft = filter_types[y]
        raw.append(ft)
        raw += _filter_scanline(ft, line, prev, n_ch)
        prev = line
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(raw), 6))
        + _png_chunk(b"IEND", b"")
    )


def _png_walk(data: bytes) -> tuple[tuple[int, int, int, int], bytes]:
    """Shared chunk walk for the PNG decoders: validates the signature,
    CRC-checks every chunk, enforces the supported subset (bit depth 8,
    color type 2/6, compression 0, filter method 0, no interlace), and
    returns ((width, height, color_type, n_channels), inflated raw
    filtered scanlines)."""
    if len(data) < 8 or data[:8] != _PNG_SIG:
        raise MediaFormatError("not a PNG payload (bad signature)")
    pos = 8
    ihdr = None
    idat = bytearray()
    seen_iend = False
    while pos + 8 <= len(data):
        length, ctype = struct.unpack_from(">I4s", data, pos)
        body = data[pos + 8:pos + 8 + length]
        if len(body) != length:
            raise MediaFormatError("truncated PNG chunk")
        (crc,) = struct.unpack_from(">I", data, pos + 8 + length)
        if zlib.crc32(ctype + body) & 0xFFFFFFFF != crc:
            raise MediaFormatError(f"bad CRC on {ctype!r} chunk")
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", body)
        elif ctype == b"IDAT":
            idat += body
        elif ctype == b"IEND":
            seen_iend = True
            break
        # ancillary chunks (tEXt, pHYs, ...) are skipped, per spec
        pos += 12 + length
    if ihdr is None or not idat or not seen_iend:
        raise MediaFormatError("missing IHDR, IDAT, or IEND chunk")
    width, height, depth, color_type, comp, filt, interlace = ihdr
    if depth != 8 or color_type not in (2, 6):
        raise MediaFormatError(
            f"only 8-bit RGB/RGBA PNG supported (depth={depth}, "
            f"color_type={color_type})"
        )
    if comp != 0 or filt != 0:
        raise MediaFormatError("nonstandard compression/filter method")
    if interlace != 0:
        raise MediaFormatError("Adam7 interlace not supported")
    try:
        raw = zlib.decompress(bytes(idat))
    except zlib.error as exc:
        raise MediaFormatError(f"bad IDAT zlib stream: {exc}") from exc
    n_ch = 3 if color_type == 2 else 4
    if len(raw) != height * (1 + width * n_ch):
        raise MediaFormatError(
            f"IDAT decodes to {len(raw)} bytes, expected "
            f"{height * (1 + width * n_ch)}"
        )
    return (width, height, color_type, n_ch), raw


def _png_scanlines(data: bytes) -> tuple[int, int, int, int, list[bytearray]]:
    """Decode to reconstructed (unfiltered) scanlines."""
    (width, height, color_type, n_ch), raw = _png_walk(data)
    stride = width * n_ch
    rows: list[bytearray] = []
    prev = bytes(stride)
    for y in range(height):
        off = y * (1 + stride)
        ftype = raw[off]
        line = bytearray(raw[off + 1:off + 1 + stride])
        _unfilter_scanline(ftype, line, prev, n_ch)
        rows.append(line)
        prev = bytes(line)
    return width, height, color_type, n_ch, rows


def decode_png(data: bytes) -> dict:
    """Parse an 8-bit RGB/RGBA PNG; returns width, height, n_pixels,
    n_channels and EXACT per-channel byte sums (sum_r/g/b, plus sum_a
    for RGBA) — the same integer-fact surface as decode_bmp, so one
    oracle shape certifies both codecs."""
    width, height, color_type, n_ch, rows = _png_scanlines(data)
    sums = [0, 0, 0, 0]
    for line in rows:
        for c in range(n_ch):
            sums[c] += sum(line[c::n_ch])
    out = {
        "width": width,
        "height": height,
        "n_pixels": width * height,
        "n_channels": n_ch,
        "sum_r": sums[0],
        "sum_g": sums[1],
        "sum_b": sums[2],
    }
    if n_ch == 4:
        out["sum_a"] = sums[3]
    return out


def decode_png_pixels(data: bytes) -> dict:
    """Parse an 8-bit RGB/RGBA PNG into the full pixel grid:
    rgb_rows[y][x] = (r, g, b) with y=0 the TOP row (alpha dropped for
    RGBA — the perceptual-hash operators consume luma only, matching
    decode_bmp_pixels' surface)."""
    width, height, _color_type, n_ch, rows = _png_scanlines(data)
    grid = [
        [tuple(line[x * n_ch:x * n_ch + 3]) for x in range(width)]
        for line in rows
    ]
    return {"width": width, "height": height, "rgb_rows": grid}


# --------------------------------------------------------------------------
# GIF — GIF87a/89a: logical screen descriptor, global color table,
# image descriptor, LZW-compressed index stream in length-prefixed data
# sub-blocks.  Supported: single-frame, global color table, no
# interlace (the decoder walks and skips extension blocks, including
# GIF89a graphic-control).  Both the encoder's LZW compressor and the
# decoder's decompressor are real variable-code-width implementations
# (clear/end codes, dictionary growth to 4096) — everything stdlib.
# --------------------------------------------------------------------------


def _lzw_compress(indices: list[int], min_code_size: int) -> bytes:
    """Real GIF LZW: variable code width starting at min_code_size+1,
    dictionary growth to 4096 then CLEAR, LSB-first bit packing."""
    clear = 1 << min_code_size
    end = clear + 1
    out = bytearray()
    bitbuf = 0
    nbits = 0

    def emit(code: int, width: int) -> None:
        nonlocal bitbuf, nbits
        bitbuf |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(bitbuf & 0xFF)
            bitbuf >>= 8
            nbits -= 8

    table = {(i,): i for i in range(clear)}
    next_code = end + 1
    width = min_code_size + 1
    emit(clear, width)
    seq: tuple[int, ...] = ()
    for px in indices:
        cand = seq + (px,)
        if cand in table:
            seq = cand
            continue
        emit(table[seq], width)
        table[cand] = next_code
        next_code += 1
        if next_code > (1 << width) and width < 12:
            width += 1
        elif next_code >= 4096:
            emit(clear, width)
            table = {(i,): i for i in range(clear)}
            next_code = end + 1
            width = min_code_size + 1
        seq = (px,)
    if seq:
        emit(table[seq], width)
        # the decoder appends one more dictionary entry after reading
        # this final data code; if that append fills the current code
        # width, it reads END at width+1 — mirror that here (the
        # classic GIF-LZW end-of-stream off-by-one)
        if next_code == (1 << width) and width < 12:
            width += 1
    emit(end, width)
    if nbits:
        out.append(bitbuf & 0xFF)
    return bytes(out)


def _lzw_decompress(data: bytes, min_code_size: int) -> list[int]:
    """GIF LZW decode: the canonical algorithm including the KwKwK
    case (code == next_code -> prev + prev[0])."""
    clear = 1 << min_code_size
    end = clear + 1
    pos = 0
    bitbuf = 0
    nbits = 0

    def read(width: int) -> int:
        nonlocal pos, bitbuf, nbits
        while nbits < width:
            if pos >= len(data):
                raise MediaFormatError("truncated LZW stream")
            bitbuf |= data[pos] << nbits
            pos += 1
            nbits += 8
        code = bitbuf & ((1 << width) - 1)
        bitbuf >>= width
        nbits -= width
        return code

    out: list[int] = []
    table: list[tuple[int, ...]] = []
    width = min_code_size + 1
    prev: tuple[int, ...] | None = None
    while True:
        code = read(width)
        if code == clear:
            table = [(i,) for i in range(clear)] + [(), ()]
            width = min_code_size + 1
            prev = None
            continue
        if code == end:
            return out
        if code < len(table):
            entry = table[code]
            if not entry:  # the clear/end placeholder slots
                raise MediaFormatError("LZW code references reserved slot")
        elif prev is not None and code == len(table):
            entry = prev + (prev[0],)  # KwKwK
        else:
            raise MediaFormatError(f"LZW code {code} beyond dictionary")
        out.extend(entry)
        if prev is not None:
            table.append(prev + (entry[0],))
            if len(table) == (1 << width) and width < 12:
                width += 1
        prev = entry


def encode_gif(
    width: int,
    height: int,
    palette: list[tuple[int, int, int]],
    index_rows: list[list[int]],
) -> bytes:
    """Single-frame GIF89a with a global color table.  ``palette`` is
    padded to the next power of two (2..256); ``index_rows[y][x]``
    indexes into it, top row first."""
    if len(index_rows) != height or any(len(r) != width for r in index_rows):
        raise ValueError("index grid does not match width/height")
    if not 2 <= len(palette) <= 256:
        raise ValueError("palette must hold 2..256 colors")
    # smallest n with 2^(n+1) >= len(palette) (GCT sizes are powers of 2)
    n = 0
    while (2 << n) < len(palette):
        n += 1
    table_len = 2 << n
    if any(i >= len(palette) for row in index_rows for i in row):
        raise ValueError("pixel index beyond palette")
    gct = bytearray()
    for i in range(table_len):
        r, g, b = palette[i] if i < len(palette) else (0, 0, 0)
        gct += bytes((r & 0xFF, g & 0xFF, b & 0xFF))
    packed = 0x80 | n  # GCT present, color resolution bits left 0
    head = (
        b"GIF89a"
        + struct.pack("<HHBBB", width, height, packed, 0, 0)
        + bytes(gct)
    )
    img_desc = b"\x2c" + struct.pack("<HHHHB", 0, 0, width, height, 0)
    mcs = max(2, n + 1)  # LZW min code size (GIF requires >= 2)
    lzw = _lzw_compress([i for row in index_rows for i in row], mcs)
    blocks = bytearray([mcs])
    for off in range(0, len(lzw), 255):
        chunk = lzw[off:off + 255]
        blocks += bytes([len(chunk)]) + chunk
    blocks += b"\x00"
    return head + img_desc + bytes(blocks) + b"\x3b"


def _gif_walk(data: bytes) -> tuple[int, int, list[tuple[int, int, int]], list[int]]:
    """Parse header + GCT, skip extensions, decode the first image's
    LZW index stream.  Returns (width, height, palette, indices)."""
    if len(data) < 13 or data[:6] not in (b"GIF87a", b"GIF89a"):
        raise MediaFormatError("not a GIF payload (bad signature)")
    width, height, packed, _bg, _aspect = struct.unpack_from("<HHBBB", data, 6)
    pos = 13
    palette: list[tuple[int, int, int]] = []
    if packed & 0x80:
        n = packed & 0x07
        table_len = 2 << n
        if pos + 3 * table_len > len(data):
            raise MediaFormatError("truncated global color table")
        for i in range(table_len):
            off = pos + 3 * i
            palette.append((data[off], data[off + 1], data[off + 2]))
        pos += 3 * table_len
    while pos < len(data):
        block = data[pos]
        if block == 0x21:  # extension: label + sub-blocks
            pos += 2
            while pos < len(data) and data[pos] != 0:
                pos += 1 + data[pos]
            pos += 1
        elif block == 0x2C:  # image descriptor
            if pos + 11 > len(data):
                raise MediaFormatError("truncated image descriptor")
            _l, _t, iw, ih, ipacked = struct.unpack_from("<HHHHB", data, pos + 1)
            pos += 10
            if ipacked & 0x40:
                raise MediaFormatError("interlaced GIF not supported")
            if ipacked & 0x80:
                raise MediaFormatError("local color table not supported")
            if not palette:
                raise MediaFormatError("no color table")
            mcs = data[pos]
            pos += 1
            lzw = bytearray()
            while pos < len(data) and data[pos] != 0:
                ln = data[pos]
                lzw += data[pos + 1:pos + 1 + ln]
                pos += 1 + ln
            indices = _lzw_decompress(bytes(lzw), mcs)
            if len(indices) < iw * ih:
                raise MediaFormatError(
                    f"LZW stream yields {len(indices)} pixels, need {iw * ih}"
                )
            return iw, ih, palette, indices[: iw * ih]
        elif block == 0x3B:  # trailer before any image
            break
        else:
            raise MediaFormatError(f"unknown GIF block 0x{block:02x}")
    raise MediaFormatError("no image data in GIF")


def decode_gif(data: bytes) -> dict:
    """Parse a single-frame GIF; returns width, height, n_pixels,
    n_colors and EXACT per-channel byte sums through the palette —
    the decode_bmp/decode_png oracle surface."""
    width, height, palette, indices = _gif_walk(data)
    if any(i >= len(palette) for i in indices):
        raise MediaFormatError("pixel index beyond color table")
    sum_r = sum(palette[i][0] for i in indices)
    sum_g = sum(palette[i][1] for i in indices)
    sum_b = sum(palette[i][2] for i in indices)
    return {
        "width": width,
        "height": height,
        "n_pixels": width * height,
        "n_colors": len(palette),
        "sum_r": sum_r,
        "sum_g": sum_g,
        "sum_b": sum_b,
    }


def decode_gif_pixels(data: bytes) -> dict:
    """Parse a single-frame GIF into the full RGB pixel grid (palette
    applied), top row first — the perceptual-hash surface."""
    width, height, palette, indices = _gif_walk(data)
    rows = [
        [palette[indices[y * width + x]] for x in range(width)]
        for y in range(height)
    ]
    return {"width": width, "height": height, "rgb_rows": rows}


def decode_wav_samples(data: bytes) -> dict:
    """Parse a RIFF/PCM WAV into the raw sample list (16-bit signed,
    interleaved if multi-channel): returns n_channels, sample_rate, and
    samples.  Shares the chunk walk and validation with decode_wav via
    _parse_wav_chunks; used by the audio-fingerprint operators, which
    need sample access rather than aggregate statistics."""
    n_ch, rate, pcm = _parse_wav_chunks(data)
    n = len(pcm) // 2
    return {
        "n_channels": n_ch,
        "sample_rate": rate,
        "samples": list(struct.unpack(f"<{n}h", pcm[: n * 2])),
    }


# --------------------------------------------------------------------------
# JPEG — baseline sequential DCT (ITU-T T.81): SOI/DQT/SOF0/DHT/SOS/EOI
# marker stream, 8x8 block DCT, quality-scaled quantization, optimized
# (per-image) canonical Huffman tables, byte-stuffed entropy bitstream,
# 4:4:4 YCbCr color or single-component grayscale.  All stdlib, no
# dependencies — the fourth real compressed container next to PNG/GIF/
# WAV, closing the "real crawl corpora are JPEG" gap.
#
# Determinism contract (what the certified query leans on): the DC slot
# of the DCT scale matrix is EXACTLY 0.125 (the mathematically exact
# value of 0.25*C0*C0 — float (1/sqrt(2))**2 is 0.5+1ulp, which would
# smear the DC path by an ulp and make round-half ties engine-
# dependent), every rounding is floor(x + 0.5), and the YCbCr<->RGB
# chains are written in one fixed association order.  For a block of
# CONSTANT color the entire encode->decode chain is then an exact
# integer-rational function of (value, quant-table entry) that a SQL
# oracle can recompute — while the bytes still traverse the full real
# pipeline (markers, optimized Huffman, stuffing, zigzag, dequant,
# IDCT).
# --------------------------------------------------------------------------

_JPEG_QUANT_LUM = [
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
]
_JPEG_QUANT_CHROM = [
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
]


def jpeg_quant_table(base: list[int], quality: int) -> list[int]:
    """libjpeg's quality scaling: integer arithmetic, deterministic."""
    q = min(max(int(quality), 1), 100)
    scale = 5000 // q if q < 50 else 200 - q * 2
    return [min(max((b * scale + 50) // 100, 1), 255) for b in base]


def _jpeg_zigzag() -> list[tuple[int, int]]:
    """The (row, col) visit order, generated rather than transcribed:
    anti-diagonals s = row+col; odd diagonals walk top-right ->
    bottom-left (row ascending), even ones the reverse."""
    order = []
    for s in range(15):
        diag = [(y, s - y) for y in range(8) if 0 <= s - y < 8]
        if s % 2 == 0:
            diag.reverse()
        order.extend(diag)
    return order


_ZIGZAG = _jpeg_zigzag()

_JPEG_COS = [
    [math.cos((2 * x + 1) * u * math.pi / 16) for x in range(8)]
    for u in range(8)
]
_JPEG_SCALE = [
    [
        0.25
        * (1 / math.sqrt(2) if u == 0 else 1.0)
        * (1 / math.sqrt(2) if v == 0 else 1.0)
        for v in range(8)
    ]
    for u in range(8)
]
_JPEG_SCALE[0][0] = 0.125  # exact: float (1/sqrt 2)**2 is 0.5 + 1 ulp


_JPEG_COS_NP = _np.array(_JPEG_COS)          # C[u, x]
_JPEG_SCALE_NP = _np.array(_JPEG_SCALE)      # S[u, v]
_ZIGZAG_U = _np.array([u for u, _ in _ZIGZAG])
_ZIGZAG_V = _np.array([v for _, v in _ZIGZAG])


def _fdct_quant(block: list[list[int]], qtab: list[int]) -> list[int]:
    """Forward DCT + quantization -> 64 coefficients in zigzag order.
    `block` is 8x8 level-shifted ints; rounding is floor(|x|/Q + 0.5)
    with the sign re-applied (half away from zero, both engines').

    Vectorized via two 8x8 matmuls (s(u,v) = (C·block·Cᵀ)[v,u]) — the
    r7 per-coefficient triple loop was 85% of encode_jpeg's profile
    (0.6 ms/block; this is ~40x less Python bytecode).  Certified
    values are unchanged: the DC term sums INTEGERS (cos(0)=1 rows),
    exact under any association order, so the constant-block mosaic's
    DC-exact closed form (what the SQL oracle recomputes) is
    bit-identical; AC terms of a constant block are ~1e-12 under
    either association and quantize to 0 with any q >= 1.  For
    non-constant blocks an AC coefficient may differ by 1 ulp before
    rounding, which the lossy-roundtrip error-bound tests cover."""
    b = _np.asarray(block, dtype=_np.float64)
    m = _JPEG_COS_NP @ b @ _JPEG_COS_NP.T          # m[v, u] = s(u, v)
    f = (_JPEG_SCALE_NP * m.T)[_ZIGZAG_U, _ZIGZAG_V]
    q = _np.asarray(qtab, dtype=_np.float64)
    out = _np.floor(_np.abs(f) / q + 0.5)
    _np.copysign(out, f, out=out)
    return [int(v) for v in out]


def _fdct_quant_plane(
    plane: list[list[int]], width: int, height: int, qtab: list[int]
) -> list[list[int]]:
    """_jpeg_component_blocks + _fdct_quant for a WHOLE plane in one
    batched numpy pass (r9, guide §4.2): edge-replicated pad, one
    reshape into (n_blocks, 8, 8) in the same by-major/bx-minor order
    as the loop form, one stacked pair of 8x8 matmuls, one vectorized
    zigzag/quantize.  Per-block results are the identical IEEE ops the
    per-block _fdct_quant numpy path performs (np.matmul on a stacked
    operand runs the same 8x8 GEMM per block), asserted block-for-block
    in tests/test_jpeg_codec.py."""
    p = _np.asarray(plane, dtype=_np.float64)
    hpad = (-height) % 8
    wpad = (-width) % 8
    if hpad or wpad:
        p = _np.pad(p, ((0, hpad), (0, wpad)), mode="edge")
    p -= 128.0
    bh, bw = p.shape[0] // 8, p.shape[1] // 8
    blocks = p.reshape(bh, 8, bw, 8).transpose(0, 2, 1, 3).reshape(-1, 8, 8)
    m = _JPEG_COS_NP @ blocks @ _JPEG_COS_NP.T      # m[n, v, u]
    f = (_JPEG_SCALE_NP * m.transpose(0, 2, 1))[:, _ZIGZAG_U, _ZIGZAG_V]
    q = _np.asarray(qtab, dtype=_np.float64)
    out = _np.floor(_np.abs(f) / q + 0.5)
    _np.copysign(out, f, out=out)
    return out.astype(_np.int64).tolist()


# ---- optimized Huffman tables (Annex K.2: the pseudo-symbol-256 merge
# producing code LENGTHS, the 16-bit cap adjustment, canonical codes)


def _jpeg_huff_lengths(freq: dict[int, int]) -> tuple[list[int], list[int]]:
    """(BITS[1..16], HUFFVAL) from symbol frequencies — the T.81 K.2
    procedure: a pseudo-symbol 256 (freq 1) guarantees no real symbol
    gets the all-ones code; ties break toward the larger symbol so the
    table is a pure function of the frequencies."""
    f = dict(freq)
    f[256] = 1
    codesize = {s: 0 for s in f}
    others = {s: -1 for s in f}
    alive = {s: c for s, c in f.items() if c > 0}
    while len(alive) > 1:
        c1 = min(alive, key=lambda s: (alive[s], -s))
        rest = {s: c for s, c in alive.items() if s != c1}
        c2 = min(rest, key=lambda s: (rest[s], -s))
        alive[c1] += alive.pop(c2)
        v = c1
        codesize[v] += 1
        while others[v] != -1:
            v = others[v]
            codesize[v] += 1
        others[v] = c2
        v = c2
        codesize[v] += 1
        while others[v] != -1:
            v = others[v]
            codesize[v] += 1
    bits = [0] * 33
    for s, l in codesize.items():
        if l:
            bits[l] += 1
    # cap at 16 (K.2 adjust_bits): move a pair from the longest length
    i = 32
    while i > 16:
        if bits[i] > 0:
            j = i - 2
            while bits[j] == 0:
                j -= 1
            bits[i] -= 2
            bits[i - 1] += 1
            bits[j + 1] += 2
            bits[j] -= 1
        else:
            i -= 1
    # drop the pseudo-symbol: it owns (one of) the longest codes
    i = 16
    while bits[i] == 0:
        i -= 1
    bits[i] -= 1
    huffval = [
        s
        for s in sorted(
            (s for s in codesize if codesize[s] and s != 256),
            key=lambda s: (codesize[s], s),
        )
    ]
    return bits[1:17], huffval


def _huff_encode_map(bits: list[int], huffval: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length) via canonical assignment."""
    out: dict[int, tuple[int, int]] = {}
    code, k = 0, 0
    for l in range(1, 17):
        for _ in range(bits[l - 1]):
            out[huffval[k]] = (code, l)
            code += 1
            k += 1
        code <<= 1
    return out


class _BitWriter:
    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.n = 0

    def put(self, value: int, nbits: int) -> None:
        if nbits == 0:
            return
        self.acc = (self.acc << nbits) | (value & ((1 << nbits) - 1))
        self.n += nbits
        while self.n >= 8:
            self.n -= 8
            b = (self.acc >> self.n) & 0xFF
            self.buf.append(b)
            if b == 0xFF:  # byte stuffing
                self.buf.append(0x00)

    def flush(self) -> bytes:
        if self.n:
            pad = 8 - self.n
            self.put((1 << pad) - 1, pad)
        return bytes(self.buf)


def _category(v: int) -> int:
    return abs(v).bit_length()


def _block_symbols(coefs: list[int], prev_dc: int) -> tuple[list[tuple], int]:
    """(symbol stream, new prev_dc): [('dc', cat, bits), ('ac', rs,
    cat, bits), ...] — shared by the stats pass and the write pass so
    the two passes cannot disagree."""
    syms: list[tuple] = []
    diff = coefs[0] - prev_dc
    cat = _category(diff)
    bits = diff if diff >= 0 else diff + (1 << cat) - 1
    syms.append(("dc", cat, bits))
    run = 0
    last_nz = 0
    for k in range(63, 0, -1):
        if coefs[k]:
            last_nz = k
            break
    for k in range(1, last_nz + 1):
        v = coefs[k]
        if v == 0:
            run += 1
            continue
        while run > 15:
            syms.append(("ac", 0xF0, 0, 0))  # ZRL
            run -= 16
        cat = _category(v)
        bits = v if v >= 0 else v + (1 << cat) - 1
        syms.append(("ac", (run << 4) | cat, cat, bits))
        run = 0
    if last_nz < 63:
        syms.append(("ac", 0x00, 0, 0))  # EOB
    return syms, coefs[0]


def _rgb_to_ycbcr(r: int, g: int, b: int) -> tuple[int, int, int]:
    """BT.601 full-range, floor(x + 0.5), clamped — the oracle mirrors
    these literal constants and this association order."""
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = 128 - 0.168735892 * r - 0.331264108 * g + 0.5 * b
    cr = 128 + 0.5 * r - 0.418687589 * g - 0.081312411 * b
    return (
        min(max(int(math.floor(y + 0.5)), 0), 255),
        min(max(int(math.floor(cb + 0.5)), 0), 255),
        min(max(int(math.floor(cr + 0.5)), 0), 255),
    )


def _ycbcr_to_rgb(y: int, cb: int, cr: int) -> tuple[int, int, int]:
    r = y + 1.402 * (cr - 128)
    g = y - 0.344136286 * (cb - 128) - 0.714136286 * (cr - 128)
    b = y + 1.772 * (cb - 128)
    return (
        min(max(int(math.floor(r + 0.5)), 0), 255),
        min(max(int(math.floor(g + 0.5)), 0), 255),
        min(max(int(math.floor(b + 0.5)), 0), 255),
    )


def _rgb_to_ycbcr_planes(
    rgb_rows, width: int, height: int
) -> tuple[list[list[int]], list[list[int]], list[list[int]]]:
    """Vectorized _rgb_to_ycbcr over a full pixel grid (r9, guide §4.2).
    Bit-identical to the per-pixel loop: ints 0..255 are exact in
    float64 and every multiply/add below is written in _rgb_to_ycbcr's
    association order, so each lane performs the same IEEE double ops;
    floor(x + 0.5) + clip matches the scalar rounding.  Falls back to
    the scalar loop when the rows are not a clean (h, w, >=3) grid."""
    import numpy as np

    try:
        px = np.asarray(rgb_rows, dtype=np.float64)
    except (TypeError, ValueError):
        px = None
    if px is None or px.ndim != 3 or px.shape[:2] != (height, width) or px.shape[2] < 3:
        ny = [[0] * width for _ in range(height)]
        ncb = [[0] * width for _ in range(height)]
        ncr = [[0] * width for _ in range(height)]
        for yy in range(height):
            for xx in range(width):
                r, g, b = rgb_rows[yy][xx][:3]
                ny[yy][xx], ncb[yy][xx], ncr[yy][xx] = _rgb_to_ycbcr(r, g, b)
        return ny, ncb, ncr
    r, g, b = px[..., 0], px[..., 1], px[..., 2]
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = 128 - 0.168735892 * r - 0.331264108 * g + 0.5 * b
    cr = 128 + 0.5 * r - 0.418687589 * g - 0.081312411 * b

    def q(a: "np.ndarray") -> list[list[int]]:
        return (
            np.clip(np.floor(a + 0.5), 0, 255).astype(np.int64).tolist()
        )

    return q(y), q(cb), q(cr)


def _ycbcr_to_rgb_planes(py, pcb, pcr):
    """Vectorized _ycbcr_to_rgb over full planes (r9, guide §4.2):
    returns (r, g, b) int64 numpy arrays, bit-identical to the scalar
    form by the same argument as _rgb_to_ycbcr_planes."""
    import numpy as np

    y = np.asarray(py, dtype=np.float64)
    cb = np.asarray(pcb, dtype=np.float64)
    cr = np.asarray(pcr, dtype=np.float64)
    r = y + 1.402 * (cr - 128)
    g = y - 0.344136286 * (cb - 128) - 0.714136286 * (cr - 128)
    b = y + 1.772 * (cb - 128)

    def q(a: "np.ndarray") -> "np.ndarray":
        return np.clip(np.floor(a + 0.5), 0, 255).astype(np.int64)

    return q(r), q(g), q(b)


def _jpeg_component_blocks(
    plane: list[list[int]], width: int, height: int
) -> list[list[list[int]]]:
    """Split a component plane into level-shifted 8x8 blocks, edge-
    replicating the right/bottom padding (so a constant source block
    stays constant through padding)."""
    bx_n = (width + 7) // 8
    by_n = (height + 7) // 8
    blocks = []
    for by in range(by_n):
        for bx in range(bx_n):
            blk = []
            for dy in range(8):
                y = min(by * 8 + dy, height - 1)
                row = plane[y]
                blk.append(
                    [row[min(bx * 8 + dx, width - 1)] - 128 for dx in range(8)]
                )
            blocks.append(blk)
    return blocks


def encode_jpeg(
    width: int,
    height: int,
    rgb_rows: list[list[tuple[int, int, int]]],
    quality: int = 75,
    gray: bool = False,
) -> bytes:
    """Baseline JPEG encoder: 4:4:4 YCbCr (or single-component
    grayscale), quality-scaled Annex-K quantization tables, per-image
    optimized canonical Huffman tables (the libjpeg -optimize mode:
    DHT is built from this image's own symbol statistics), interleaved
    single scan."""
    if width < 1 or height < 1 or len(rgb_rows) != height:
        raise MediaFormatError("bad JPEG encode dimensions")
    qlum = jpeg_quant_table(_JPEG_QUANT_LUM, quality)
    qchrom = jpeg_quant_table(_JPEG_QUANT_CHROM, quality)
    # color convert into planes — vectorized with numpy in the SAME
    # association order as _rgb_to_ycbcr (r9, guide §4.2; each product
    # and left-to-right sum is the identical IEEE double op, so the
    # planes are bit-identical to the per-pixel loop — the property
    # tests pin encode bytes).  Ragged/odd-arity pixel rows fall back
    # to the loop.
    ny, ncb, ncr = _rgb_to_ycbcr_planes(rgb_rows, width, height)
    comps = [(ny, qlum, 0)] if gray else [
        (ny, qlum, 0), (ncb, qchrom, 1), (ncr, qchrom, 1),
    ]
    coef_streams = []
    for plane, qtab, _tq in comps:
        coef_streams.append(_fdct_quant_plane(plane, width, height, qtab))
    n_blocks = len(coef_streams[0])
    # pass 1: symbol statistics per (dc/ac, table id)
    dc_freq: dict[int, dict[int, int]] = {0: {}, 1: {}}
    ac_freq: dict[int, dict[int, int]] = {0: {}, 1: {}}
    sym_streams: list[list[list[tuple]]] = [[] for _ in comps]
    for ci, (_plane, _qtab, tq) in enumerate(comps):
        prev_dc = 0
        for bi in range(n_blocks):
            syms, prev_dc = _block_symbols(coef_streams[ci][bi], prev_dc)
            sym_streams[ci].append(syms)
            for s in syms:
                if s[0] == "dc":
                    dc_freq[tq][s[1]] = dc_freq[tq].get(s[1], 0) + 1
                else:
                    ac_freq[tq][s[1]] = ac_freq[tq].get(s[1], 0) + 1
    tables = {}
    used_tq = sorted({tq for _, _, tq in comps})
    for tq in used_tq:
        tables[("dc", tq)] = _jpeg_huff_lengths(dc_freq[tq])
        tables[("ac", tq)] = _jpeg_huff_lengths(ac_freq[tq])
    enc_maps = {k: _huff_encode_map(*v) for k, v in tables.items()}
    # pass 2: entropy-coded data (interleaved MCU = one block per comp)
    w = _BitWriter()
    for bi in range(n_blocks):
        for ci, (_plane, _qtab, tq) in enumerate(comps):
            for s in sym_streams[ci][bi]:
                if s[0] == "dc":
                    code, ln = enc_maps[("dc", tq)][s[1]]
                    w.put(code, ln)
                    w.put(s[2], s[1])
                else:
                    code, ln = enc_maps[("ac", tq)][s[1]]
                    w.put(code, ln)
                    if s[2]:
                        w.put(s[3], s[2])
    entropy = w.flush()
    # marker stream
    out = bytearray(b"\xff\xd8")  # SOI
    def seg(marker: int, body: bytes) -> None:
        out.extend(struct.pack(">BBH", 0xFF, marker, len(body) + 2))
        out.extend(body)
    seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")  # APP0
    dqt = bytes([0x00]) + bytes(qlum)
    if not gray:
        dqt += bytes([0x01]) + bytes(qchrom)
    seg(0xDB, dqt)  # DQT (zigzag-ordered entries)
    ncomp = 1 if gray else 3
    sof = struct.pack(">BHHB", 8, height, width, ncomp)
    for cid in range(1, ncomp + 1):
        tq = 0 if cid == 1 else 1
        sof += struct.pack(">BBB", cid, 0x11, tq)  # 4:4:4 sampling
    seg(0xC0, sof)  # SOF0 baseline
    dht = b""
    for (cls, tq), (bits, huffval) in sorted(
        tables.items(), key=lambda kv: (kv[0][1], kv[0][0])
    ):
        tc = 0 if cls == "dc" else 1
        dht += bytes([(tc << 4) | tq]) + bytes(bits) + bytes(huffval)
    seg(0xC4, dht)  # DHT
    sos = bytes([ncomp])
    for cid in range(1, ncomp + 1):
        tq = 0 if cid == 1 else 1
        sos += bytes([cid, (tq << 4) | tq])
    sos += bytes([0, 63, 0])
    seg(0xDA, sos)  # SOS
    out.extend(entropy)
    out.extend(b"\xff\xd9")  # EOI
    return bytes(out)


class _BitReader:
    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0
        self.acc = 0
        self.n = 0

    def bit(self) -> int:
        if self.n == 0:
            if self.pos >= len(self.data):
                raise MediaFormatError("JPEG entropy stream truncated")
            self.acc = self.data[self.pos]
            self.pos += 1
            self.n = 8
        self.n -= 1
        return (self.acc >> self.n) & 1

    def bits(self, k: int) -> int:
        v = 0
        for _ in range(k):
            v = (v << 1) | self.bit()
        return v


def _huff_decode_tables(bits: list[int], huffval: list[int]):
    mincode = [0] * 17
    maxcode = [-1] * 17
    valptr = [0] * 17
    code, k = 0, 0
    for l in range(1, 17):
        if bits[l - 1]:
            valptr[l] = k
            mincode[l] = code
            code += bits[l - 1]
            k += bits[l - 1]
            maxcode[l] = code - 1
        code <<= 1
    return mincode, maxcode, valptr, huffval


def _huff_read(r: _BitReader, tab) -> int:
    mincode, maxcode, valptr, huffval = tab
    code = 0
    for l in range(1, 17):
        code = (code << 1) | r.bit()
        if maxcode[l] >= code >= mincode[l]:
            return huffval[valptr[l] + code - mincode[l]]
    raise MediaFormatError("invalid JPEG Huffman code")


def _extend(v: int, s: int) -> int:
    return v if s == 0 or v >= (1 << (s - 1)) else v - (1 << s) + 1


def _jpeg_walk(data: bytes):
    """Parse the marker stream: returns (width, height, components,
    qtabs, htabs, scan_map, entropy_bytes).  components: [(cid, tq)];
    scan_map: {cid: (td, ta)}."""
    if data[:2] != b"\xff\xd8":
        raise MediaFormatError("not a JPEG (missing SOI)")
    pos = 2
    qtabs: dict[int, list[int]] = {}
    htabs: dict[tuple[int, int], tuple[list[int], list[int]]] = {}
    comps: list[tuple[int, int]] = []
    dims = None
    while pos < len(data):
        if data[pos] != 0xFF or pos + 4 > len(data):
            raise MediaFormatError("JPEG marker desync or truncation")
        marker = data[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI
            raise MediaFormatError("JPEG has no scan data")
        ln = struct.unpack(">H", data[pos:pos + 2])[0]
        if pos + ln > len(data):
            raise MediaFormatError("JPEG truncated in marker segment")
        body = data[pos + 2:pos + ln]
        if marker == 0xDB:  # DQT
            o = 0
            while o < len(body):
                pq, tq = body[o] >> 4, body[o] & 0xF
                if pq != 0:
                    raise MediaFormatError("16-bit DQT unsupported")
                qtabs[tq] = list(body[o + 1:o + 65])
                o += 65
        elif marker == 0xC0:  # SOF0 baseline
            h, w, nc = struct.unpack(">HHB", body[1:6])
            dims = (w, h)
            o = 6
            for _ in range(nc):
                cid, samp, tq = body[o], body[o + 1], body[o + 2]
                if samp != 0x11:
                    raise MediaFormatError(
                        "only 4:4:4 / single-component JPEG supported"
                    )
                comps.append((cid, tq))
                o += 3
        elif marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA,
                        0xCB, 0xCD, 0xCE, 0xCF):
            raise MediaFormatError("non-baseline JPEG unsupported")
        elif marker == 0xC4:  # DHT
            o = 0
            while o < len(body):
                tc, th = body[o] >> 4, body[o] & 0xF
                bits = list(body[o + 1:o + 17])
                n = sum(bits)
                huffval = list(body[o + 17:o + 17 + n])
                htabs[(tc, th)] = (bits, huffval)
                o += 17 + n
        elif marker == 0xDA:  # SOS -> entropy data follows
            nc = body[0]
            scan_map = {}
            o = 1
            for _ in range(nc):
                cid = body[o]
                scan_map[cid] = (body[o + 1] >> 4, body[o + 1] & 0xF)
                o += 2
            epos = pos + ln
            raw = bytearray()
            while epos < len(data):
                b = data[epos]
                if b == 0xFF:
                    nxt = data[epos + 1]
                    if nxt == 0x00:
                        raw.append(0xFF)
                        epos += 2
                        continue
                    break  # a real marker (EOI) ends the scan
                raw.append(b)
                epos += 1
            if dims is None:
                raise MediaFormatError("JPEG scan before SOF0")
            return dims[0], dims[1], comps, qtabs, htabs, scan_map, bytes(raw)
        pos += ln
    raise MediaFormatError("JPEG truncated before SOS")


def decode_jpeg_planes(data: bytes):
    """Full baseline decode to per-component pixel planes (width,
    height, [plane]) — planes in SOF component order (Y[, Cb, Cr]),
    each an (h, w) int64 numpy array.

    r9 restructure (guide §4.2): the entropy decode is inherently
    sequential (Huffman + DC prediction) and stays a Python walk, but
    it now only FILLS a coefficient matrix; the IDCT runs ONCE per
    component as a batched (n_blocks, 8, 8) matmul: dequantize, then
    Cᵀ·deq·C per block, reconstructed as floor(v + 128.5) and clamped to
    0..255 — and the pixel scatter is one reshape + crop instead of a
    per-pixel loop."""
    w, h, comps, qtabs, htabs, scan_map, entropy = _jpeg_walk(data)
    dec_tabs = {k: _huff_decode_tables(*v) for k, v in htabs.items()}
    r = _BitReader(entropy)
    bx_n, by_n = (w + 7) // 8, (h + 7) // 8
    n_blocks = bx_n * by_n
    coef_mat = _np.zeros((len(comps), n_blocks, 64), dtype=_np.float64)
    prev_dc = [0] * len(comps)
    for blk in range(n_blocks):
        for ci, (cid, tq) in enumerate(comps):
            td, ta = scan_map[cid]
            coefs = coef_mat[ci, blk]
            s = _huff_read(r, dec_tabs[(0, td)])
            diff = _extend(r.bits(s), s) if s else 0
            prev_dc[ci] += diff
            coefs[0] = prev_dc[ci]
            k = 1
            while k < 64:
                rs = _huff_read(r, dec_tabs[(1, ta)])
                rr, ss = rs >> 4, rs & 0xF
                if ss == 0:
                    if rs == 0x00:  # EOB
                        break
                    if rs == 0xF0:  # ZRL
                        k += 16
                        continue
                    raise MediaFormatError("bad JPEG AC symbol")
                k += rr
                if k > 63:
                    raise MediaFormatError("JPEG AC run overflow")
                coefs[k] = _extend(r.bits(ss), ss)
                k += 1
    planes = []
    for ci, (cid, tq) in enumerate(comps):
        q = _np.asarray(qtabs[tq], dtype=_np.float64)
        deq = _np.zeros((n_blocks, 8, 8))
        deq[:, _ZIGZAG_U, _ZIGZAG_V] = _JPEG_SCALE_NP[
            _ZIGZAG_U, _ZIGZAG_V
        ] * (coef_mat[ci] * q)
        m = _JPEG_COS_NP.T @ deq @ _JPEG_COS_NP      # m[n, x, y]
        px = _np.clip(
            _np.floor(m.transpose(0, 2, 1) + 128.5), 0, 255
        ).astype(_np.int64)
        full = (
            px.reshape(by_n, bx_n, 8, 8)
            .transpose(0, 2, 1, 3)
            .reshape(by_n * 8, bx_n * 8)
        )
        planes.append(full[:h, :w])
    return w, h, planes


def _decode_jpeg_rgb_arrays(data: bytes):
    """(w, h, r, g, b) with the channels as int64 numpy arrays — the
    shared vectorized core of decode_jpeg_pixels / decode_jpeg (r9:
    the per-pixel _ycbcr_to_rgb loop and the per-pixel Python channel
    sums were the residual cost of the decode path, guide §4.2)."""
    import numpy as np

    w, h, planes = decode_jpeg_planes(data)
    if len(planes) == 1:
        v = np.asarray(planes[0], dtype=np.int64)
        return w, h, v, v, v
    r, g, b = _ycbcr_to_rgb_planes(*planes)
    return w, h, r, g, b


def decode_jpeg_pixels(data: bytes) -> dict:
    """Baseline JPEG -> full RGB grid (grayscale replicates Y), same
    surface as decode_png_pixels."""
    w, h, r, g, b = _decode_jpeg_rgb_arrays(data)
    rl, gl, bl = r.tolist(), g.tolist(), b.tolist()
    grid = [list(zip(rl[y], gl[y], bl[y])) for y in range(h)]
    return {"width": w, "height": h, "rgb_rows": grid}


def decode_jpeg(data: bytes) -> dict:
    """Baseline JPEG -> the integer-fact surface shared by the codec
    family: width/height/n_pixels/n_channels + exact per-channel sums
    of the DECODED pixels (int64 numpy sums of 8-bit values — exact)."""
    w, h, r, g, b = _decode_jpeg_rgb_arrays(data)
    return {
        "width": w,
        "height": h,
        "n_pixels": w * h,
        "n_channels": 3,
        "sum_r": int(r.sum()),
        "sum_g": int(g.sum()),
        "sum_b": int(b.sum()),
    }


# --------------------------------------------------------------------------
# MP4 / ISO BMFF — the container METADATA layer: box walk (size + 4cc,
# nested containers), ftyp brand, mvhd timescale/duration, per-track
# tkhd with 16.16 fixed-point dimensions, mdat accounting.  FRAME
# decode of compressed video needs codec libraries this environment
# does not ship and stays out of scope — but a training-data pipeline's
# video pass is usually exactly this layer (dims/duration/track census
# to filter and bucket clips before any expensive decode), and it
# parses for real here.
# --------------------------------------------------------------------------


def _box(btype: bytes, payload: bytes) -> bytes:
    return struct.pack(">I", len(payload) + 8) + btype + payload


def encode_mp4(
    width: int,
    height: int,
    duration_ms: int,
    n_tracks: int = 1,
    timescale: int = 600,
    payload: bytes = b"",
    brand: bytes = b"isom",
) -> bytes:
    """Minimal valid ISO BMFF: ftyp + moov(mvhd, trak(tkhd)*) + mdat.
    Version-0 boxes, 16.16 fixed-point dims, classic 600-unit movie
    timescale by default."""
    if width < 1 or height < 1 or duration_ms < 0 or n_tracks < 1:
        raise MediaFormatError("bad MP4 encode parameters")
    dur_units = duration_ms * timescale // 1000
    ftyp = _box(b"ftyp", brand + struct.pack(">I", 0) + brand)
    mvhd = _box(
        b"mvhd",
        struct.pack(">IIIII", 0, 0, 0, timescale, dur_units)  # ver/flags,
        # creation, modification, timescale, duration
        + struct.pack(">iH", 0x00010000, 0x0100)  # rate 1.0, volume 1.0
        + b"\x00" * 10  # reserved
        + struct.pack(">9i", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
        + b"\x00" * 24  # pre_defined
        + struct.pack(">I", n_tracks + 1),  # next_track_ID
    )
    traks = b""
    for tid in range(1, n_tracks + 1):
        tkhd = _box(
            b"tkhd",
            struct.pack(">IIIII", 0x00000007, 0, 0, tid, 0)  # ver/flags
            # (enabled|in_movie|in_preview), creation, modification,
            # track_ID, reserved
            + struct.pack(">I", dur_units)
            + b"\x00" * 8  # reserved
            + struct.pack(">HHHH", 0, 0, 0, 0)  # layer, group, volume, rsvd
            + struct.pack(">9i", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
            + struct.pack(">II", width << 16, height << 16),
        )
        traks += _box(b"trak", tkhd)
    moov = _box(b"moov", mvhd + traks)
    mdat = _box(b"mdat", payload)
    return ftyp + moov + mdat


def _walk_boxes(data: bytes, start: int, end: int):
    """Yield (type, payload_start, payload_end) for each box in range;
    raises MediaFormatError on malformed sizes."""
    pos = start
    while pos < end:
        if pos + 8 > end:
            raise MediaFormatError("MP4 truncated box header")
        size = struct.unpack(">I", data[pos:pos + 4])[0]
        btype = data[pos + 4:pos + 8]
        if size < 8 or pos + size > end:
            raise MediaFormatError("MP4 box size out of range")
        yield btype, pos + 8, pos + size
        pos += size


def parse_mp4_meta(data: bytes) -> dict:
    """Parse the metadata layer of an ISO BMFF file: major brand, movie
    duration in ms (mvhd timescale arithmetic), track count, the FIRST
    track's 16.16 dimensions, and the mdat payload size.  Accepts any
    box order; unknown boxes are skipped by size (the format's design
    point)."""
    brand = None
    timescale = duration_units = None
    n_tracks = 0
    width = height = None
    mdat_bytes = 0
    for btype, s, e in _walk_boxes(data, 0, len(data)):
        if btype == b"ftyp":
            if e - s < 8:
                raise MediaFormatError("MP4 ftyp too short")
            brand = data[s:s + 4].decode("ascii", "replace")
        elif btype == b"mdat":
            mdat_bytes += e - s
        elif btype == b"moov":
            for ityp, i_s, i_e in _walk_boxes(data, s, e):
                if ityp == b"mvhd":
                    _vf, _c, _m, timescale, duration_units = struct.unpack(
                        ">IIIII", data[i_s:i_s + 20]
                    )
                elif ityp == b"trak":
                    n_tracks += 1
                    for ttyp, t_s, t_e in _walk_boxes(data, i_s, i_e):
                        if ttyp == b"tkhd" and width is None:
                            w_fx, h_fx = struct.unpack(
                                ">II", data[t_e - 8:t_e]
                            )
                            width, height = w_fx >> 16, h_fx >> 16
    if brand is None or timescale is None or n_tracks == 0:
        raise MediaFormatError("MP4 missing ftyp/moov structure")
    return {
        "brand": brand,
        "duration_ms": duration_units * 1000 // timescale,
        "timescale": timescale,
        "n_tracks": n_tracks,
        "width": width,
        "height": height,
        "mdat_bytes": mdat_bytes,
    }
