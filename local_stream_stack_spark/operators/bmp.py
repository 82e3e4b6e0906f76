"""Real BMP codec (pure stdlib): 24-bit uncompressed and 8-bit RLE8.

Mirrors the reference's opaque-binary multimodal contract (decode ->
typed feature row) the same way ``operators/png.py`` / ``gif.py`` do —
the Spark-side plumbing is mapInPandas over an id/binary column; this
module is the per-record codec.

What makes BMP a REAL decode and not a byte-count stub:

- rows are stored BOTTOM-UP unless the header height is negative
  (top-down), so naive row order silently mirrors every image;
- every pixel row is padded to a 4-byte boundary (24-bit: 3*w bytes
  rounded up), so width*3 striding drifts off-row except when w % 4
  == 0;
- pixels are BGR, not RGB;
- BI_RLE8 (8-bit paletted) is an actual decompression scheme:
  (count, value) runs, escape 00 00 = end of line, 00 01 = end of
  bitmap, 00 02 dx dy = delta jump, 00 n>=3 = absolute mode with the
  literal run padded to a WORD boundary.

``tests/test_bmp.py`` pins the codec against hand-crafted byte
streams (including delta jumps and absolute-mode padding the encoder
below never emits) and round-trips; the registered query's oracle
recomputes decoded channel statistics arithmetically from the
closed-form pixel formulas, so a defect in padding, row order, BGR
swap, palette lookup, or RLE reassembly breaks the sums.
"""

from __future__ import annotations

import struct

from local_stream_stack_spark.operators.qoi import rgba_stats

_FILE_HDR = struct.Struct("<2sIHHI")   # magic, file size, res, res, data offset
_INFO_HDR = struct.Struct("<IiiHHIIiiII")  # BITMAPINFOHEADER

BI_RGB = 0
BI_RLE8 = 1


def encode_bmp24(width: int, height: int, rgb: bytes) -> bytes:
    """Encode top-down RGB bytes (3 per pixel, row-major) as a
    standard bottom-up 24-bit BMP with 4-byte row padding."""
    if len(rgb) != width * height * 3:
        raise ValueError("rgb length != w*h*3")
    pad = (-width * 3) % 4
    rows = []
    for y in range(height - 1, -1, -1):  # bottom-up storage
        row = bytearray()
        for x in range(width):
            i = (y * width + x) * 3
            r, g, b = rgb[i], rgb[i + 1], rgb[i + 2]
            row += bytes((b, g, r))  # BGR on disk
        row += b"\x00" * pad
        rows.append(bytes(row))
    px = b"".join(rows)
    offset = _FILE_HDR.size + _INFO_HDR.size
    info = _INFO_HDR.pack(
        _INFO_HDR.size, width, height, 1, 24, BI_RGB, len(px), 2835, 2835, 0, 0
    )
    hdr = _FILE_HDR.pack(b"BM", offset + len(px), 0, 0, offset)
    return hdr + info + px


def _rle8_encode_row(row: bytes) -> bytes:
    """Plain run-length encoding of one pixel row (runs capped at
    255), terminated by the end-of-line escape."""
    out = bytearray()
    i = 0
    n = len(row)
    while i < n:
        v = row[i]
        run = 1
        while i + run < n and row[i + run] == v and run < 255:
            run += 1
        out += bytes((run, v))
        i += run
    out += b"\x00\x00"  # end of line
    return bytes(out)


def encode_bmp_rle8(
    width: int, height: int, indices: bytes, palette_rgb: bytes
) -> bytes:
    """Encode top-down palette indices (1 per pixel) as an RLE8 BMP.
    ``palette_rgb`` is 3 bytes per entry (stored as BGRA quads)."""
    if len(indices) != width * height:
        raise ValueError("indices length != w*h")
    n_colors = len(palette_rgb) // 3
    rows = []
    for y in range(height - 1, -1, -1):  # bottom-up storage
        rows.append(_rle8_encode_row(indices[y * width : (y + 1) * width]))
    px = b"".join(rows) + b"\x00\x01"  # end of bitmap
    pal = b"".join(
        bytes(
            (
                palette_rgb[3 * i + 2],
                palette_rgb[3 * i + 1],
                palette_rgb[3 * i],
                0,
            )
        )
        for i in range(n_colors)
    )
    offset = _FILE_HDR.size + _INFO_HDR.size + len(pal)
    info = _INFO_HDR.pack(
        _INFO_HDR.size, width, height, 1, 8, BI_RLE8, len(px),
        2835, 2835, n_colors, 0,
    )
    hdr = _FILE_HDR.pack(b"BM", offset + len(px), 0, 0, offset)
    return hdr + info + pal + px


def _decode_rle8(
    data: bytes, width: int, height: int
) -> list[bytearray]:
    """Decompress a BI_RLE8 stream into top-down index rows. Handles
    runs, end-of-line, end-of-bitmap, delta jumps, and word-aligned
    absolute mode. Rows the stream never paints stay 0 (the spec's
    implicit behavior for delta-skipped pixels)."""
    rows = [bytearray(width) for _ in range(height)]
    x, y = 0, 0  # y counts from the BOTTOM row (storage order)
    i = 0
    while i + 1 < len(data):
        n, v = data[i], data[i + 1]
        i += 2
        if n > 0:  # encoded run
            for _ in range(n):
                if x < width and y < height:
                    rows[height - 1 - y][x] = v
                x += 1
            continue
        if v == 0:  # end of line
            x, y = 0, y + 1
            continue
        if v == 1:  # end of bitmap
            break
        if v == 2:  # delta jump
            if i + 1 >= len(data):
                raise ValueError("truncated RLE8 delta")
            x += data[i]
            y += data[i + 1]
            i += 2
            continue
        # absolute mode: v literal pixels, padded to a word boundary
        if i + v > len(data):
            raise ValueError("truncated RLE8 absolute run")
        for j in range(v):
            if x < width and y < height:
                rows[height - 1 - y][x] = data[i + j]
            x += 1
        i += v + (v % 2)
    return rows


def decode_bmp(data: bytes) -> dict:
    """Decode a BMP (24-bit BI_RGB or 8-bit BI_RLE8) into
    {width, height, bpp, pixels: list of top-down RGB-tuple rows}."""
    if data[:2] != b"BM":
        raise ValueError("not a BMP")
    magic, _fsize, _r1, _r2, offset = _FILE_HDR.unpack_from(data, 0)
    (
        hsize, width, height, planes, bpp, compression, _img_size,
        _xppm, _yppm, clr_used, _clr_imp,
    ) = _INFO_HDR.unpack_from(data, _FILE_HDR.size)
    if hsize < _INFO_HDR.size:
        raise ValueError(f"unsupported BMP header size {hsize}")
    if planes != 1:
        raise ValueError("bad planes")
    top_down = height < 0
    height = abs(height)
    if bpp == 24 and compression == BI_RGB:
        pad = (-width * 3) % 4
        stride = width * 3 + pad
        rows = []
        for ry in range(height):
            base = offset + ry * stride
            row = []
            for x in range(width):
                b = data[base + 3 * x]
                g = data[base + 3 * x + 1]
                r = data[base + 3 * x + 2]
                row.append((r, g, b))
            rows.append(row)
        if not top_down:
            rows.reverse()  # storage is bottom-up
        return {"width": width, "height": height, "bpp": 24, "pixels": rows}
    if bpp == 8 and compression == BI_RLE8:
        n_colors = clr_used or 256
        pal_off = _FILE_HDR.size + hsize
        pal = [
            (
                data[pal_off + 4 * i + 2],
                data[pal_off + 4 * i + 1],
                data[pal_off + 4 * i],
            )
            for i in range(n_colors)
        ]
        if top_down:
            raise ValueError("top-down RLE8 is invalid per spec")
        idx_rows = _decode_rle8(data[offset:], width, height)
        rows = [[pal[v] for v in row] for row in idx_rows]
        return {"width": width, "height": height, "bpp": 8, "pixels": rows}
    raise NotImplementedError(
        f"BMP bpp={bpp} compression={compression} not supported"
        " (24-bit BI_RGB and 8-bit BI_RLE8 are)"
    )


def decode_image_bmp(data: bytes) -> dict:
    """Decode + RGBA channel statistics (``rgba_stats``), the
    mapInPandas feature row."""
    img = decode_bmp(data)
    px = bytes(v for row in img["pixels"] for rgb in row for v in (*rgb, 255))
    return {
        "width": img["width"],
        "height": img["height"],
        "bpp": img["bpp"],
        **rgba_stats(px),
    }
