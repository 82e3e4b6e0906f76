"""Real PCX (ZSoft Paintbrush) codec — stdlib-only, same tier as the
other multimodal codecs (png/jpeg/gif/wav/avi/bmp/qoi/ico/tga).

Supported on decode: version 5 RLE streams in the two layouts that
cover virtually all real PCX files — 8-bit single-plane with the
256-color VGA palette appended after a 0x0C marker, and 24-bit
3-plane RGB (one R, G, B plane run per scan line, each padded to
``bytes_per_line``). The RLE is the spec's top-two-bits scheme: a
byte >= 0xC0 is a run header (count = byte & 0x3F, next byte is the
value), anything else is a literal; runs never cross the padded
scan-line boundary on encode but the decoder tolerates padding bytes
per line, which is what real encoders emit.

Encoders cover both layouts; the decoder is additionally pinned
against hand-assembled spec streams in tests/test_pcx.py.
"""

from __future__ import annotations

import struct

from local_stream_stack_spark.operators.qoi import rgba_stats


def _header(
    width: int, height: int, bits: int, planes: int, bpl: int
) -> bytes:
    return struct.pack(
        "<BBBBHHHHHH48sBBHH58s",
        0x0A,            # manufacturer
        5,               # version 5 (24-bit / VGA palette capable)
        1,               # RLE encoding
        bits,            # bits per pixel per plane
        0, 0,            # xmin, ymin
        width - 1,
        height - 1,
        72, 72,          # dpi
        b"\x00" * 48,    # EGA palette (unused at version 5)
        0,               # reserved
        planes,
        bpl,
        1,               # palette info: color
        b"\x00" * 58,
    )


def _rle_line(row: bytes) -> bytes:
    out = bytearray()
    i, n = 0, len(row)
    while i < n:
        v = row[i]
        run = 1
        while i + run < n and run < 63 and row[i + run] == v:
            run += 1
        if run > 1 or v >= 0xC0:
            out.append(0xC0 | run)
            out.append(v)
        else:
            out.append(v)
        i += run
    return bytes(out)


def encode_pcx8(
    width: int, height: int, indices: bytes, palette: bytes
) -> bytes:
    """8-bit single-plane PCX with a 256-color VGA palette (768 RGB
    bytes appended after the 0x0C marker)."""
    if len(indices) != width * height:
        raise ValueError("indices length != width*height")
    if len(palette) != 768:
        raise ValueError("palette must be 768 bytes")
    bpl = width + (width & 1)  # even bytes_per_line, the common layout
    out = bytearray(_header(width, height, 8, 1, bpl))
    for y in range(height):
        row = indices[y * width : (y + 1) * width]
        out += _rle_line(row + b"\x00" * (bpl - width))
    out.append(0x0C)
    out += palette
    return bytes(out)


def encode_pcx24(width: int, height: int, rgb: bytes) -> bytes:
    """24-bit 3-plane PCX: per scan line one R plane, one G plane,
    one B plane, each RLE'd at ``bytes_per_line`` width."""
    if len(rgb) != width * height * 3:
        raise ValueError("rgb length != width*height*3")
    bpl = width + (width & 1)
    out = bytearray(_header(width, height, 8, 3, bpl))
    for y in range(height):
        row = rgb[y * width * 3 : (y + 1) * width * 3]
        for c in range(3):
            plane = bytes(row[x * 3 + c] for x in range(width))
            out += _rle_line(plane + b"\x00" * (bpl - width))
    return bytes(out)


def decode_pcx(data: bytes) -> dict:
    """Decode a PCX stream to {width, height, n_px, pixels (RGBA,
    row-major top-down), r_sum, g_sum, b_sum, a_sum, r_min, r_max}."""
    if len(data) < 128 or data[0] != 0x0A:
        raise ValueError("not a PCX stream")
    if data[2] != 1:
        raise ValueError("unsupported PCX encoding")
    bits = data[3]
    xmin, ymin, xmax, ymax = struct.unpack("<HHHH", data[4:12])
    planes = data[65]
    bpl = struct.unpack("<H", data[66:68])[0]
    width = xmax - xmin + 1
    height = ymax - ymin + 1
    if bits != 8 or planes not in (1, 3):
        raise ValueError(
            f"unsupported PCX layout: {bits} bits x {planes} planes"
        )

    i = 128
    body_end = len(data)
    palette = None
    if planes == 1:
        if body_end - 769 >= 128 and data[body_end - 769] == 0x0C:
            palette = data[body_end - 768 :]
            body_end -= 769
        else:
            raise ValueError("8-bit PCX missing VGA palette marker")

    def decode_row_bytes(count: int, pos: int) -> tuple[bytearray, int]:
        row = bytearray()
        while len(row) < count:
            if pos >= body_end:
                raise ValueError("truncated PCX RLE stream")
            b = data[pos]
            pos += 1
            if b >= 0xC0:
                if pos >= body_end:
                    raise ValueError("truncated PCX RLE run")
                row += bytes([data[pos]]) * (b & 0x3F)
                pos += 1
            else:
                row.append(b)
        if len(row) > count:
            raise ValueError("PCX RLE run crossed scan-line boundary")
        return row, pos

    n = width * height
    px = bytearray(n * 4)
    for y in range(height):
        line, i = decode_row_bytes(bpl * planes, i)
        for x in range(width):
            if planes == 1:
                idx = line[x]
                r, g, b = palette[idx * 3 : idx * 3 + 3]
            else:
                r = line[x]
                g = line[bpl + x]
                b = line[2 * bpl + x]
            o = (y * width + x) * 4
            px[o], px[o + 1], px[o + 2], px[o + 3] = r, g, b, 255
    return {"width": width, "height": height, **rgba_stats(px)}
