"""Real TGA (Truevision TARGA) codec — stdlib-only, like the other
multimodal codecs here (png/jpeg/gif/wav/avi/bmp/qoi/ico): the decode
is genuine byte-level parsing so the Spark-side multimodal plumbing
runs against REAL image bytes, not a fake.

Supported on decode: type 1 (8-bit color-mapped), type 2 (24/32-bit
truecolor), and their RLE twins types 9 and 10; bottom-origin (the
TGA default) and top-origin (descriptor bit 5). Pixel values are
stored BGR(A) little-endian per the spec. Encoders cover type 2 and
type 10 (the fixtures the queries need); the decoder is additionally
pinned against hand-assembled spec streams in tests/test_tga.py so it
is checked against the FORMAT, not just against our encoder.

Reference parity note: the reference repo has no multimodal surface at
all — this tier is part of the training-data-pipeline scope the north
star adds (multimodal columns as opaque binaries + real decode).
"""

from __future__ import annotations

import struct

from local_stream_stack_spark.operators.qoi import rgba_stats

_RLE_MAX = 128


def encode_tga24(
    width: int, height: int, rgb: bytes, top_origin: bool = False
) -> bytes:
    """Uncompressed 24-bit truecolor TGA (type 2). ``rgb`` is
    row-major top-down RGB; rows are written bottom-up unless
    ``top_origin``."""
    if len(rgb) != width * height * 3:
        raise ValueError("rgb length != width*height*3")
    desc = 0x20 if top_origin else 0x00
    out = bytearray(
        struct.pack(
            "<BBBHHBHHHHBB",
            0, 0, 2, 0, 0, 0, 0, 0, width, height, 24, desc,
        )
    )
    rows = range(height) if top_origin else range(height - 1, -1, -1)
    for y in rows:
        for x in range(width):
            o = (y * width + x) * 3
            out += bytes((rgb[o + 2], rgb[o + 1], rgb[o]))  # BGR
    return bytes(out)


def encode_tga_rle24(
    width: int, height: int, rgb: bytes, top_origin: bool = False
) -> bytes:
    """RLE-compressed 24-bit truecolor TGA (type 10): maximal runs of
    identical pixels as RLE packets, literals batched raw."""
    if len(rgb) != width * height * 3:
        raise ValueError("rgb length != width*height*3")
    desc = 0x20 if top_origin else 0x00
    out = bytearray(
        struct.pack(
            "<BBBHHBHHHHBB",
            0, 0, 10, 0, 0, 0, 0, 0, width, height, 24, desc,
        )
    )
    rows = range(height) if top_origin else range(height - 1, -1, -1)
    px: list[bytes] = []
    for y in rows:
        for x in range(width):
            o = (y * width + x) * 3
            px.append(bytes((rgb[o + 2], rgb[o + 1], rgb[o])))
    i, n = 0, len(px)
    while i < n:
        run = 1
        while i + run < n and run < _RLE_MAX and px[i + run] == px[i]:
            run += 1
        if run >= 2:
            out.append(0x80 | (run - 1))
            out += px[i]
            i += run
        else:
            j = i + 1
            while (
                j < n
                and j - i < _RLE_MAX
                and not (j + 1 < n and px[j + 1] == px[j])
            ):
                j += 1
            out.append((j - i) - 1)
            for k in range(i, j):
                out += px[k]
            i = j
    return bytes(out)


def decode_tga(data: bytes) -> dict:
    """Decode a TGA stream to {width, height, n_px, pixels (RGBA,
    row-major top-down), r_sum, g_sum, b_sum, a_sum, r_min, r_max}."""
    if len(data) < 18:
        raise ValueError("truncated TGA header")
    (
        id_len,
        cmap_type,
        img_type,
        cmap_first,
        cmap_len,
        cmap_entry_bits,
        _x0,
        _y0,
        width,
        height,
        depth,
        desc,
    ) = struct.unpack("<BBBHHBHHHHBB", data[:18])
    rle = img_type in (9, 10)
    mapped = img_type in (1, 9)
    if img_type not in (1, 2, 9, 10):
        raise ValueError(f"unsupported TGA image type {img_type}")
    if mapped:
        if cmap_type != 1 or cmap_entry_bits not in (24, 32) or depth != 8:
            raise ValueError("unsupported TGA color-map layout")
    elif depth not in (24, 32):
        raise ValueError(f"unsupported TGA depth {depth}")
    if desc & 0x10:
        raise ValueError("right-to-left TGA not supported")
    top_origin = bool(desc & 0x20)
    i = 18 + id_len
    cmap: list[tuple[int, int, int, int]] = []
    if cmap_type == 1:
        esz = cmap_entry_bits // 8
        end = i + cmap_len * esz
        if end > len(data):
            raise ValueError("truncated TGA color map")
        for k in range(cmap_len):
            e = data[i + k * esz : i + (k + 1) * esz]
            b, g, r = e[0], e[1], e[2]
            a = e[3] if esz == 4 else 255
            cmap.append((r, g, b, a))
        i = end
    n = width * height
    bpp = 1 if mapped else depth // 8

    def read_px(off: int) -> tuple[tuple[int, int, int, int], int]:
        if off + bpp > len(data):
            raise ValueError("truncated TGA pixel data")
        if mapped:
            idx = data[off] - cmap_first
            if not 0 <= idx < len(cmap):
                raise ValueError("TGA palette index out of range")
            return cmap[idx], off + 1
        b, g, r = data[off], data[off + 1], data[off + 2]
        a = data[off + 3] if bpp == 4 else 255
        return (r, g, b, a), off + bpp

    flat: list[tuple[int, int, int, int]] = []
    if rle:
        while len(flat) < n:
            if i >= len(data):
                raise ValueError("truncated TGA RLE stream")
            h = data[i]
            i += 1
            count = (h & 0x7F) + 1
            if h & 0x80:
                p, i = read_px(i)
                flat.extend([p] * count)
            else:
                for _ in range(count):
                    p, i = read_px(i)
                    flat.append(p)
        if len(flat) > n:
            raise ValueError("TGA RLE overrun past image end")
    else:
        for _ in range(n):
            p, i = read_px(i)
            flat.append(p)
    # rows are stored bottom-up unless descriptor bit 5; normalize to
    # top-down row-major RGBA
    px = bytearray(n * 4)
    for row in range(height):
        src = row if top_origin else height - 1 - row
        for x in range(width):
            r, g, b, a = flat[src * width + x]
            o = (row * width + x) * 4
            px[o], px[o + 1], px[o + 2], px[o + 3] = r, g, b, a
    return {"width": width, "height": height, **rgba_stats(px)}
