"""Real QOI codec (pure stdlib): the "Quite OK Image" format,
encoder and decoder, RGB and RGBA.

Mirrors the reference's opaque-binary multimodal contract (decode ->
typed feature row) the same way ``operators/bmp.py`` / ``png.py`` /
``gif.py`` do — the Spark-side plumbing is mapInPandas over an
id/binary column; this module is the per-record codec.

What makes QOI a REAL decode and not a byte-count stub (spec:
qoiformat.org — a 1-page public format, all ops implemented):

- QOI_OP_RUN   (0b11xxxxxx): run-length of the PREVIOUS pixel,
  biased −1, lengths 63/64 unusable (their tags collide with
  RGB/RGBA);
- QOI_OP_INDEX (0b00xxxxxx): a 64-slot rolling hash table indexed by
  (3r + 5g + 7b + 11a) % 64 — every seen pixel updates it, so a
  wrong update order corrupts later lookups;
- QOI_OP_DIFF  (0b01drdgdb): 2-bit channel diffs biased +2, with
  WRAPPING byte arithmetic;
- QOI_OP_LUMA  (0b10dddddd, second byte dr−dg / db−dg): 6-bit green
  diff biased +32, red/blue diffs relative to green biased +8, all
  wrapping;
- QOI_OP_RGB / QOI_OP_RGBA (0xFE / 0xFF): literal channels;
- 14-byte big-endian header and the 8-byte end marker
  (seven 0x00 then 0x01).

``tests/test_qoi.py`` pins the decoder against hand-assembled byte
streams for every op (including wrap-around diffs and index reuse the
encoder may not emit for a given image) plus encoder round-trips; the
registered query's oracle recomputes decoded channel statistics
arithmetically from the closed-form pixel formulas, so a defect in
run bias, hash updates, wrapping, or marker handling breaks the sums.
"""

from __future__ import annotations

import struct

_MAGIC = b"qoif"
_END = b"\x00" * 7 + b"\x01"

_OP_INDEX = 0x00
_OP_DIFF = 0x40
_OP_LUMA = 0x80
_OP_RUN = 0xC0
_OP_RGB = 0xFE
_OP_RGBA = 0xFF


def rgba_stats(px: bytes | bytearray) -> dict:
    """Channel statistics of row-major RGBA bytes: {pixels, n_px,
    r_sum, g_sum, b_sum, a_sum, r_min, r_max}, with r_min/r_max 0 when
    empty. The shared feature tail of the decoders that normalize to
    RGBA (qoi, tga, pcx, pnm, bmp)."""
    rs = px[0::4]
    return {
        "pixels": bytes(px),
        "n_px": len(rs),
        "r_sum": sum(rs),
        "g_sum": sum(px[1::4]),
        "b_sum": sum(px[2::4]),
        "a_sum": sum(px[3::4]),
        "r_min": min(rs, default=0),
        "r_max": max(rs, default=0),
    }


def _hash(r: int, g: int, b: int, a: int) -> int:
    return (r * 3 + g * 5 + b * 7 + a * 11) % 64


def encode_qoi(
    width: int, height: int, pixels: bytes, channels: int = 3
) -> bytes:
    """Encode row-major RGB(A) bytes as a QOI stream using the full
    op set (runs, index, diff, luma, literals)."""
    if channels not in (3, 4):
        raise ValueError("channels must be 3 or 4")
    if len(pixels) != width * height * channels:
        raise ValueError("pixels length != w*h*channels")
    out = bytearray()
    out += _MAGIC
    out += struct.pack(">IIBB", width, height, channels, 0)
    index = [(0, 0, 0, 0)] * 64
    pr, pg, pb, pa = 0, 0, 0, 255
    run = 0
    n = width * height
    for i in range(n):
        o = i * channels
        r, g, b = pixels[o], pixels[o + 1], pixels[o + 2]
        a = pixels[o + 3] if channels == 4 else 255
        if (r, g, b, a) == (pr, pg, pb, pa):
            run += 1
            if run == 62 or i == n - 1:
                out.append(_OP_RUN | (run - 1))
                run = 0
        else:
            if run > 0:
                out.append(_OP_RUN | (run - 1))
                run = 0
            h = _hash(r, g, b, a)
            if index[h] == (r, g, b, a):
                out.append(_OP_INDEX | h)
            else:
                index[h] = (r, g, b, a)
                if a == pa:
                    dr = (r - pr + 128) % 256 - 128
                    dg = (g - pg + 128) % 256 - 128
                    db = (b - pb + 128) % 256 - 128
                    dr_dg = dr - dg
                    db_dg = db - dg
                    if -2 <= dr <= 1 and -2 <= dg <= 1 and -2 <= db <= 1:
                        out.append(
                            _OP_DIFF
                            | ((dr + 2) << 4)
                            | ((dg + 2) << 2)
                            | (db + 2)
                        )
                    elif (
                        -32 <= dg <= 31
                        and -8 <= dr_dg <= 7
                        and -8 <= db_dg <= 7
                    ):
                        out.append(_OP_LUMA | (dg + 32))
                        out.append(((dr_dg + 8) << 4) | (db_dg + 8))
                    else:
                        out += bytes((_OP_RGB, r, g, b))
                else:
                    out += bytes((_OP_RGBA, r, g, b, a))
        pr, pg, pb, pa = r, g, b, a
    if run > 0:
        out.append(_OP_RUN | (run - 1))
    out += _END
    return bytes(out)


def decode_qoi(data: bytes) -> dict:
    """Decode a QOI stream to
    {width, height, channels, pixels (RGBA bytes), n_px,
     r_sum, g_sum, b_sum, a_sum, r_min, r_max}."""
    if len(data) < 22 or data[:4] != _MAGIC:
        raise ValueError("not a QOI stream")
    width, height, channels, colorspace = struct.unpack(
        ">IIBB", data[4:14]
    )
    if channels not in (3, 4):
        raise ValueError(f"bad channel count {channels}")
    if colorspace not in (0, 1):
        raise ValueError(f"bad colorspace {colorspace}")
    if data[-8:] != _END:
        raise ValueError("missing QOI end marker")
    n = width * height
    px = bytearray(n * 4)
    index = [(0, 0, 0, 0)] * 64
    r, g, b, a = 0, 0, 0, 255
    i = 14
    p = 0
    body_end = len(data) - 8
    while p < n:
        if i >= body_end:
            raise ValueError("truncated QOI body")
        op = data[i]
        i += 1
        # Operand bounds are checked against body_end per op: a
        # truncated body must raise, not silently read the 8-byte end
        # marker's zeros as pixel operands (ADVICE r10).
        if op == _OP_RGB:
            if i + 3 > body_end:
                raise ValueError("truncated QOI body")
            r, g, b = data[i], data[i + 1], data[i + 2]
            i += 3
        elif op == _OP_RGBA:
            if i + 4 > body_end:
                raise ValueError("truncated QOI body")
            r, g, b, a = data[i], data[i + 1], data[i + 2], data[i + 3]
            i += 4
        else:
            tag = op & 0xC0
            if tag == _OP_INDEX:
                r, g, b, a = index[op & 0x3F]
            elif tag == _OP_DIFF:
                r = (r + ((op >> 4) & 0x03) - 2) % 256
                g = (g + ((op >> 2) & 0x03) - 2) % 256
                b = (b + (op & 0x03) - 2) % 256
            elif tag == _OP_LUMA:
                dg = (op & 0x3F) - 32
                if i + 1 > body_end:
                    raise ValueError("truncated QOI body")
                b2 = data[i]
                i += 1
                r = (r + dg + ((b2 >> 4) & 0x0F) - 8) % 256
                g = (g + dg) % 256
                b = (b + dg + (b2 & 0x0F) - 8) % 256
            else:  # _OP_RUN
                run = (op & 0x3F) + 1
                for _ in range(run):
                    if p >= n:
                        raise ValueError("QOI run past image end")
                    o = p * 4
                    px[o], px[o + 1], px[o + 2], px[o + 3] = r, g, b, a
                    p += 1
                index[_hash(r, g, b, a)] = (r, g, b, a)
                continue
        index[_hash(r, g, b, a)] = (r, g, b, a)
        o = p * 4
        px[o], px[o + 1], px[o + 2], px[o + 3] = r, g, b, a
        p += 1
    if i != body_end:
        raise ValueError("trailing bytes after QOI body")
    return {
        "width": width,
        "height": height,
        "channels": channels,
        **rgba_stats(px),
    }
