"""Real netpbm (PNM: P1–P6) codec — stdlib-only. The text half
(P1/P2/P3) exercises genuine tokenizer work: arbitrary whitespace,
``#`` comments anywhere in the header or between samples; the binary
half (P4/P5/P6) exercises packed MSB-first bitmaps and 1- or 2-byte
big-endian samples selected by maxval. Decoded output is normalized
to 8-bit RGBA (maxval-scaled with exact integer rounding
``(v*255 + maxval//2) // maxval``) so the channel statistics are
integer-deterministic for the SQL oracle.
"""

from __future__ import annotations

from local_stream_stack_spark.operators.qoi import rgba_stats


def encode_pnm(
    kind: str, width: int, height: int, samples: list[int],
    maxval: int = 255,
) -> bytes:
    """Encode P1–P6. ``samples``: per-pixel bits (P1/P4), grays
    (P2/P5), or flattened RGB triples (P3/P6)."""
    per = {"P1": 1, "P2": 1, "P3": 3, "P4": 1, "P5": 1, "P6": 3}[kind]
    if len(samples) != width * height * per:
        raise ValueError("sample count mismatch")
    if kind in ("P1", "P4"):
        header = f"{kind}\n# lss fixture\n{width} {height}\n"
    else:
        header = f"{kind}\n# lss fixture\n{width} {height}\n{maxval}\n"
    out = bytearray(header.encode("ascii"))
    if kind in ("P1", "P2", "P3"):
        # deliberately ragged whitespace + a mid-body comment
        toks = [str(v) for v in samples]
        # a mid-body comment, newline-terminated so it never swallows
        # the following samples
        toks.insert(min(3, len(toks)), "#mid\n")
        body = []
        for i, t in enumerate(toks):
            body.append(t)
            body.append("\n" if i % 7 == 6 else " ")
        out += "".join(body).encode("ascii")
    elif kind == "P4":
        row_bytes = (width + 7) // 8
        for y in range(height):
            row = bytearray(row_bytes)
            for x in range(width):
                if samples[y * width + x]:
                    row[x // 8] |= 0x80 >> (x % 8)
            out += row
    else:
        wide = maxval > 255
        for v in samples:
            if wide:
                out += bytes(((v >> 8) & 0xFF, v & 0xFF))
            else:
                out += bytes((v & 0xFF,))
    return bytes(out)


def _scale(v: int, maxval: int) -> int:
    return (v * 255 + maxval // 2) // maxval


def decode_pnm(data: bytes) -> dict:
    """Decode any P1–P6 stream to {kind, width, height, maxval, n_px,
    pixels (RGBA 8-bit), r_sum, g_sum, b_sum, a_sum, r_min, r_max}."""
    if len(data) < 2 or data[0:1] != b"P" or data[1:2] not in b"123456":
        raise ValueError("not a PNM stream")
    kind = data[:2].decode("ascii")
    pos = 2

    def next_token() -> tuple[str, int]:
        nonlocal pos
        while pos < len(data):
            c = data[pos]
            if c in b"#":
                while pos < len(data) and data[pos] not in b"\n":
                    pos += 1
            elif c in b" \t\r\n\x0b\x0c":
                pos += 1
            else:
                break
        if pos >= len(data):
            raise ValueError("truncated PNM header/body")
        start = pos
        while pos < len(data) and data[pos] not in b" \t\r\n\x0b\x0c#":
            pos += 1
        return data[start:pos].decode("ascii"), start

    def next_int() -> int:
        tok, _ = next_token()
        if not tok.isdigit():
            raise ValueError(f"bad PNM integer token {tok!r}")
        return int(tok)

    width = next_int()
    height = next_int()
    bitmap = kind in ("P1", "P4")
    maxval = 1 if bitmap else next_int()
    if not 1 <= maxval <= 65535:
        raise ValueError(f"bad PNM maxval {maxval}")
    per = 3 if kind in ("P3", "P6") else 1
    n = width * height
    vals: list[int] = []
    if kind in ("P1", "P2", "P3"):
        if kind == "P1":
            # P1 digits may run together without whitespace
            while len(vals) < n:
                tok, _ = next_token()
                for ch in tok:
                    if ch not in "01":
                        raise ValueError("bad P1 bit")
                    vals.append(int(ch))
        else:
            for _ in range(n * per):
                v = next_int()
                if v > maxval:
                    raise ValueError("PNM sample exceeds maxval")
                vals.append(v)
    else:
        # exactly ONE whitespace byte after the header per the spec
        if pos >= len(data) or data[pos] not in b" \t\r\n":
            raise ValueError("missing PNM binary separator")
        pos += 1
        if kind == "P4":
            row_bytes = (width + 7) // 8
            if pos + row_bytes * height > len(data):
                raise ValueError("truncated P4 body")
            for y in range(height):
                row = data[pos + y * row_bytes : pos + (y + 1) * row_bytes]
                for x in range(width):
                    vals.append((row[x // 8] >> (7 - x % 8)) & 1)
        else:
            wide = maxval > 255
            step = 2 if wide else 1
            need = n * per * step
            if pos + need > len(data):
                raise ValueError("truncated PNM body")
            for i in range(n * per):
                if wide:
                    v = (data[pos + 2 * i] << 8) | data[pos + 2 * i + 1]
                else:
                    v = data[pos + i]
                if v > maxval:
                    raise ValueError("PNM sample exceeds maxval")
                vals.append(v)
    px = bytearray(n * 4)
    for i in range(n):
        if bitmap:
            # PBM: 1 = black, 0 = white
            g = 0 if vals[i] else 255
            r, gg, b = g, g, g
        elif per == 1:
            g = _scale(vals[i], maxval)
            r, gg, b = g, g, g
        else:
            r = _scale(vals[3 * i], maxval)
            gg = _scale(vals[3 * i + 1], maxval)
            b = _scale(vals[3 * i + 2], maxval)
        o = i * 4
        px[o], px[o + 1], px[o + 2], px[o + 3] = r, gg, b, 255
    return {
        "kind": kind,
        "width": width,
        "height": height,
        "maxval": maxval,
        **rgba_stats(px),
    }
