"""Pure-stdlib GIF87a/89a codec — REAL LZW pixel kernel.

Public-format implementation from the GIF89a specification (CompuServe,
1990): logical screen descriptor, global/local color tables, extension
blocks, image descriptor, LSB-first variable-width LZW with clear/end
codes and 12-bit dictionary cap, and the 4-pass interlace layout.  No
imaging library (none exists in this container) — ``struct`` only, same
footing as png_codec.py / jpeg_codec.py.

The encoder is a real dictionary LZW (code width growth, clear on a full
table), not the emit-literals-with-clears shortcut, so decoder paths for
width transitions and table resets are exercised by the roundtrip tests.

Parity anchor: the reference pipeline treats media as opaque payloads
(SURVEY §2.12) — the decode seam here is what its downstream consumers
would run; nothing in the reference decodes GIF itself.
"""

from __future__ import annotations

import struct

from .image_ops import channel_sums_of

MAX_CODE_WIDTH = 12


def is_gif(b: bytes) -> bool:
    return b[:6] in (b"GIF87a", b"GIF89a")


# ---------------------------------------------------------------------------
# LZW (GIF variant: LSB-first bit packing, variable code width)
# ---------------------------------------------------------------------------


def _lzw_decode(data: bytes, min_code_size: int, n_pixels: int) -> bytearray:
    clear = 1 << min_code_size
    end = clear + 1
    width = min_code_size + 1
    # dict as a parent-pointer table: table[code] = (prefix_code, last_byte)
    table: list[tuple[int, int] | None] = [None] * 4096
    for i in range(clear):
        table[i] = (-1, i)
    next_code = end + 1

    out = bytearray()
    acc = 0
    nbits = 0
    prev = -1
    pos = 0
    data_len = len(data)

    def emit(code: int) -> int:
        """Append the expansion of ``code``; return its first byte."""
        stack = []
        c = code
        while c >= 0:
            p, b = table[c]  # type: ignore[misc]
            stack.append(b)
            c = p
        out.extend(reversed(stack))
        return stack[-1]

    while len(out) < n_pixels:
        while nbits < width:
            if pos >= data_len:
                raise ValueError("LZW stream truncated")
            acc |= data[pos] << nbits
            pos += 1
            nbits += 8
        code = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width

        if code == clear:
            table = [None] * 4096
            for i in range(clear):
                table[i] = (-1, i)
            next_code = end + 1
            width = min_code_size + 1
            prev = -1
            continue
        if code == end:
            break
        if prev < 0:
            if table[code] is None:
                raise ValueError("LZW: first code not a literal")
            first = emit(code)
        elif code < next_code and table[code] is not None:
            first = emit(code)
            if next_code < 4096:
                table[next_code] = (prev, first)
                next_code += 1
        elif code == next_code:
            # KwKwK case: code being defined right now
            c = prev
            while table[c][0] >= 0:  # type: ignore[index]
                c = table[c][0]  # type: ignore[index]
            first = table[c][1]  # type: ignore[index]
            if next_code < 4096:
                table[next_code] = (prev, first)
                next_code += 1
            emit(code if table[code] is not None else next_code - 1)
        else:
            raise ValueError(f"LZW: code {code} out of range")
        prev = code
        # the encoder's dictionary runs ONE entry ahead of the decoder's
        # (it adds entry k after emitting code k; the decoder adds it
        # after reading code k+1), so the decoder must widen one entry
        # early — at 2^width - 1, not 2^width (the classic GIF off-by-one)
        if next_code == (1 << width) - 1 and width < MAX_CODE_WIDTH:
            width += 1
    return out[:n_pixels]


def _lzw_encode(indices: bytes, min_code_size: int) -> bytes:
    clear = 1 << min_code_size
    end = clear + 1
    width = min_code_size + 1
    table: dict[bytes, int] = {bytes([i]): i for i in range(clear)}
    next_code = end + 1

    out = bytearray()
    acc = 0
    nbits = 0

    def put(code: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    put(clear)
    run = b""
    for byte in indices:
        cand = run + bytes([byte])
        if cand in table:
            run = cand
            continue
        put(table[run])
        if next_code < 4096:
            table[cand] = next_code
            next_code += 1
            # width grows when the table size reaches the current
            # width's capacity — AFTER the increment, mirroring the
            # decoder's post-add check exactly
            if next_code == (1 << width) and width < MAX_CODE_WIDTH:
                width += 1
        else:
            put(clear)
            table = {bytes([i]): i for i in range(clear)}
            next_code = end + 1
            width = min_code_size + 1
        run = bytes([byte])
    if run:
        put(table[run])
    put(end)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


# ---------------------------------------------------------------------------
# Container
# ---------------------------------------------------------------------------

_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


def _deinterlace(rows: list[bytes], height: int) -> list[bytes]:
    out: list[bytes | None] = [None] * height
    i = 0
    for start, step in _INTERLACE_PASSES:
        for y in range(start, height, step):
            out[y] = rows[i]
            i += 1
    return out  # type: ignore[return-value]


def _interlace_order(height: int) -> list[int]:
    order = []
    for start, step in _INTERLACE_PASSES:
        order.extend(range(start, height, step))
    return order


def decode_gif(b: bytes):
    """Decode the FIRST image of a GIF → (width, height, rgb bytes).

    Handles global and local color tables, 89a extension blocks, the
    4-pass interlace layout, and full variable-width LZW.  Animation
    frames past the first, transparency compositing, and disposal
    methods are out of scope for the pixel-stats seam (the first frame
    is what a corpus thumbnail/statistics pass reads)."""
    if not is_gif(b):
        raise ValueError("not a GIF payload")
    sw, sh, flags, _bg, _ar = struct.unpack_from("<HHBBB", b, 6)
    pos = 13
    palette = b""
    if flags & 0x80:
        n = 2 << (flags & 0x07)
        palette = b[pos : pos + 3 * n]
        pos += 3 * n
    while pos < len(b):
        block = b[pos]
        pos += 1
        if block == 0x3B:  # trailer
            break
        if block == 0x21:  # extension: label + sub-blocks
            pos += 1
            while b[pos] != 0:
                pos += 1 + b[pos]
            pos += 1
            continue
        if block != 0x2C:
            raise ValueError(f"unknown GIF block 0x{block:02x} at {pos - 1}")
        _left, _top, w, h, iflags = struct.unpack_from("<HHHHB", b, pos)
        pos += 9
        pal = palette
        if iflags & 0x80:
            n = 2 << (iflags & 0x07)
            pal = b[pos : pos + 3 * n]
            pos += 3 * n
        if not pal:
            raise ValueError("GIF image has no color table")
        min_code_size = b[pos]
        pos += 1
        data = bytearray()
        while b[pos] != 0:
            ln = b[pos]
            data += b[pos + 1 : pos + 1 + ln]
            pos += 1 + ln
        pos += 1
        indices = _lzw_decode(bytes(data), min_code_size, w * h)
        rows = [indices[y * w : (y + 1) * w] for y in range(h)]
        if iflags & 0x40:
            rows = _deinterlace([bytes(r) for r in rows], h)
        rgb = bytearray()
        ncolors = len(pal) // 3
        for row in rows:
            for idx in row:
                if idx >= ncolors:
                    raise ValueError("palette index out of range")
                rgb += pal[3 * idx : 3 * idx + 3]
        return w, h, bytes(rgb)
    raise ValueError("GIF contains no image descriptor")


def encode_gif(
    width: int,
    height: int,
    palette: bytes,
    indices: bytes,
    interlaced: bool = False,
) -> bytes:
    """Encode one palettized frame as GIF89a with real LZW compression.
    ``palette`` is 3·2^k bytes (k in 1..8); ``indices`` row-major."""
    ncolors = len(palette) // 3
    bits = max(1, (ncolors - 1).bit_length())
    if (2 << (bits - 1)) * 3 != len(palette):
        raise ValueError("palette size must be 3 * power-of-two")
    if len(indices) != width * height:
        raise ValueError("indices size mismatch")
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", width, height, 0x80 | (bits - 1), 0, 0)
    out += palette
    iflags = 0x40 if interlaced else 0
    out += b"\x2c" + struct.pack("<HHHHB", 0, 0, width, height, iflags)
    if interlaced:
        rows = [indices[y * width : (y + 1) * width] for y in range(height)]
        indices = b"".join(rows[y] for y in _interlace_order(height))
    min_code_size = max(2, bits)
    out.append(min_code_size)
    data = _lzw_encode(indices, min_code_size)
    for i in range(0, len(data), 255):
        chunk = data[i : i + 255]
        out.append(len(chunk))
        out += chunk
    out += b"\x00\x3b"
    return bytes(out)


def channel_means(b: bytes):
    """(width, height, 3, [mean_r, mean_g, mean_b]) — the same statistic
    surface as png_codec/jpeg_codec.channel_means, for the shared
    decode_pixel_stats seam."""
    w, h, rgb = decode_gif(b)
    return w, h, 3, [s / (w * h) for s in channel_sums_of(rgb, 3)]
