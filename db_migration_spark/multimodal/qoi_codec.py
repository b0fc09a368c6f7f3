"""Pure-stdlib QOI codec (the public "Quite OK Image" format, spec v1.0,
qoiformat.org — a 2022 single-page lossless RGB/RGBA format).

Full encoder + decoder: 14-byte header (``qoif`` magic, big-endian
dims), the six chunk ops (RGB, RGBA, INDEX, DIFF, LUMA, RUN), the
64-slot running color index with the spec's (3,5,7,11) hash, and the
7×0x00 + 0x01 end marker.  Both directions are exact — decode(encode(x))
is the identity for any pixel stream, which is what puts the codec under
the oracle gate (a wrong bias, hash, or index write shifts pixel sums).

No counterpart exists in the reference (its media handling is opaque
archive bytes, runcommand.py:52-59); this is north-star §2.12 surface
next to png_codec/bmp_codec.  Only ``struct``-level byte handling.
"""

from __future__ import annotations

import struct

from .image_ops import channel_sums_of

_MAGIC = b"qoif"
_END = b"\x00" * 7 + b"\x01"

_OP_INDEX = 0x00
_OP_DIFF = 0x40
_OP_LUMA = 0x80
_OP_RUN = 0xC0
_OP_RGB = 0xFE
_OP_RGBA = 0xFF


def is_qoi(b: bytes) -> bool:
    return len(b) >= 14 and b[:4] == _MAGIC


def _hash(r: int, g: int, b: int, a: int) -> int:
    return (r * 3 + g * 5 + b * 7 + a * 11) % 64


def encode_qoi(
    width: int, height: int, pixels: bytes, channels: int = 3
) -> bytes:
    """Encode ``width*height`` pixels (``channels`` interleaved bytes
    each, row-major) per the QOI spec; alpha defaults to 255 for RGB."""
    if channels not in (3, 4):
        raise ValueError("channels must be 3 or 4")
    if len(pixels) != width * height * channels:
        raise ValueError("pixel buffer size mismatch")
    out = bytearray()
    out += _MAGIC
    out += struct.pack(">II", width, height)
    out += bytes([channels, 0])  # colorspace 0 = sRGB w/ linear alpha

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
            if run == 62:
                out.append(_OP_RUN | (run - 1))
                run = 0
        else:
            if run:
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
                        out += bytes([_OP_RGB, r, g, b])
                else:
                    out += bytes([_OP_RGBA, r, g, b, a])
        pr, pg, pb, pa = r, g, b, a
    if run:
        out.append(_OP_RUN | (run - 1))
    out += _END
    return bytes(out)


def decode_qoi(data: bytes) -> tuple[int, int, int, bytes]:
    """Decode a QOI payload → (width, height, channels, pixel bytes).
    The returned buffer is interleaved per the header's channel count."""
    if not is_qoi(data):
        raise ValueError("not a QOI payload")
    width, height = struct.unpack(">II", data[4:12])
    channels, colorspace = data[12], data[13]
    if channels not in (3, 4) or colorspace not in (0, 1):
        raise ValueError("bad QOI header")
    n = width * height
    out = bytearray(n * channels)
    index = [(0, 0, 0, 0)] * 64
    r, g, b, a = 0, 0, 0, 255
    pos = 14
    i = 0
    while i < n:
        op = data[pos]
        pos += 1
        if op == _OP_RGB:
            r, g, b = data[pos], data[pos + 1], data[pos + 2]
            pos += 3
        elif op == _OP_RGBA:
            r, g, b, a = (
                data[pos],
                data[pos + 1],
                data[pos + 2],
                data[pos + 3],
            )
            pos += 4
        else:
            tag = op & 0xC0
            if tag == _OP_INDEX:
                r, g, b, a = index[op & 0x3F]
            elif tag == _OP_DIFF:
                r = (r + ((op >> 4) & 3) - 2) % 256
                g = (g + ((op >> 2) & 3) - 2) % 256
                b = (b + (op & 3) - 2) % 256
            elif tag == _OP_LUMA:
                dg = (op & 0x3F) - 32
                b2 = data[pos]
                pos += 1
                r = (r + dg + ((b2 >> 4) & 0xF) - 8) % 256
                g = (g + dg) % 256
                b = (b + dg + (b2 & 0xF) - 8) % 256
            else:  # _OP_RUN
                run = (op & 0x3F) + 1
                if i + run > n:
                    raise ValueError("QOI run overruns the pixel count")
                for _ in range(run):
                    o = i * channels
                    out[o], out[o + 1], out[o + 2] = r, g, b
                    if channels == 4:
                        out[o + 3] = a
                    i += 1
                continue
        index[_hash(r, g, b, a)] = (r, g, b, a)
        o = i * channels
        out[o], out[o + 1], out[o + 2] = r, g, b
        if channels == 4:
            out[o + 3] = a
        i += 1
    if data[pos : pos + 8] != _END:
        raise ValueError("missing QOI end marker")
    return width, height, channels, bytes(out)


def channel_sums(data: bytes) -> tuple[int, int, list[int]]:
    """(width, height, per-channel pixel SUMS) — exact integers, the
    oracle statistic (means would re-introduce float division)."""
    w, h, ch, px = decode_qoi(data)
    return w, h, channel_sums_of(px, ch)


def channel_means(data: bytes) -> tuple[int, int, int, list[float]]:
    """Mirror of png_codec.channel_means for the shared decode seam."""
    w, h, ch, px = decode_qoi(data)
    return w, h, ch, [s / (w * h) for s in channel_sums_of(px, ch)]
