"""Pure-stdlib PNG codec (struct + zlib) — a REAL multimodal kernel.

The container has no PIL/libjpeg/ffmpeg, but PNG needs neither: the
format is zlib-compressed scanlines behind 4 well-specified row filters
(RFC 2083).  This module implements a minimal but real encoder (8-bit
RGB, filter 0) and decoder (8-bit RGB/RGBA, all 5 filter types), so the
multimodal pipeline's decode stage runs genuine bytes→pixels work
instead of the DeterministicFakeCodec stand-in.

The decoder is the per-batch kernel behind ``decode_metadata`` /
``decode_pixel_stats`` (multimodal/binary_ops.py) — pure Python per
payload, Arrow-batched by mapInPandas, no global state.
"""

from __future__ import annotations

import struct
import zlib

from .image_ops import channel_sums_of

PNG_SIGNATURE = b"\x89PNG\r\n\x1a\n"

_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}  # color_type → samples/pixel


def _chunk(tag: bytes, body: bytes) -> bytes:
    return (
        struct.pack(">I", len(body))
        + tag
        + body
        + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
    )


def encode_png_rgb(width: int, height: int, pixels: bytes) -> bytes:
    """Encode 8-bit RGB pixels (row-major, 3·width·height bytes) as a
    valid PNG (color type 2, filter 0 per scanline)."""
    if len(pixels) != width * height * 3:
        raise ValueError(
            f"need {width * height * 3} bytes for {width}x{height} RGB, "
            f"got {len(pixels)}"
        )
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    stride = width * 3
    raw = b"".join(
        b"\x00" + pixels[y * stride : (y + 1) * stride] for y in range(height)
    )
    return (
        PNG_SIGNATURE
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(raw, 6))
        + _chunk(b"IEND", b"")
    )


def is_png(payload: bytes | None) -> bool:
    return payload is not None and payload[:8] == PNG_SIGNATURE


def decode_png_meta(payload: bytes) -> tuple[int, int, int, int]:
    """(width, height, bit_depth, channels) from the IHDR chunk —
    metadata-only decode, no decompression."""
    if not is_png(payload):
        raise ValueError("not a PNG payload")
    if payload[12:16] != b"IHDR":
        raise ValueError("corrupt PNG: IHDR not first chunk")
    width, height, bit_depth, color_type = struct.unpack(
        ">IIBB", payload[16:26]
    )
    if color_type not in _CHANNELS:
        raise ValueError(f"unknown PNG color type {color_type}")
    return width, height, bit_depth, _CHANNELS[color_type]


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def decode_png_pixels(payload: bytes) -> tuple[int, int, int, bytearray]:
    """Full decode for 8-bit color types 0/2/4/6 (gray/RGB/gray+A/RGBA):
    concatenate IDAT chunks, inflate, undo the per-scanline filter
    (None/Sub/Up/Average/Paeth).  Returns (width, height, channels,
    pixel bytes row-major)."""
    width, height, bit_depth, channels = decode_png_meta(payload)
    if bit_depth != 8:
        raise ValueError(f"only 8-bit PNGs supported, got {bit_depth}")
    if channels == 1 and payload[25] == 3:
        raise ValueError("palette PNGs not supported")
    idat = bytearray()
    pos = 8
    while pos < len(payload):
        (length,) = struct.unpack(">I", payload[pos : pos + 4])
        tag = payload[pos + 4 : pos + 8]
        if tag == b"IDAT":
            idat += payload[pos + 8 : pos + 8 + length]
        if tag == b"IEND":
            break
        pos += 12 + length
    raw = zlib.decompress(bytes(idat))
    stride = width * channels
    bpp = channels
    out = bytearray(height * stride)
    prev_start = -stride
    for y in range(height):
        ftype = raw[y * (stride + 1)]
        line = bytearray(raw[y * (stride + 1) + 1 : (y + 1) * (stride + 1)])
        o = y * stride
        if ftype == 1:  # Sub
            for i in range(bpp, stride):
                line[i] = (line[i] + line[i - bpp]) & 0xFF
        elif ftype == 2:  # Up
            if y:
                for i in range(stride):
                    line[i] = (line[i] + out[o + prev_start + i]) & 0xFF
        elif ftype == 3:  # Average
            for i in range(stride):
                left = line[i - bpp] if i >= bpp else 0
                up = out[o + prev_start + i] if y else 0
                line[i] = (line[i] + ((left + up) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            for i in range(stride):
                left = line[i - bpp] if i >= bpp else 0
                up = out[o + prev_start + i] if y else 0
                ul = out[o + prev_start + i - bpp] if (y and i >= bpp) else 0
                line[i] = (line[i] + _paeth(left, up, ul)) & 0xFF
        elif ftype != 0:
            raise ValueError(f"unknown PNG filter type {ftype}")
        out[o : o + stride] = line
    return width, height, channels, out


def channel_means(payload: bytes) -> tuple[int, int, int, list[float]]:
    """(width, height, channels, per-channel pixel means) — the decode
    verification statistic (a wrong inflate/unfilter shifts the means)."""
    width, height, channels, pix = decode_png_pixels(payload)
    n = width * height
    return width, height, channels, [
        s / n for s in channel_sums_of(pix, channels)
    ]
