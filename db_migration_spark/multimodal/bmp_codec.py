"""Real BMP (Windows DIB) codec — pure stdlib, no image libraries.

24-bit uncompressed ``BI_RGB`` with the two classic traps implemented
faithfully: scanlines are stored BOTTOM-UP in BGR order, and every row
is padded to a 4-byte boundary.  A decoder that ignores either produces
shifted channels / sheared rows, which the integer channel-sum oracle
(queries.py multimodal_bmp_decode) catches exactly.

Layout written/read:

* BITMAPFILEHEADER (14 bytes): ``BM``, file size, reserved, pixel offset
* BITMAPINFOHEADER (40 bytes): size=40, width, height (positive =
  bottom-up), planes=1, bpp=24, compression=0 (BI_RGB)
* pixel array: rows bottom-up, pixels left-to-right as B,G,R, row padded
  to 4 bytes

``image_meta.make_bmp_header`` remains the sniff-tier header fixture;
this module is the full pixel path.
"""

from __future__ import annotations

import struct

from .image_ops import channel_sums_of

_FILE_HDR = 14
_INFO_HDR = 40


def encode_bmp_rgb(width: int, height: int, pixels: bytes) -> bytes:
    """Encode row-major top-down RGB triples as a 24-bit BI_RGB BMP."""
    if len(pixels) != width * height * 3:
        raise ValueError("pixel buffer does not match dimensions")
    pad = (-(width * 3)) % 4
    body = bytearray()
    # file stores rows bottom-up: iterate source rows in reverse
    for y in range(height - 1, -1, -1):
        row = pixels[y * width * 3 : (y + 1) * width * 3]
        for x in range(width):
            r, g, b = row[3 * x : 3 * x + 3]
            body += bytes((b, g, r))
        body += b"\x00" * pad
    off = _FILE_HDR + _INFO_HDR
    hdr = b"BM" + struct.pack("<IHHI", off + len(body), 0, 0, off)
    info = struct.pack(
        "<IiiHHIIiiII",
        _INFO_HDR,
        width,
        height,  # positive → bottom-up
        1,
        24,
        0,  # BI_RGB
        len(body),
        2835,
        2835,
        0,
        0,
    )
    return hdr + info + bytes(body)


def is_bmp(payload: bytes | None) -> bool:
    return payload is not None and payload[:2] == b"BM"


def decode_bmp_pixels(payload: bytes) -> tuple[int, int, int, bytearray]:
    """Decode a 24-bit BI_RGB BMP to (width, height, 3, top-down RGB
    bytes) — undoing bottom-up row order, BGR channel order, and row
    padding."""
    if not is_bmp(payload):
        raise ValueError("not a BMP payload")
    (pix_off,) = struct.unpack_from("<I", payload, 10)
    hdr_size, width, height = struct.unpack_from("<Iii", payload, 14)
    if hdr_size < 40:
        raise ValueError(f"unsupported DIB header size {hdr_size}")
    planes, bpp, compression = struct.unpack_from("<HHI", payload, 26)
    if bpp != 24 or compression != 0:
        raise ValueError(f"only 24-bit BI_RGB supported (bpp={bpp})")
    bottom_up = height > 0
    height = abs(height)
    stride = (width * 3 + 3) & ~3
    out = bytearray(width * height * 3)
    for row in range(height):
        src_y = (height - 1 - row) if bottom_up else row
        base = pix_off + src_y * stride
        o = row * width * 3
        for x in range(width):
            b = payload[base + 3 * x]
            g = payload[base + 3 * x + 1]
            r = payload[base + 3 * x + 2]
            out[o + 3 * x] = r
            out[o + 3 * x + 1] = g
            out[o + 3 * x + 2] = b
    return width, height, 3, out


def channel_sums(payload: bytes) -> tuple[int, int, int, list[int]]:
    """(width, height, channels, per-channel INTEGER pixel sums) — the
    exact verification statistic (integer, so the oracle compares with
    no float tolerance at all)."""
    width, height, channels, pix = decode_bmp_pixels(payload)
    return width, height, channels, channel_sums_of(pix, channels)
