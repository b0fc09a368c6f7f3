"""Pure-stdlib baseline JPEG codec (ITU-T T.81 / ISO 10918-1).

Decoder: real baseline sequential DCT decode — marker parse (DQT/DHT/
SOF0/SOS/DRI), canonical Huffman tables, byte-stuffing-aware bit reader,
restart markers, dequantize + de-zigzag, separable float IDCT, chroma
upsampling (pixel replication) and JFIF YCbCr→RGB.  Grayscale (1
component) and color (3 components, sampling factors up to 2×2) are
supported; progressive (SOF2), arithmetic coding, and 12-bit precision
raise ``NotImplementedError`` — those are the seams a native libjpeg
binding would fill.

Encoder: a minimal baseline writer used by fixtures and tests —
flat-per-block (DC-only) images with the spec's Annex K example Huffman
tables and a uniform quant table of 8s.  A flat block of pixel value
``v`` has forward-DCT DC = 8·(v−128); quantized by 8 the coefficient is
exactly ``v−128``, and the decode side reproduces ``v`` bit-exactly —
which is what makes the oracle's closed-form pixel means possible.

No counterpart exists in the reference (its media handling is opaque
archive bytes, runcommand.py:52-59); this is north-star §2.12 surface.
Only ``struct``-level byte handling and ``math`` are used.
"""

from __future__ import annotations

import math

from .image_ops import channel_sums_of

# zigzag scan order: index = zigzag position, value = natural (row*8+col)
ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]

# T.81 Annex K.3 example tables (the de-facto standard tables)
_DC_LUM_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_DC_LUM_VALS = list(range(12))
_AC_LUM_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
_AC_LUM_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
    0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
    0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
    0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
    0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
    0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
    0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
    0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
    0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]


def is_jpeg(data: bytes | None) -> bool:
    return data is not None and len(data) > 3 and data[:2] == b"\xff\xd8"


def _canonical_codes(bits: list[int], values: list[int]):
    """T.81 C.2 canonical code assignment → {(length, code): symbol}."""
    table = {}
    code = 0
    idx = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            table[(length, code)] = values[idx]
            idx += 1
            code += 1
        code <<= 1
    return table


class _BitReader:
    """MSB-first bit reader over entropy-coded data with 0xFF00
    byte-unstuffing; stops at markers (leaves position on the 0xFF)."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.bit = 0
        self.cur = 0

    def _next_byte(self) -> int:
        d = self.data
        if self.pos >= len(d):
            raise ValueError("truncated entropy data")
        b = d[self.pos]
        if b == 0xFF:
            nxt = d[self.pos + 1] if self.pos + 1 < len(d) else 0xD9
            if nxt == 0x00:
                self.pos += 2
                return 0xFF
            # a real marker: synthesize zero bits (spec: decoder pads)
            return 0
        self.pos += 1
        return b

    def read_bit(self) -> int:
        if self.bit == 0:
            self.cur = self._next_byte()
            self.bit = 8
        self.bit -= 1
        return (self.cur >> self.bit) & 1

    def receive(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def receive_extend(self, s: int) -> int:
        v = self.receive(s)
        if v < (1 << (s - 1)):
            v -= (1 << s) - 1
        return v

    def decode_symbol(self, table: dict) -> int:
        code = 0
        for length in range(1, 17):
            code = (code << 1) | self.read_bit()
            sym = table.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("invalid Huffman code")

    def align_restart(self) -> None:
        """Byte-align and consume an RSTn marker."""
        self.bit = 0
        d = self.data
        while self.pos + 1 < len(d):
            if d[self.pos] == 0xFF and 0xD0 <= d[self.pos + 1] <= 0xD7:
                self.pos += 2
                return
            self.pos += 1
        raise ValueError("missing restart marker")


_IDCT_COS = [
    [
        (math.sqrt(0.5) if u == 0 else 1.0)
        * math.cos((2 * x + 1) * u * math.pi / 16.0)
        for x in range(8)
    ]
    for u in range(8)
]


def _idct_2d(coefs: list[float]) -> list[int]:
    """Separable 8×8 inverse DCT + level shift + clamp (T.81 A.3.3)."""
    # rows: for each v, transform the u axis
    tmp = [0.0] * 64
    for v in range(8):
        base = v * 8
        row = coefs[base : base + 8]
        if not any(row):
            continue
        for x in range(8):
            s = 0.0
            for u in range(8):
                c = row[u]
                if c:
                    s += c * _IDCT_COS[u][x]
            tmp[base + x] = s
    out = [0] * 64
    for x in range(8):
        col = [tmp[v * 8 + x] for v in range(8)]
        for y in range(8):
            s = 0.0
            for v in range(8):
                c = col[v]
                if c:
                    s += c * _IDCT_COS[v][y]
            val = int(round(s / 4.0)) + 128
            out[y * 8 + x] = 0 if val < 0 else (255 if val > 255 else val)
    return out


def decode_jpeg_pixels(data: bytes):
    """Decode a baseline JPEG → (width, height, channels, pixels bytes).

    Pixels are interleaved row-major (grayscale: 1 byte/px, color: RGB).
    """
    if not is_jpeg(data):
        raise ValueError("not a JPEG payload")
    qt: dict[int, list[int]] = {}
    huff_dc: dict[int, dict] = {}
    huff_ac: dict[int, dict] = {}
    frame = None
    restart_interval = 0
    scan = None
    i = 2
    while i < len(data) and scan is None:
        if data[i] != 0xFF:
            i += 1
            continue
        marker = data[i + 1]
        i += 2
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            continue
        if marker == 0xD9:
            break
        length = int.from_bytes(data[i : i + 2], "big")
        seg = data[i + 2 : i + length]
        if marker == 0xDB:  # DQT, possibly several tables per segment
            p = 0
            while p < len(seg):
                prec, tid = seg[p] >> 4, seg[p] & 15
                p += 1
                if prec:
                    vals = [
                        int.from_bytes(seg[p + 2 * k : p + 2 * k + 2], "big")
                        for k in range(64)
                    ]
                    p += 128
                else:
                    vals = list(seg[p : p + 64])
                    p += 64
                qt[tid] = vals
        elif marker == 0xC4:  # DHT
            p = 0
            while p < len(seg):
                cls, tid = seg[p] >> 4, seg[p] & 15
                bits = list(seg[p + 1 : p + 17])
                n = sum(bits)
                vals = list(seg[p + 17 : p + 17 + n])
                (huff_ac if cls else huff_dc)[tid] = _canonical_codes(
                    bits, vals
                )
                p += 17 + n
        elif marker in (0xC0, 0xC1):  # SOF0/1 baseline
            if seg[0] != 8:
                raise NotImplementedError("only 8-bit precision supported")
            h = int.from_bytes(seg[1:3], "big")
            w = int.from_bytes(seg[3:5], "big")
            ncomp = seg[5]
            comps = []
            for c in range(ncomp):
                cid, hv, tq = seg[6 + 3 * c : 9 + 3 * c]
                comps.append({"id": cid, "h": hv >> 4, "v": hv & 15, "tq": tq})
            frame = {"w": w, "h": h, "comps": comps}
        elif marker == 0xC2:
            raise NotImplementedError("progressive JPEG not supported")
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD,
                        0xCE, 0xCF):
            raise NotImplementedError(f"unsupported SOF marker {marker:#x}")
        elif marker == 0xDD:
            restart_interval = int.from_bytes(seg[:2], "big")
        elif marker == 0xDA:  # SOS
            ns = seg[0]
            sel = {}
            for c in range(ns):
                cid, tables = seg[1 + 2 * c], seg[2 + 2 * c]
                sel[cid] = (tables >> 4, tables & 15)
            scan = (sel, i + length)
        i += length
    if frame is None or scan is None:
        raise ValueError("missing SOF/SOS")
    sel, entropy_start = scan
    comps = frame["comps"]
    w, h = frame["w"], frame["h"]
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)
    planes = []
    for c in comps:
        c["pw"] = mcux * c["h"] * 8
        c["ph"] = mcuy * c["v"] * 8
        planes.append(bytearray(c["pw"] * c["ph"]))

    reader = _BitReader(data, entropy_start)
    preds = [0] * len(comps)
    mcu_n = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu_n and mcu_n % restart_interval == 0:
                reader.align_restart()
                preds = [0] * len(comps)
            mcu_n += 1
            for ci, c in enumerate(comps):
                dctab = huff_dc[sel[c["id"]][0]]
                actab = huff_ac[sel[c["id"]][1]]
                q = qt[c["tq"]]
                for by in range(c["v"]):
                    for bx in range(c["h"]):
                        coefs = [0.0] * 64
                        s = reader.decode_symbol(dctab)
                        diff = reader.receive_extend(s) if s else 0
                        preds[ci] += diff
                        coefs[0] = preds[ci] * q[0]
                        k = 0
                        while k < 63:
                            rs = reader.decode_symbol(actab)
                            r, size = rs >> 4, rs & 15
                            if size == 0:
                                if r == 15:
                                    k += 16
                                    continue
                                break  # EOB
                            k += r + 1
                            if k > 63:
                                raise ValueError("AC index out of range")
                            coefs[ZIGZAG[k]] = (
                                reader.receive_extend(size) * q[k]
                            )
                        block = _idct_2d(coefs)
                        px = (mx * c["h"] + bx) * 8
                        py = (my * c["v"] + by) * 8
                        plane = planes[ci]
                        pw = c["pw"]
                        for yy in range(8):
                            row = (py + yy) * pw + px
                            plane[row : row + 8] = bytes(
                                block[yy * 8 : yy * 8 + 8]
                            )

    if len(comps) == 1:
        c = comps[0]
        pw = c["pw"]
        out = bytearray(w * h)
        for y in range(h):
            out[y * w : (y + 1) * w] = planes[0][y * pw : y * pw + w]
        return w, h, 1, bytes(out)
    if len(comps) != 3:
        raise NotImplementedError("only 1- or 3-component JPEGs")
    out = bytearray(w * h * 3)
    for y in range(h):
        for x in range(w):
            samples = []
            for ci, c in enumerate(comps):
                sx = x * c["h"] // hmax
                sy = y * c["v"] // vmax
                samples.append(planes[ci][sy * c["pw"] + sx])
            Y, Cb, Cr = samples
            r = Y + 1.402 * (Cr - 128)
            g = Y - 0.344136 * (Cb - 128) - 0.714136 * (Cr - 128)
            b = Y + 1.772 * (Cb - 128)
            o = (y * w + x) * 3
            for j, v in enumerate((r, g, b)):
                iv = int(round(v))
                out[o + j] = 0 if iv < 0 else (255 if iv > 255 else iv)
    return w, h, 3, bytes(out)


# ---------------------------------------------------------------------------
# minimal encoder (DC-only baseline grayscale) — fixture/test support
# ---------------------------------------------------------------------------


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            self.nbits -= 8
            b = (self.acc >> self.nbits) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)  # byte stuffing

    def flush(self) -> bytes:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # pad with 1s per spec
        return bytes(self.out)


def _encode_table(bits: list[int], values: list[int]):
    dec = _canonical_codes(bits, values)
    return {sym: (code, length) for (length, code), sym in dec.items()}


def _seg(marker: int, payload: bytes) -> bytes:
    return bytes([0xFF, marker]) + (len(payload) + 2).to_bytes(2, "big") + payload


def _write_dc_block(bw: _BitWriter, dc_enc, ac_enc, value: int, pred: int):
    """Emit one flat (DC-only) block; returns the new predictor."""
    if not 0 <= int(value) <= 255:
        raise ValueError("block value out of byte range")
    dc = int(value) - 128
    diff = dc - pred
    if diff == 0:
        s = 0
    else:
        s = diff.bit_length() if diff > 0 else (-diff).bit_length()
    code, length = dc_enc[s]
    bw.write(code, length)
    if s:
        bits = diff if diff > 0 else diff + (1 << s) - 1
        bw.write(bits, s)
    eob_code, eob_len = ac_enc[0x00]
    bw.write(eob_code, eob_len)
    return dc


def encode_jpeg_gray_blocks(
    wb: int, hb: int, block_values: list[int], restart_interval: int = 0
) -> bytes:
    """Baseline grayscale JPEG of ``wb``×``hb`` flat 8×8 blocks whose pixel
    values are ``block_values`` (raster order).  Quant table is uniform 8s
    so each block's quantized DC is exactly ``value − 128`` and the decode
    reproduces every pixel bit-exactly — DC-diff Huffman coding across
    blocks is still fully exercised.  ``restart_interval`` > 0 emits DRI +
    RSTn markers every that-many MCUs (predictor resets, byte alignment)."""
    if len(block_values) != wb * hb:
        raise ValueError("need wb*hb block values")
    w, h = wb * 8, hb * 8
    dc_enc = _encode_table(_DC_LUM_BITS, _DC_LUM_VALS)
    ac_enc = _encode_table(_AC_LUM_BITS, _AC_LUM_VALS)
    chunks = []
    bw = _BitWriter()
    pred = 0
    rst = 0
    for n, v in enumerate(block_values):
        if restart_interval and n and n % restart_interval == 0:
            chunks.append(bw.flush())
            chunks.append(bytes([0xFF, 0xD0 + (rst % 8)]))
            rst += 1
            bw = _BitWriter()
            pred = 0
        pred = _write_dc_block(bw, dc_enc, ac_enc, v, pred)
    chunks.append(bw.flush())
    entropy = b"".join(chunks)

    out = bytearray(b"\xff\xd8")  # SOI
    out += _seg(0xDB, bytes([0x00]) + bytes([8] * 64))  # DQT id0, all 8s
    out += _seg(
        0xC0,
        bytes([8])
        + h.to_bytes(2, "big")
        + w.to_bytes(2, "big")
        + bytes([1, 1, 0x11, 0]),  # 1 component, 1x1 sampling, q-table 0
    )
    out += _seg(
        0xC4, bytes([0x00]) + bytes(_DC_LUM_BITS) + bytes(_DC_LUM_VALS)
    )
    out += _seg(
        0xC4, bytes([0x10]) + bytes(_AC_LUM_BITS) + bytes(_AC_LUM_VALS)
    )
    if restart_interval:
        out += _seg(0xDD, restart_interval.to_bytes(2, "big"))
    out += _seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
    out += entropy
    out += b"\xff\xd9"  # EOI
    return bytes(out)


def encode_jpeg_color_dc(
    mcus_w: int,
    mcus_h: int,
    ycbcr_mcus: list[tuple],
    subsample: bool = False,
) -> bytes:
    """Baseline COLOR JPEG from flat per-MCU (Y, Cb, Cr) triples.

    ``subsample=False`` → 4:4:4 (every component 1×1, MCU = 8×8 px);
    ``subsample=True``  → 4:2:0 (luma 2×2 per MCU, MCU = 16×16 px) — the
    four luma blocks of an MCU share the flat Y value.  All three
    channels use the uniform-8s quant table and the Annex K luma tables,
    so decoded Y/Cb/Cr planes are bit-exact and the RGB output follows
    the JFIF conversion in closed form."""
    if len(ycbcr_mcus) != mcus_w * mcus_h:
        raise ValueError("need mcus_w*mcus_h triples")
    lh = lv = 2 if subsample else 1
    w, h = mcus_w * 8 * lh, mcus_h * 8 * lv
    dc_enc = _encode_table(_DC_LUM_BITS, _DC_LUM_VALS)
    ac_enc = _encode_table(_AC_LUM_BITS, _AC_LUM_VALS)
    bw = _BitWriter()
    preds = [0, 0, 0]
    for (y, cb, cr) in ycbcr_mcus:
        for _ in range(lh * lv):
            preds[0] = _write_dc_block(bw, dc_enc, ac_enc, y, preds[0])
        preds[1] = _write_dc_block(bw, dc_enc, ac_enc, cb, preds[1])
        preds[2] = _write_dc_block(bw, dc_enc, ac_enc, cr, preds[2])
    entropy = bw.flush()

    out = bytearray(b"\xff\xd8")
    out += _seg(0xDB, bytes([0x00]) + bytes([8] * 64))
    comp_spec = bytes(
        [3, 1, (lh << 4) | lv, 0, 2, 0x11, 0, 3, 0x11, 0]
    )
    out += _seg(
        0xC0,
        bytes([8]) + h.to_bytes(2, "big") + w.to_bytes(2, "big") + comp_spec,
    )
    out += _seg(
        0xC4, bytes([0x00]) + bytes(_DC_LUM_BITS) + bytes(_DC_LUM_VALS)
    )
    out += _seg(
        0xC4, bytes([0x10]) + bytes(_AC_LUM_BITS) + bytes(_AC_LUM_VALS)
    )
    out += _seg(0xDA, bytes([3, 1, 0x00, 2, 0x00, 3, 0x00, 0, 63, 0]))
    out += entropy
    out += b"\xff\xd9"
    return bytes(out)


def channel_means(data: bytes):
    """(width, height, channels, per-channel means) — the verification
    statistic, same shape as png_codec.channel_means."""
    w, h, ch, pix = decode_jpeg_pixels(data)
    return w, h, ch, [s / (w * h) for s in channel_sums_of(pix, ch)]
