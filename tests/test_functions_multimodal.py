"""Scalar function layer, text functions, vector math, multimodal plumbing."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from db_migration_spark.functions import scalars, text, vectors
from db_migration_spark.multimodal import binary_ops as mm


def test_scalar_url_and_paths(spark):
    df = spark.createDataFrame(
        [("ftp://ftp.ebi.ac.uk/pub/databases/wormbase/releases/WS250",)], ["url"]
    )
    row = df.select(
        scalars.url_host("url").alias("host"),
        scalars.url_path("url").alias("path"),
        scalars.path_segments(scalars.url_path("url")).alias("segs"),
    ).collect()[0]
    assert row["host"] == "ftp.ebi.ac.uk"
    assert row["segs"][-1] == "WS250"
    assert row["segs"][0] == "pub"


def test_scalar_regex_helpers(spark):
    df = spark.createDataFrame(
        [("wspec/models.wrm.WS250", "report.txt.gz")], ["models", "gz"]
    )
    row = df.select(
        scalars.release_name_from_models_path("models").alias("rel"),
        scalars.strip_gz_suffix("gz").alias("stem"),
        scalars.basename("models").alias("base"),
        scalars.splitext_stem(scalars.basename("gz")).alias("noext"),
    ).collect()[0]
    assert row["rel"] == "WS250"
    assert row["stem"] == "report.txt"
    assert row["base"] == "models.wrm.WS250"
    assert row["noext"] == "report.txt"


def test_scalar_misc(spark):
    df = spark.createDataFrame([(17179869184, "TRUE", "x")], ["b", "flag", "s"])
    row = df.select(
        scalars.gib_floor("b").alias("gib"),
        scalars.pct_of("b", 75).alias("pct"),
        scalars.parse_bool("flag").alias("flag"),
        scalars.rjust(F.lit("7"), 3).alias("pad"),
        scalars.within_len(F.lit("abc"), 2).alias("fits"),
        scalars.to_json_payload(F.lit("hi").alias("msg")).alias("js"),
    ).collect()[0]
    assert row["gib"] == 16
    assert row["pct"] == 12884901888
    assert row["flag"] is True
    assert row["pad"] == "  7"
    assert row["fits"] is False
    assert row["js"] == '{"msg":"hi"}'


def test_text_functions(spark):
    df = spark.createDataFrame([("The quick brown fox. It is fast!",)], ["t"])
    row = df.select(
        text.token_count("t").alias("n"),
        text.bpe_ish_token_count("t").alias("bpe"),
        F.round(text.punct_ratio("t"), 3).alias("punct"),
        F.round(text.stopword_ratio("t"), 3).alias("sw"),
        text.lang_id("t").alias("lang"),
        text.fingerprint("t").alias("fp"),
        text.shingles("t", 2).alias("sh"),
    ).collect()[0]
    assert row["n"] == 7
    assert row["bpe"] >= 9  # words + punctuation pieces
    assert row["lang"] == "en"
    assert 0 < row["punct"] < 0.1
    assert row["sw"] > 0.2  # 'the', 'it', 'is'
    assert "the quick" in row["sh"]


def test_fingerprint_normalizes_whitespace(spark):
    df = spark.createDataFrame([("a  b\tc", "A b C")], ["x", "y"])
    row = df.select(
        (text.fingerprint("x") == text.fingerprint("y")).alias("same")
    ).collect()[0]
    assert row["same"] is True


def test_vector_math(spark):
    df = spark.createDataFrame([([1.0, 2.0, 2.0], [2.0, 4.0, 4.0])], ["a", "b"])
    row = df.select(
        vectors.dot("a", "b").alias("dot"),
        vectors.norm("a").alias("norm"),
        vectors.cosine("a", "b").alias("cos"),
        vectors.l2_distance("a", "b").alias("l2"),
    ).collect()[0]
    assert row["dot"] == 18.0
    assert row["norm"] == 3.0
    assert abs(row["cos"] - 1.0) < 1e-12
    assert abs(row["l2"] - 3.0) < 1e-12


def test_zero_norm_cosine_is_zero(spark):
    df = spark.createDataFrame([([0.0, 0.0], [1.0, 1.0])], ["a", "b"])
    assert df.select(vectors.cosine("a", "b").alias("c")).collect()[0]["c"] == 0.0


# --- multimodal ------------------------------------------------------------


def _media(spark):
    rows = [
        (1, b"fake-jpeg-bytes-1", "image/jpeg", None, None, 5000, None),
        (2, b"fake-mp4-bytes-22", "video/mp4", None, None, 12000, None),
    ]
    return spark.createDataFrame(rows, mm.MEDIA_SCHEMA)


def test_decode_metadata_deterministic(spark):
    media = _media(spark)
    a = {r["media_id"]: r for r in mm.decode_metadata(media).collect()}
    b = {r["media_id"]: r for r in mm.decode_metadata(media).collect()}
    assert a == b
    assert a[1]["width"] >= 16 and a[1]["channels"] == 3
    assert len(a[1]["pixel_digest"]) == 16


def test_sample_frames_counts(spark):
    frames = mm.sample_frames(_media(spark), every_ms=1000, max_frames=16)
    per = {
        r["media_id"]: r["n"]
        for r in frames.groupBy("media_id").agg(F.count("*").alias("n")).collect()
    }
    assert per == {1: 5, 2: 12}
    offs = [
        r["frame_offset_ms"]
        for r in frames.filter(F.col("media_id") == 1).collect()
    ]
    assert sorted(offs) == [0, 1000, 2000, 3000, 4000]


def test_payload_stats_jvm_only(spark):
    stats = mm.payload_stats(_media(spark))
    row = {r["media_id"]: r for r in stats.collect()}
    assert row[1]["n_bytes"] == len(b"fake-jpeg-bytes-1")
    assert len(row[1]["sha256"]) == 64
    # plan must not contain a Python eval node
    plan = stats._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_load_media_dir_binaryfile(spark, tmp_path):
    (tmp_path / "a.bin").write_bytes(b"payload-a")
    (tmp_path / "b.bin").write_bytes(b"bb")
    media = mm.load_media_dir(spark, str(tmp_path) + "/*.bin", mime="image/jpeg")
    rows = {r["uri"].split("/")[-1]: r for r in media.collect()}
    assert rows["a.bin"]["payload"] == b"payload-a"
    assert rows["b.bin"]["mime"] == "image/jpeg"
    # pipes into the decode stage unchanged
    decoded = mm.decode_metadata(media).collect()
    assert len(decoded) == 2 and all(d["channels"] == 3 for d in decoded)


def test_png_codec_all_filter_types_roundtrip():
    """Decoder must undo every PNG scanline filter (None/Sub/Up/Average/
    Paeth), not just the filter-0 rows our encoder emits."""
    import random
    import struct
    import zlib

    from db_migration_spark.multimodal import png_codec as pc

    w, h = 13, 7
    pix = bytes(random.Random(42).randrange(256) for _ in range(w * h * 3))
    assert bytes(pc.decode_png_pixels(pc.encode_png_rgb(w, h, pix))[3]) == pix

    def encode_with_filter(ftype):
        stride = w * 3
        rows, prev = [], bytearray(stride)
        for y in range(h):
            line = bytearray(pix[y * stride : (y + 1) * stride])
            filt = bytearray(stride)
            for i in range(stride):
                left = line[i - 3] if i >= 3 else 0
                up = prev[i]
                ul = prev[i - 3] if i >= 3 else 0
                pred = {
                    1: left,
                    2: up,
                    3: (left + up) >> 1,
                    4: pc._paeth(left, up, ul),
                }[ftype]
                filt[i] = (line[i] - pred) & 0xFF
            rows.append(bytes([ftype]) + bytes(filt))
            prev = line
        ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
        return (
            pc.PNG_SIGNATURE
            + pc._chunk(b"IHDR", ihdr)
            + pc._chunk(b"IDAT", zlib.compress(b"".join(rows)))
            + pc._chunk(b"IEND", b"")
        )

    for ftype in (1, 2, 3, 4):
        got = bytes(pc.decode_png_pixels(encode_with_filter(ftype))[3])
        assert got == pix, f"filter {ftype}"


def test_codec_channel_stats_cover_exactly_the_decoded_pixels():
    """Every codec decodes to exactly w·h·ch interleaved values, and its
    channel statistic is the per-channel sum (or mean) of that buffer."""
    import random

    from db_migration_spark.multimodal import bmp_codec, gif_codec
    from db_migration_spark.multimodal import jpeg_codec as J
    from db_migration_spark.multimodal import png_codec, qoi_codec

    w, h = 5, 3
    rgb = bytes(random.Random(7).randrange(256) for _ in range(w * h * 3))
    palette = bytes(random.Random(8).randrange(256) for _ in range(12))
    png = png_codec.encode_png_rgb(w, h, rgb)
    jpeg = J.encode_jpeg_gray_blocks(2, 1, [40, 200])
    gif = gif_codec.encode_gif(w, h, palette, bytes(i % 4 for i in range(w * h)))
    qoi = qoi_codec.encode_qoi(w, h, rgb)
    bmp = bmp_codec.encode_bmp_rgb(w, h, rgb)
    cases = [
        (png_codec.decode_png_pixels(png), png_codec.channel_means(png)),
        (J.decode_jpeg_pixels(jpeg), J.channel_means(jpeg)),
        ((w, h, 3, gif_codec.decode_gif(gif)[2]), gif_codec.channel_means(gif)),
        (qoi_codec.decode_qoi(qoi), qoi_codec.channel_means(qoi)),
    ]
    for (dw, dh, ch, pix), means in cases:
        assert len(pix) == dw * dh * ch
        assert means == (dw, dh, ch, [sum(pix[c::ch]) / (dw * dh) for c in range(ch)])
    sums = [sum(rgb[c::3]) for c in range(3)]
    assert qoi_codec.channel_sums(qoi) == (w, h, sums)
    dw, dh, ch, pix = bmp_codec.decode_bmp_pixels(bmp)
    assert len(pix) == dw * dh * ch
    assert bmp_codec.channel_sums(bmp) == (w, h, 3, sums)


def test_png_resize_real_kernel():
    from db_migration_spark.multimodal import png_codec as pc
    from db_migration_spark.multimodal.binary_ops import DeterministicFakeCodec

    # 2x2 quadrant image upscaled 2x: nearest-neighbor preserves quadrants
    quad = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255, 255, 255, 0])
    png = pc.encode_png_rgb(2, 2, quad)
    out = DeterministicFakeCodec.resize(png, 4, 4)
    w, h, ch, pix = pc.decode_png_pixels(out)
    assert (w, h, ch) == (4, 4, 3)
    assert bytes(pix[0:3]) == bytes([255, 0, 0])      # top-left quadrant
    assert bytes(pix[45:48]) == bytes([255, 255, 0])  # bottom-right quadrant


def test_wav_meta_roundtrip(spark):
    from db_migration_spark.multimodal.binary_ops import (
        decode_wav_meta,
        encode_wav_pcm16,
    )

    wav = encode_wav_pcm16(16000, bytes(2 * 2 * 800), n_channels=2)
    media = spark.createDataFrame([(7, wav)], "media_id LONG, payload BINARY")
    row = decode_wav_meta(media).collect()[0]
    assert (
        row["n_channels"],
        row["sample_rate"],
        row["n_frames"],
        row["duration_ms"],
    ) == (2, 16000, 800, 50.0)


def test_image_meta_sniffs_all_formats_and_unknowns():
    from db_migration_spark.multimodal.image_meta import (
        image_meta,
        make_bmp_header,
        make_gif_header,
        make_jpeg_header,
    )
    from db_migration_spark.multimodal.png_codec import encode_png_rgb

    assert image_meta(encode_png_rgb(5, 7, b"\x01" * 105)) == ("png", 5, 7)
    assert image_meta(make_jpeg_header(640, 480)) == ("jpeg", 640, 480)
    assert image_meta(make_gif_header(31, 17)) == ("gif", 31, 17)
    assert image_meta(make_bmp_header(12, 34)) == ("bmp", 12, 34)
    # JPEG with a leading APP0 segment before SOF0 (the common case)
    import struct

    jpeg = make_jpeg_header(99, 44)
    app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + bytes(9)
    assert image_meta(jpeg[:2] + app0 + jpeg[2:]) == ("jpeg", 99, 44)
    assert image_meta(b"\x00" * 64) == ("unknown", 0, 0)
    assert image_meta(None) == ("unknown", 0, 0)
    assert image_meta(b"BM") == ("unknown", 0, 0)  # truncated


# --- baseline JPEG codec (jpeg_codec.py) -----------------------------------


def test_jpeg_gray_roundtrip_bit_exact():
    from db_migration_spark.multimodal import jpeg_codec as J

    vals = [(5 * 37 + 11 * i) % 256 for i in range(12)]
    data = J.encode_jpeg_gray_blocks(4, 3, vals)
    w, h, ch, pix = J.decode_jpeg_pixels(data)
    assert (w, h, ch) == (32, 24, 1)
    for y in range(h):
        for x in range(w):
            assert pix[y * w + x] == vals[(y // 8) * 4 + (x // 8)]


def test_jpeg_restart_markers_reset_predictor():
    from db_migration_spark.multimodal import jpeg_codec as J

    vals = [(37 * i * i + 5) % 256 for i in range(12)]
    data = J.encode_jpeg_gray_blocks(4, 3, vals, restart_interval=5)
    assert b"\xff\xdd" in data and b"\xff\xd0" in data
    w, h, ch, pix = J.decode_jpeg_pixels(data)
    for y in range(h):
        for x in range(w):
            assert pix[y * w + x] == vals[(y // 8) * 4 + (x // 8)]


def _rgb_of(y, cb, cr):
    def cl(v):
        return 0 if v < 0 else (255 if v > 255 else int(round(v)))

    return (
        cl(y + 1.402 * (cr - 128)),
        cl(y - 0.344136 * (cb - 128) - 0.714136 * (cr - 128)),
        cl(y + 1.772 * (cb - 128)),
    )


def test_jpeg_color_444_and_420():
    from db_migration_spark.multimodal import jpeg_codec as J

    mcus = [(100, 90, 200), (50, 128, 128), (250, 30, 60), (0, 255, 0)]
    data = J.encode_jpeg_color_dc(2, 2, mcus, subsample=False)
    w, h, ch, pix = J.decode_jpeg_pixels(data)
    assert (w, h, ch) == (16, 16, 3)
    for y in range(h):
        for x in range(w):
            exp = _rgb_of(*mcus[(y // 8) * 2 + (x // 8)])
            assert tuple(pix[(y * w + x) * 3 :][:3]) == exp

    data = J.encode_jpeg_color_dc(2, 1, mcus[:2], subsample=True)
    w, h, ch, pix = J.decode_jpeg_pixels(data)
    assert (w, h, ch) == (32, 16, 3)  # 4:2:0 MCU is 16x16
    for y in range(h):
        for x in range(w):
            exp = _rgb_of(*mcus[x // 16])
            assert tuple(pix[(y * w + x) * 3 :][:3]) == exp


def test_jpeg_ac_coefficients_match_independent_idct():
    """Hand-build an entropy stream with NONZERO AC coefficients and check
    the decoded block against a from-scratch numpy IDCT — exercises the
    run-length/ZRL/EOB path and the IDCT, independently of the encoder."""
    import numpy as np

    from db_migration_spark.multimodal import jpeg_codec as J

    # zigzag-position -> quantized coefficient (incl. a long zero run)
    coefs = {0: 3, 1: -7, 5: 12, 8: -2, 40: 9}
    dc_enc = J._encode_table(J._DC_LUM_BITS, J._DC_LUM_VALS)
    ac_enc = J._encode_table(J._AC_LUM_BITS, J._AC_LUM_VALS)
    bw = J._BitWriter()

    def put_magnitude(v):
        s = v.bit_length() if v > 0 else (-v).bit_length()
        return s, (v if v > 0 else v + (1 << s) - 1)

    s, bits = put_magnitude(coefs[0])
    code, ln = dc_enc[s]
    bw.write(code, ln)
    bw.write(bits, s)
    k = 0
    for pos in sorted(p for p in coefs if p > 0):
        run = pos - k - 1
        while run >= 16:
            zc, zl = ac_enc[0xF0]  # ZRL
            bw.write(zc, zl)
            run -= 16
        s, bits = put_magnitude(coefs[pos])
        cc, cl_ = ac_enc[(run << 4) | s]
        bw.write(cc, cl_)
        bw.write(bits, s)
        k = pos
    ec, el = ac_enc[0x00]
    bw.write(ec, el)

    q = 8
    jpg = bytearray(b"\xff\xd8")
    jpg += J._seg(0xDB, bytes([0x00]) + bytes([q] * 64))
    jpg += J._seg(
        0xC0, bytes([8]) + (8).to_bytes(2, "big") + (8).to_bytes(2, "big")
        + bytes([1, 1, 0x11, 0])
    )
    jpg += J._seg(0xC4, bytes([0x00]) + bytes(J._DC_LUM_BITS) + bytes(J._DC_LUM_VALS))
    jpg += J._seg(0xC4, bytes([0x10]) + bytes(J._AC_LUM_BITS) + bytes(J._AC_LUM_VALS))
    jpg += J._seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
    jpg += bw.flush()
    jpg += b"\xff\xd9"

    w, h, ch, pix = J.decode_jpeg_pixels(bytes(jpg))
    assert (w, h, ch) == (8, 8, 1)

    # independent reference IDCT
    F2 = np.zeros((8, 8))
    for pos, v in coefs.items():
        nat = J.ZIGZAG[pos]
        F2[nat // 8][nat % 8] = v * q
    C = np.array([math.sqrt(0.5)] + [1.0] * 7)
    ref = np.zeros((8, 8))
    for y in range(8):
        for x in range(8):
            s = 0.0
            for v in range(8):
                for u in range(8):
                    s += (
                        C[u] * C[v] * F2[v][u]
                        * math.cos((2 * x + 1) * u * math.pi / 16)
                        * math.cos((2 * y + 1) * v * math.pi / 16)
                    )
            ref[y][x] = np.clip(round(s / 4) + 128, 0, 255)
    got = np.array(list(pix)).reshape(8, 8)
    assert (got == ref).all()


def test_jpeg_progressive_rejected():
    import pytest as _pytest

    from db_migration_spark.multimodal import jpeg_codec as J

    data = bytearray(J.encode_jpeg_gray_blocks(1, 1, [100]))
    i = data.index(b"\xff\xc0")
    data[i + 1] = 0xC2  # flip SOF0 -> SOF2 (progressive)
    with _pytest.raises(NotImplementedError):
        J.decode_jpeg_pixels(bytes(data))


def test_jpeg_decode_through_codec_seam(spark):
    """decode_metadata routes JPEG payloads through the REAL decoder."""
    from db_migration_spark.multimodal import binary_ops as B
    from db_migration_spark.multimodal import jpeg_codec as J

    payload = J.encode_jpeg_gray_blocks(2, 1, [10, 250])
    media = spark.createDataFrame(
        [(1, bytearray(payload))], "media_id LONG, payload BINARY"
    )
    row = B.decode_metadata(media).collect()[0]
    assert (row["width"], row["height"], row["channels"]) == (16, 8, 1)
    import hashlib

    _, _, _, pix = J.decode_jpeg_pixels(payload)
    assert row["pixel_digest"] == hashlib.sha256(bytes(pix)).hexdigest()[:16]


# --- sample-level WAV stats + MP4 container metadata ------------------------


def test_wav_sample_stats_silence_and_square(spark):
    import struct

    from db_migration_spark.multimodal import binary_ops as B

    silence = B.encode_wav_pcm16(8000, bytes(2 * 100))
    # square wave: +100 / -100 alternating → zero crossing at every step
    sq = struct.pack("<200h", *([100, -100] * 100))
    square = B.encode_wav_pcm16(8000, sq)
    media = spark.createDataFrame(
        [(1, bytearray(silence)), (2, bytearray(square))],
        "media_id LONG, payload BINARY",
    )
    rows = {r["media_id"]: r for r in B.decode_wav_sample_stats(media).collect()}
    assert rows[1]["rms"] == 0.0 and rows[1]["peak"] == 0
    assert rows[1]["zero_crossings"] == 0
    assert rows[2]["rms"] == 100.0 and rows[2]["peak"] == 100
    assert rows[2]["zero_crossings"] == 199


def test_mp4_box_walk_both_mvhd_versions():
    from db_migration_spark.multimodal import mp4_meta as M

    for ver in (0, 1):
        data = M.encode_minimal_mp4(
            timescale=90000, duration=450000, n_tracks=2, version=ver
        )
        brand, ts, dur_ms, n_trk = M.parse_mp4_meta(data)
        assert (brand, ts, n_trk) == ("isom", 90000, 2)
        assert dur_ms == 5000.0

    import pytest as _pytest

    with _pytest.raises(ValueError):
        M.parse_mp4_meta(b"\x00" * 64)
    # truncated box table must not loop or crash
    data = M.encode_minimal_mp4(1000, 1000, 1)
    with _pytest.raises(ValueError):
        M.parse_mp4_meta(data[:20])


def test_jpeg_to_png_transcode_and_resize_pixel_exact():
    from db_migration_spark.multimodal import binary_ops as B
    from db_migration_spark.multimodal import jpeg_codec as J
    from db_migration_spark.multimodal import png_codec as P

    vals = [(7 * 37 + 11 * i) % 256 for i in range(6)]
    jpg = J.encode_jpeg_gray_blocks(3, 2, vals)
    png = B.DeterministicFakeCodec.transcode_to_png(jpg)
    assert P.is_png(png)
    w, h, ch, pix = P.decode_png_pixels(png)
    assert (w, h, ch) == (24, 16, 3)
    _, _, _, jpix = J.decode_jpeg_pixels(jpg)
    assert bytes(pix) == bytes(b for p in jpix for b in (p, p, p))

    # resize routes the JPEG through the real decode, result is a PNG
    half = B.DeterministicFakeCodec.resize(jpg, 12, 8)
    hw, hh, hch, hpix = P.decode_png_pixels(half)
    assert (hw, hh, hch) == (12, 8, 3)
    # nearest-neighbor of flat 8x8 blocks: each 4x4 output block is flat
    # with the source block's value
    for y in range(hh):
        for x in range(hw):
            assert hpix[(y * hw + x) * 3] == vals[(y // 4) * 3 + (x // 4)]


def test_tiff_both_endiannesses_roundtrip():
    from db_migration_spark.multimodal.tiff_meta import (
        decode_tiff_meta,
        encode_tiff_header,
    )

    for be in (False, True):
        m = decode_tiff_meta(
            encode_tiff_header(640, 480, 8, 3, 5, big_endian=be)
        )
        assert (m["width"], m["height"]) == (640, 480)
        assert m["compression"] == 5 and m["big_endian"] is be


def test_mp3_syncsafe_size_boundaries():
    from db_migration_spark.multimodal.mp3_meta import (
        decode_mp3_meta,
        encode_mp3_fixture,
    )

    # sizes crossing each 7-bit byte boundary — the off-by-8th-bit trap
    for size in (0, 127, 128, 16383, 16384, 2097151):
        m = decode_mp3_meta(encode_mp3_fixture(size, 9, 0, True))
        assert m["id3_size"] == size, size
    assert decode_mp3_meta(encode_mp3_fixture(10, 14, 2, False)) == {
        "id3_size": 10,
        "bitrate_kbps": 320,
        "sample_rate": 32000,
        "mono": False,
    }
