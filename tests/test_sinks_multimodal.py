"""Batch sinks, multimodal plumbing, and simulated generators."""

import glob
import json

import pytest
from pyspark.sql import functions as F

from big_data_crypto_sentiment_spark.operators.multimodal import (
    decode_media,
    extract_media_features,
    fake_decode,
    sample_frames,
)
from big_data_crypto_sentiment_spark.schemas import MEDIA_SCHEMA
from big_data_crypto_sentiment_spark.sinks import bulk_jsonl, write_warehouse
from big_data_crypto_sentiment_spark.sources.generators import (
    PRICE_BASES,
    simulated_prices,
    simulated_ta,
)


@pytest.fixture(scope="module")
def media_df(spark):
    rows = [
        (1, "image", b"\x89PNG\r\nfakepayload", "image/png", None, None, None),
        (2, "audio", b"RIFFfakewav", "audio/wav", None, None, 4000),
        (3, "video", b"\x00\x00\x00 ftypmp4", "video/mp4", None, None, 60000),
        (4, "image", b"", "image/png", None, None, None),
    ]
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def test_warehouse_partitioned_write_prunes(spark, tmp_path):
    ev = (spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
          .select("o_orderkey", "o_orderdate", "o_totalprice"))
    out = str(tmp_path / "wh")
    write_warehouse(ev, out, date_col="o_orderdate")
    back = spark.read.parquet(out)
    assert back.count() == ev.count()
    one_day = back.filter(F.col("date") == "1995-01-01")
    plan = one_day._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan  # date partition actually prunes


def test_bucketed_join_has_no_exchange(spark):
    """Two tables bucketed on the same key join with zero shuffles —
    the co-located-join layout for hot keys at scale."""
    from big_data_crypto_sentiment_spark.sinks import write_bucketed
    ev = (spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
          .select("o_orderkey", "o_custkey", "o_totalprice"))
    cust = (spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
            .select("c_custkey", "c_name"))
    write_bucketed(ev, "b_orders", ("o_custkey",), n_buckets=8)
    write_bucketed(cust.withColumnRenamed("c_custkey", "o_custkey"),
                   "b_cust", ("o_custkey",), n_buckets=8)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("b_orders").join(spark.table("b_cust"),
                                              "o_custkey")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        # sort-merge join rides the bucket layout: no shuffle of any kind
        assert "Exchange" not in plan
        assert "Bucketed: true" in plan
        assert joined.count() == ev.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_bulk_jsonl_chunks_and_counts(spark, tmp_path):
    df = spark.range(2500).select(F.col("id"),
                                  (F.col("id") * 2).alias("v"))
    out = str(tmp_path / "docs")
    bulk_jsonl(df.repartition(3), out)
    files = glob.glob(f"{out}/part-*.jsonl")
    assert len(files) == 3
    n = sum(1 for p in files for _ in open(p))
    assert n == 2500
    with open(files[0]) as f:
        doc = json.loads(next(f))
    assert set(doc) == {"id", "v"}


def test_media_features_deterministic_and_stubbed(media_df):
    out = {r.media_id: r for r in extract_media_features(media_df).collect()}
    assert out[1].magic == "89504e47"          # PNG magic survives
    assert out[4].n_bytes == 0
    w, h = fake_decode(b"\x89PNG\r\nfakepayload")
    assert (out[1].decoded_width, out[1].decoded_height) == (w, h)
    assert all(r.decode_status == "fake" for r in out.values())
    # real-codec path reports stubbed, never crashes
    stubbed = {r.media_id: r for r in
               extract_media_features(media_df, use_real_codec=True).collect()}
    assert all(r.decode_status == "stubbed" for r in stubbed.values())


def test_decode_media_is_explicitly_unimplemented():
    # formats whose metadata needs an entropy decoder stay stubbed
    with pytest.raises(NotImplementedError):
        decode_media(b"xx", "image")


def _png(w, h):
    import struct
    return (b"\x89PNG\r\n\x1a\n" + struct.pack(">I", 13) + b"IHDR"
            + struct.pack(">II", w, h) + b"\x08\x02\x00\x00\x00")


def _wav(byte_rate, data_size):
    import struct
    fmt = struct.pack("<HHIIHH", 1, 2, 44100, byte_rate, 4, 16)
    return (b"RIFF" + struct.pack("<I", 36 + data_size) + b"WAVE"
            + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", data_size))


def test_decode_media_parses_real_container_headers(spark):
    """Fixed-offset header parsing against spec-built real bytes:
    PNG IHDR, GIF logical screen, BMP info header (incl. top-down
    negative height), WAV fmt/data chunk walk — all through the full
    mapInPandas path with use_real_codec=True."""
    import struct
    gif = b"GIF89a" + struct.pack("<HH", 320, 200) + b"\x00" * 5
    bmp = b"BM" + b"\x00" * 16 + struct.pack("<ii", 800, -600)
    rows = [
        (1, "image", _png(640, 480), "image/png", None, None, None),
        (2, "image", gif, "image/gif", None, None, None),
        (3, "image", bmp, "image/bmp", None, None, None),
        (4, "audio", _wav(176400, 352800), "audio/wav", None, None, None),
        (5, "image", b"\x89PNG\r\n\x1a\n\x00\x00", "image/png",
         None, None, None),                              # truncated PNG
        (6, "video", b"\x00\x00\x00 ftypmp4", "video/mp4",
         None, None, 60000),                             # no mp4 parser
    ]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = {r.media_id: r for r in
           extract_media_features(df, use_real_codec=True).collect()}
    assert (out[1].decoded_width, out[1].decoded_height) == (640, 480)
    assert (out[2].decoded_width, out[2].decoded_height) == (320, 200)
    assert (out[3].decoded_width, out[3].decoded_height) == (800, 600)
    assert out[4].decoded_duration_ms == 2000  # 352800 B / 176400 B/s
    assert (out[4].decoded_width, out[4].decoded_height) == (None, None)
    assert all(out[i].decode_status == "decoded" for i in (1, 2, 3, 4))
    assert out[5].decode_status == "corrupt"
    assert out[6].decode_status == "stubbed"  # honest fallback survives


def _jpeg(w, h):
    import struct
    # SOI, APP0 (JFIF stub), DQT (skipped by length), SOF0, EOI
    app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + b"\x00" * 9
    dqt = b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" * 65
    sof = (b"\xff\xc0" + struct.pack(">H", 11) + b"\x08"
           + struct.pack(">HH", h, w) + b"\x01\x11\x00")
    return b"\xff\xd8" + app0 + dqt + sof + b"\xff\xd9"


def _mp4(timescale, duration, w, h):
    import struct

    def box(btype, body):
        return struct.pack(">I", 8 + len(body)) + btype + body

    mvhd = box(b"mvhd", b"\x00\x00\x00\x00" + b"\x00" * 8
               + struct.pack(">II", timescale, duration) + b"\x00" * 80)
    # v0 tkhd body: fullbox(4) + cre/mod/id/res/dur(20) + res(8)
    # + layer/alt/vol/res(8) + matrix(36) = 76, then width/height
    tkhd = box(b"tkhd", b"\x00\x00\x00\x07" + b"\x00" * 72
               + struct.pack(">II", w << 16, h << 16))
    moov = box(b"moov", mvhd + box(b"trak", tkhd))
    ftyp = box(b"ftyp", b"isom\x00\x00\x02\x00isomiso2")
    return ftyp + moov


def test_decode_media_jpeg_sof_walk_and_mp4_box_walk():
    """JPEG SOF and ISO-BMFF box parsing on spec-built bytes — pure
    structure walks, never touching entropy-coded payload."""
    import pytest as _pytest
    from big_data_crypto_sentiment_spark.operators.multimodal import (
        decode_media,
    )
    m = decode_media(_jpeg(1024, 768), "image")
    assert (m["width"], m["height"]) == (1024, 768)
    m = decode_media(_mp4(1000, 90_500, 1920, 1080), "video")
    assert m["duration_ms"] == 90_500 and (m["width"], m["height"]) \
        == (1920, 1080)
    # marker desync inside a recognized JPEG -> corrupt, not fake
    with _pytest.raises(ValueError):
        decode_media(b"\xff\xd8\x00\x00\x00\x00", "image")
    # truncated ftyp-only MP4 (no moov) -> corrupt
    with _pytest.raises(ValueError):
        decode_media(_mp4(1000, 1, 1, 1)[:16], "video")


def test_mp4_audio_track_does_not_clobber_video_dimensions():
    """Multi-track file with the audio track's 0x0 tkhd AFTER the
    video track: the first nonzero dimensions win."""
    import struct

    from big_data_crypto_sentiment_spark.operators.multimodal import (
        decode_media,
    )

    def box(btype, body):
        return struct.pack(">I", 8 + len(body)) + btype + body

    mvhd = box(b"mvhd", b"\x00\x00\x00\x00" + b"\x00" * 8
               + struct.pack(">II", 1000, 5000) + b"\x00" * 80)

    def tkhd(w, h):
        return box(b"tkhd", b"\x00\x00\x00\x07" + b"\x00" * 72
                   + struct.pack(">II", w << 16, h << 16))

    moov = box(b"moov", mvhd + box(b"trak", tkhd(640, 480))
               + box(b"trak", tkhd(0, 0)))
    ftyp = box(b"ftyp", b"isom\x00\x00\x02\x00isomiso2")
    m = decode_media(ftyp + moov, "video")
    assert (m["width"], m["height"]) == (640, 480)
    # audio-first ordering also resolves to the video track
    moov2 = box(b"moov", mvhd + box(b"trak", tkhd(0, 0))
                + box(b"trak", tkhd(640, 480)))
    m2 = decode_media(ftyp + moov2, "video")
    assert (m2["width"], m2["height"]) == (640, 480)


def test_frame_sampling_offsets(media_df):
    rows = sample_frames(media_df, n_frames=4).collect()
    assert len(rows) == 1
    assert rows[0].frame_offsets_ms == [0, 15000, 30000, 45000]


def test_simulated_prices_bounded_and_deterministic(spark):
    a = simulated_prices(spark, 400).toPandas()
    b = simulated_prices(spark, 400).toPandas()
    assert a.equals(b)  # same seed → identical
    for sym, base in PRICE_BASES.items():
        vals = a[a["symbol"] == sym]["price"]
        assert ((vals >= base * 0.95) & (vals <= base * 1.05)).all()


def test_simulated_ta_rsi_clamped(spark):
    pdf = simulated_ta(spark, 400).toPandas()
    assert ((pdf["rsi"] >= 0.0) & (pdf["rsi"] <= 100.0)).all()
    assert (pdf["rsi"] == 0.0).any() or (pdf["rsi"] == 100.0).any()


def test_compact_parquet_collapses_small_files(spark, tmp_path):
    from big_data_crypto_sentiment_spark.sinks import compact_parquet

    path = str(tmp_path / "frag")
    # 20 tiny appends -> >=20 fragment files
    for i in range(20):
        spark.range(i * 10, (i + 1) * 10).coalesce(1) \
             .write.mode("append").parquet(path)
    import os
    frags = [f for f in os.listdir(path) if f.endswith(".parquet")]
    assert len(frags) >= 20
    before = sorted(r.id for r in spark.read.parquet(path).collect())

    n = compact_parquet(spark, path, target_bytes=1 << 30)
    files = [f for f in os.listdir(path) if f.endswith(".parquet")]
    assert n == 1 and len(files) == 1          # tiny data -> one file
    after = sorted(r.id for r in spark.read.parquet(path).collect())
    assert after == before == list(range(200))  # nothing lost or doubled


def test_resize_images_fake_dims_and_stub_payload(media_df):
    import hashlib
    import struct

    from big_data_crypto_sentiment_spark.operators.multimodal import (
        RESIZE_STUB_MAGIC,
        resize_images,
    )
    out = {r.media_id: r for r in resize_images(media_df).collect()}
    assert set(out) == {1, 4}                  # images only
    for payload, r in ((b"\x89PNG\r\nfakepayload", out[1]), (b"", out[4])):
        w, h = fake_decode(payload)
        assert (r.src_width, r.src_height) == (w, h)
        m = max(w, h)
        if m > 224:
            assert (r.width, r.height) == (max(1, w * 224 // m),
                                           max(1, h * 224 // m))
            assert r.resized
        else:
            assert (r.width, r.height) == (w, h) and not r.resized
        assert bytes(r.payload) == (RESIZE_STUB_MAGIC
                                    + struct.pack(">II", r.width, r.height)
                                    + hashlib.sha256(payload).digest())
        assert r.resize_status == "fake-dims"
    # deterministic across runs/partitionings
    again = {r.media_id: bytes(r.payload)
             for r in resize_images(media_df.repartition(4)).collect()}
    assert again == {k: bytes(v.payload) for k, v in out.items()}


def test_resize_images_real_codec_math(spark):
    from big_data_crypto_sentiment_spark.operators.multimodal import (
        resize_images,
    )
    rows = [
        (1, "image", _png(640, 480), "image/png", None, None, None),
        (2, "image", _png(100, 50), "image/png", None, None, None),
        (3, "image", _png(2000, 1), "image/png", None, None, None),
    ]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = {r.media_id: r for r in
           resize_images(df, use_real_codec=True).collect()}
    assert (out[1].width, out[1].height) == (224, 168)   # 640x480 scaled
    assert out[1].resized and out[1].resize_status == "decoded-dims"
    assert (out[2].width, out[2].height) == (100, 50)    # never upscale
    assert not out[2].resized
    assert (out[3].width, out[3].height) == (224, 1)     # floor at 1


def test_resize_images_dimensionless_decode_falls_back(spark):
    # a container can decode WITHOUT dimensions (a WAV mislabeled as
    # image): the real-codec path must fall back to fake dims instead
    # of max(None, None)
    from big_data_crypto_sentiment_spark.operators.multimodal import (
        resize_images,
    )
    wav = _wav(176400, 352800)
    df = spark.createDataFrame(
        [(1, "image", wav, "audio/wav", None, None, None)], MEDIA_SCHEMA)
    (r,) = resize_images(df, use_real_codec=True).collect()
    fw, fh = fake_decode(wav)
    assert (r.src_width, r.src_height) == (fw, fh)
    assert r.resize_status == "fake-dims"


# --- r11: real PNG/BMP pixel decode + true area resample ------------


def _spec_png(img, filters):
    """Build a PNG from a (h, w, 3) uint8 array INDEPENDENTLY of
    encode_png: forward-apply the given per-row filter types exactly as
    PNG spec §9 defines them, deflate, and assemble CRC'd chunks — so
    the decoder is tested against the spec, not against our encoder."""
    import struct
    import zlib

    h, w, ch = img.shape
    raw = bytearray()
    prev = [0] * (w * ch)
    for y, ftype in zip(range(h), filters):
        cur = [int(v) for v in img[y].reshape(-1)]
        raw.append(ftype)
        for x in range(w * ch):
            left = cur[x - ch] if x >= ch else 0
            up = prev[x]
            upleft = prev[x - ch] if x >= ch else 0
            if ftype == 0:
                pred = 0
            elif ftype == 1:
                pred = left
            elif ftype == 2:
                pred = up
            elif ftype == 3:
                pred = (left + up) // 2
            else:                       # paeth
                p = left + up - upleft
                pa, pb, pc = (abs(p - left), abs(p - up),
                              abs(p - upleft))
                pred = left if (pa <= pb and pa <= pc) \
                    else (up if pb <= pc else upleft)
            raw.append((cur[x] - pred) & 0xFF)
        prev = cur

    def chunk(ctype, data):
        return (struct.pack(">I", len(data)) + ctype + data
                + struct.pack(">I", zlib.crc32(ctype + data)))

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(bytes(raw)))
            + chunk(b"IEND", b""))


def test_png_pixel_decode_all_five_filter_types():
    import numpy as np

    from big_data_crypto_sentiment_spark.operators.multimodal import (
        decode_png_pixels,
    )
    rng = np.arange(5 * 3 * 3, dtype=np.int64)
    img = ((rng * 37 + 11) % 256).astype(np.uint8).reshape(5, 3, 3)
    payload = _spec_png(img, filters=[0, 1, 2, 3, 4])
    got = decode_png_pixels(payload)
    assert got.shape == (5, 3, 3)
    assert (got == img).all()


def test_png_decode_rejects_corruption_and_gates_unsupported():
    import struct
    import zlib

    import numpy as np
    import pytest as _pytest

    from big_data_crypto_sentiment_spark.operators.multimodal import (
        decode_png_pixels,
    )
    img = np.zeros((2, 2, 3), dtype=np.uint8)
    good = _spec_png(img, [0, 0])
    # flip one IDAT byte -> CRC mismatch -> ValueError (corrupt)
    bad = bytearray(good)
    idat_at = good.index(b"IDAT") + 4
    bad[idat_at] ^= 0xFF
    with _pytest.raises(ValueError):
        decode_png_pixels(bytes(bad))
    # palette PNG decodes for real as of r12 — but one WITHOUT a PLTE
    # chunk is structurally invalid -> ValueError (corrupt tier)
    def chunk(ctype, data):
        return (struct.pack(">I", len(data)) + ctype + data
                + struct.pack(">I", zlib.crc32(ctype + data)))
    pal = (b"\x89PNG\r\n\x1a\n"
           + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 3, 0, 0, 0))
           + chunk(b"IDAT", zlib.compress(b"\x00\x00\x00\x00\x00\x00"))
           + chunk(b"IEND", b""))
    with _pytest.raises(ValueError):
        decode_png_pixels(pal)
    # an illegal depth/colour combination (depth 2 truecolour) is
    # spec-invalid -> ValueError (the full LEGAL matrix decodes as of
    # r12 — see test_png_palette_interlace.py)
    deep = (b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 2, 2,
                                         0, 0, 0))
            + chunk(b"IDAT", zlib.compress(b"\x00" * 26))
            + chunk(b"IEND", b""))
    with _pytest.raises(ValueError):
        decode_png_pixels(deep)


def test_png_encode_decode_roundtrip_bit_exact():
    import numpy as np

    from big_data_crypto_sentiment_spark.operators.multimodal import (
        decode_png_pixels,
        encode_png,
    )
    for ch in (1, 2, 3, 4):
        rng = np.arange(4 * 5 * ch, dtype=np.int64)
        img = ((rng * 97 + 3) % 256).astype(np.uint8).reshape(4, 5, ch)
        back = decode_png_pixels(encode_png(img))
        assert back.shape == img.shape and (back == img).all()


def test_bmp_pixel_decode_bottom_up_bgr_and_padding():
    import struct

    import numpy as np

    from big_data_crypto_sentiment_spark.operators.multimodal import (
        decode_bmp_pixels,
    )
    # 2x2 24-bit: rows stored bottom-up, 6 data bytes padded to 8,
    # channel order BGR on disk
    top = [(255, 0, 0), (0, 255, 0)]       # RGB we expect back
    bottom = [(0, 0, 255), (10, 20, 30)]
    def row(px):
        return b"".join(bytes((b, g, r)) for (r, g, b) in px) + b"\x00\x00"
    pixel_data = row(bottom) + row(top)    # bottom-up
    header = (b"BM" + struct.pack("<IHHI", 54 + len(pixel_data), 0, 0, 54)
              + struct.pack("<IiiHHIIiiII", 40, 2, 2, 1, 24, 0,
                            len(pixel_data), 2835, 2835, 0, 0))
    img = decode_bmp_pixels(header + pixel_data)
    assert img.shape == (2, 2, 3)
    assert [tuple(img[0, x]) for x in range(2)] == top
    assert [tuple(img[1, x]) for x in range(2)] == bottom
    expect = np.array([top, bottom], dtype=np.uint8)
    assert (img == expect).all()


def test_area_resample_closed_form_values():
    import numpy as np

    from big_data_crypto_sentiment_spark.operators.multimodal import (
        area_resample,
    )
    # 2x2 checkerboard -> 1x1: exact mean 127.5, half-up -> 128
    board = np.array([[[0], [255]], [[255], [0]]], dtype=np.uint8)
    assert area_resample(board, 1, 1)[0, 0, 0] == 128
    # 4x4 quadrants -> 2x2: each output IS its quadrant mean, exactly
    q = np.zeros((4, 4, 1), dtype=np.uint8)
    q[:2, :2], q[:2, 2:], q[2:, :2], q[2:, 2:] = 10, 20, 30, 40
    out = area_resample(q, 2, 2)
    assert [[out[0,0,0], out[0,1,0]], [out[1,0,0], out[1,1,0]]] \
        == [[10, 20], [30, 40]]
    # non-integer ratio 3 -> 2: cell 0 covers [0, 1.5) so its value is
    # (x0 + 0.5*x1) / 1.5 — pin one fractional-coverage case end to end
    tri = np.array([[[0], [90], [240]]], dtype=np.uint8)
    out = area_resample(tri, 2, 1)
    assert out[0, 0, 0] == 30      # (0 + 45) / 1.5
    assert out[0, 1, 0] == 190     # (45 + 240) / 1.5


def test_resize_images_real_resample_emits_real_png(spark):
    import numpy as np

    from big_data_crypto_sentiment_spark.operators.multimodal import (
        area_resample,
        decode_png_pixels,
        encode_png,
        resize_images,
    )
    from big_data_crypto_sentiment_spark.schemas import MEDIA_SCHEMA
    q = np.zeros((4, 4, 3), dtype=np.uint8)
    q[:2, :2], q[:2, 2:], q[2:, :2], q[2:, 2:] = 10, 20, 30, 40
    src = encode_png(q)
    rows = [(1, "image", src, "image/png", None, None, None)]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)

    # shrink: real resample, output is a REAL decodable PNG
    (r,) = resize_images(df, max_dim=2, use_real_codec=True).collect()
    assert r.resize_status == "resampled" and r.resized
    assert (r.src_width, r.src_height, r.width, r.height) == (4, 4, 2, 2)
    back = decode_png_pixels(bytes(r.payload))
    assert (back == area_resample(q, 2, 2)).all()
    assert back[0, 0, 0] == 10 and back[1, 1, 0] == 40

    # already fits: payload passes through untouched
    (p,) = resize_images(df, max_dim=224, use_real_codec=True).collect()
    assert p.resize_status == "passthrough" and not p.resized
    assert bytes(p.payload) == src

    # entropy-coded formats keep the documented marker-stub tier
    jpg_rows = [(2, "image", _jpeg(1024, 768), "image/jpeg",
                 None, None, None)]
    jdf = spark.createDataFrame(jpg_rows, MEDIA_SCHEMA)
    (j,) = resize_images(jdf, use_real_codec=True).collect()
    from big_data_crypto_sentiment_spark.operators.multimodal import (
        RESIZE_STUB_MAGIC,
    )
    assert j.resize_status == "decoded-dims"
    assert bytes(j.payload).startswith(RESIZE_STUB_MAGIC)


# --- r11 stretch: real GIF pixel decode (LZW) ------------------------


def _lzw_encode(indices, mcs):
    """Spec-forward GIF LZW encoder, written independently of the
    decoder: dictionary of index strings, clear code first, variable
    code width LSB-first."""
    clear, end = 1 << mcs, (1 << mcs) + 1
    table = {(i,): i for i in range(1 << mcs)}
    next_code, width = end + 1, mcs + 1
    codes = [(clear, width)]
    buf = ()
    for sym in indices:
        cand = buf + (sym,)
        if cand in table:
            buf = cand
            continue
        codes.append((table[buf], width))
        table[cand] = next_code
        next_code += 1
        if next_code == (1 << width) + 1 and width < 12:
            # the decoder's insertions lag the encoder's by one code
            # (it can only insert after READING the next code), so the
            # encoder grows the width one table entry LATER than the
            # decoder's next_code == 2^width rule
            width += 1
        buf = (sym,)
    if buf:
        codes.append((table[buf], width))
    codes.append((end, width))
    out, acc, nacc = bytearray(), 0, 0
    for code, w in codes:
        acc |= code << nacc
        nacc += w
        while nacc >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nacc -= 8
    if nacc:
        out.append(acc & 0xFF)
    return bytes(out)


def _gif(w, h, indices, palette, interlace=False, mcs=2):
    import struct
    gct_bits = 1  # 4-entry global color table
    pal = bytearray()
    for r, g, b in palette:
        pal += bytes((r, g, b))
    while len(pal) < 3 * (2 << gct_bits):
        pal += b"\x00\x00\x00"
    lzw = _lzw_encode(indices, mcs)
    blocks = bytearray()
    for i in range(0, len(lzw), 255):
        part = lzw[i:i + 255]
        blocks += bytes((len(part),)) + part
    return (b"GIF89a" + struct.pack("<HH", w, h)
            + bytes((0x80 | gct_bits, 0, 0)) + bytes(pal)
            + b"\x2C" + struct.pack("<HHHH", 0, 0, w, h)
            + bytes((0x40 if interlace else 0,))
            + bytes((mcs,)) + bytes(blocks) + b"\x00" + b"\x3B")


PALETTE = [(255, 0, 0), (0, 255, 0), (0, 0, 255), (9, 8, 7)]


def test_gif_pixel_decode_lzw_and_palette():
    import numpy as np

    from big_data_crypto_sentiment_spark.operators.multimodal import (
        decode_gif_pixels,
    )
    # 4x3 image with repetition so LZW actually builds dictionary
    # entries (and one KwKwK-triggering run of equal symbols)
    idx = [0, 1, 2, 3,
           0, 1, 2, 3,
           2, 2, 2, 2]
    img = decode_gif_pixels(_gif(4, 3, idx, PALETTE))
    assert img.shape == (3, 4, 3)
    want = np.array([[PALETTE[i] for i in idx[r*4:(r+1)*4]]
                     for r in range(3)], dtype=np.uint8)
    assert (img == want).all()


def test_gif_interlaced_rows_are_reordered():
    import numpy as np

    from big_data_crypto_sentiment_spark.operators.multimodal import (
        decode_gif_pixels,
    )
    h = 10
    # one color per DISPLAY row; stored order is the 4-pass schedule
    display_rows = list(range(0, h, 8)) + list(range(4, h, 8)) \
        + list(range(2, h, 4)) + list(range(1, h, 2))
    idx = []
    for dr in display_rows:
        idx += [dr % 4, dr % 4]          # 2-wide rows
    img = decode_gif_pixels(_gif(2, h, idx, PALETTE, interlace=True))
    for r in range(h):
        assert tuple(img[r, 0]) == PALETTE[r % 4], r


def test_gif_corruption_and_resize_tiering():
    import pytest as _pytest

    from big_data_crypto_sentiment_spark.operators.multimodal import (
        decode_gif_pixels,
    )
    good = _gif(4, 3, [0] * 12, PALETTE)
    with _pytest.raises(ValueError):       # truncated LZW stream
        decode_gif_pixels(good[:-6])
    # no color table -> NotImplementedError (header tier)
    import struct
    no_ct = (b"GIF89a" + struct.pack("<HH", 2, 2) + bytes((0, 0, 0))
             + b"\x2C" + struct.pack("<HHHH", 0, 0, 2, 2) + b"\x00"
             + b"\x02\x01\x44\x00\x3B")
    with _pytest.raises(NotImplementedError):
        decode_gif_pixels(no_ct)


def test_resize_images_resamples_real_gif(spark):
    from big_data_crypto_sentiment_spark.operators.multimodal import (
        decode_png_pixels,
        resize_images,
    )
    from big_data_crypto_sentiment_spark.schemas import MEDIA_SCHEMA
    # 4x4 quadrants via palette indices -> 2x2 exact quadrant colors
    idx = [0, 0, 1, 1,
           0, 0, 1, 1,
           2, 2, 3, 3,
           2, 2, 3, 3]
    gif = _gif(4, 4, idx, PALETTE)
    df = spark.createDataFrame(
        [(1, "image", gif, "image/gif", None, None, None)], MEDIA_SCHEMA)
    (r,) = resize_images(df, max_dim=2, use_real_codec=True).collect()
    assert r.resize_status == "resampled"
    back = decode_png_pixels(bytes(r.payload))
    assert back.shape == (2, 2, 3)
    assert tuple(back[0, 0]) == PALETTE[0]
    assert tuple(back[0, 1]) == PALETTE[1]
    assert tuple(back[1, 0]) == PALETTE[2]
    assert tuple(back[1, 1]) == PALETTE[3]


# --- r11 stretch: real baseline JPEG decode (Huffman + IDCT) ---------


def _dct_matrix():
    import numpy as np
    k = np.arange(8)[:, None]
    n = np.arange(8)[None, :]
    return np.cos((2 * n + 1) * k * np.pi / 16) \
        * np.where(k == 0, np.sqrt(1 / 8), np.sqrt(2 / 8))


def _fixed_len_huff(symbols):
    """Canonical table giving every used symbol one fixed length L
    (2^L > nsym so the all-ones code is never assigned)."""
    syms = sorted(set(symbols))
    L = max(2, (len(syms) + 1 - 1).bit_length())
    while (1 << L) <= len(syms):
        L += 1
    counts = [0] * 16
    counts[L - 1] = len(syms)
    codes = {s: (L, i) for i, s in enumerate(syms)}
    return counts, syms, codes


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def put(self, val, nbits):
        for i in range(nbits - 1, -1, -1):
            self.acc = (self.acc << 1) | ((val >> i) & 1)
            self.n += 1
            if self.n == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:
                    self.out.append(0x00)      # byte stuffing
                self.acc, self.n = 0, 0

    def align_ones(self):
        while self.n:
            self.put(1, 1)


def _quantize_ref(img, q=16, subsample=False):
    """Shared front half of the test-side JPEG encoders: YCbCr
    convert, optional 4:2:0 mean-downsample, FDCT + flat-table
    quantize, and the reference reconstruction a correct decoder must
    output. Returns (comps, quantized, ref, mcux, mcuy, qtab,
    hmax, vmax)."""
    import numpy as np

    C = _dct_matrix()
    h, w = img.shape[:2]
    r, g, b = (img[:, :, i].astype(np.float64) for i in range(3))
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
    if subsample:
        comps = [("Y", y, 2, 2), ("Cb", _mean2(cb), 1, 1),
                 ("Cr", _mean2(cr), 1, 1)]
    else:
        comps = [("Y", y, 1, 1), ("Cb", cb, 1, 1), ("Cr", cr, 1, 1)]
    hmax = max(c[2] for c in comps)
    vmax = max(c[3] for c in comps)
    mcux, mcuy = -(-w // (8 * hmax)), -(-h // (8 * vmax))
    qtab = np.full((8, 8), q, dtype=np.int64)

    # pad planes to MCU grid (edge replicate) and quantize blockwise
    quantized = {}
    for name, plane, ch, cv in comps:
        ph, pw = mcuy * cv * 8, mcux * ch * 8
        pl = np.zeros((ph, pw))
        sh, sw = plane.shape
        pl[:sh, :sw] = plane
        pl[sh:, :sw] = plane[-1:, :]
        pl[:, sw:] = pl[:, sw - 1:sw]
        blocks = {}
        for by in range(ph // 8):
            for bx in range(pw // 8):
                f = pl[by * 8:by * 8 + 8, bx * 8:bx * 8 + 8] - 128.0
                F = C @ f @ C.T
                blocks[(by, bx)] = np.round(F / qtab).astype(np.int64)
        quantized[name] = blocks

    # reference reconstruction (what the decoder must produce)
    recon = {}
    for name, plane, ch, cv in comps:
        ph, pw = mcuy * cv * 8, mcux * ch * 8
        out = np.zeros((ph, pw))
        for (by, bx), blk in quantized[name].items():
            out[by * 8:by * 8 + 8, bx * 8:bx * 8 + 8] = \
                C.T @ (blk * qtab).astype(np.float64) @ C + 128.0
        out = np.repeat(np.repeat(out, vmax // cv, axis=0),
                        hmax // ch, axis=1)
        recon[name] = out[:h, :w]
    yr, cbr, crr = recon["Y"], recon["Cb"] - 128.0, recon["Cr"] - 128.0
    ref = np.stack([yr + 1.402 * crr,
                    yr - 0.344136 * cbr - 0.714136 * crr,
                    yr + 1.772 * cbr], axis=2)
    ref = np.clip(np.round(ref), 0, 255).astype(np.uint8)
    return comps, quantized, ref, mcux, mcuy, qtab, hmax, vmax


def _jpeg_encode(img, q=16, subsample=False, restart_interval=0):
    """Independent baseline JPEG encoder (test-side reference):
    YCbCr convert, optional 4:2:0 chroma mean-downsample, FDCT with a
    flat quantization table, per-component-class fixed-length canonical
    Huffman tables, byte-stuffed interleaved MCU stream with optional
    restart markers. Returns (payload, reference_rgb) where
    reference_rgb reconstructs EXACTLY what a correct decoder must
    output (dequant -> IDCT -> upsample -> color-convert)."""
    import struct

    h, w = img.shape[:2]
    comps, quantized, ref, mcux, mcuy, qtab, hmax, vmax = \
        _quantize_ref(img, q, subsample)

    # symbol streams (interleaved MCU order) to size the Huffman tables
    zz_nat = _zigzag_nat()
    def block_symbols(blk, pred):
        dc = int(blk.reshape(-1)[0]) - pred
        s = abs(dc).bit_length()
        dcv = dc if dc >= 0 else dc + (1 << s) - 1
        acs = []
        seq = [int(blk.reshape(-1)[i]) for i in zz_nat[1:]]
        run = 0
        last_nz = -1
        for i, v in enumerate(seq):
            if v:
                last_nz = i
        for i, v in enumerate(seq):
            if i > last_nz:
                break
            if v == 0:
                run += 1
                continue
            while run > 15:
                acs.append((0xF0, 0, 0))
                run -= 16
            sz = abs(v).bit_length()
            vv = v if v >= 0 else v + (1 << sz) - 1
            acs.append(((run << 4) | sz, vv, sz))
            run = 0
        if last_nz < len(seq) - 1:
            # EOB only when trailing zeros exist: a block whose final
            # AC (zigzag 63) is nonzero ends WITHOUT an EOB — the
            # decoder exits at ki=64 and never reads one
            acs.append((0x00, 0, 0))
        return (s, dcv), acs, int(blk.reshape(-1)[0])

    order = []
    preds = {nm: 0 for nm, *_ in comps}
    mcu = 0
    stream = []                                # (kind, payload)
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu and mcu % restart_interval == 0:
                stream.append(("RST", (mcu // restart_interval - 1) % 8))
                preds = {nm: 0 for nm, *_ in comps}
            for name, plane, ch, cv in comps:
                for by in range(cv):
                    for bx in range(ch):
                        blk = quantized[name][(my * cv + by,
                                               mx * ch + bx)]
                        (s, dcv), acs, dc_abs = block_symbols(
                            blk, preds[name])
                        preds[name] = dc_abs
                        stream.append(("BLK", (s, dcv, acs)))
            mcu += 1

    dc_syms = [p[0] for k, p in stream if k == "BLK"]
    ac_syms = [a[0] for k, p in stream if k == "BLK" for a in p[2]]
    dcc, dcs, dccodes = _fixed_len_huff(dc_syms)
    acc_, acs_, accodes = _fixed_len_huff(ac_syms)

    bw = _BitWriter()
    data = bytearray()
    for kind, p in stream:
        if kind == "RST":
            bw.align_ones()
            data += bw.out
            bw = _BitWriter()
            data += bytes((0xFF, 0xD0 + p))
            continue
        s, dcv, acs = p
        L, code = dccodes[s]
        bw.put(code, L)
        if s:
            bw.put(dcv, s)
        for sym, vv, sz in acs:
            L, code = accodes[sym]
            bw.put(code, L)
            if sz:
                bw.put(vv, sz)
    bw.align_ones()
    data += bw.out

    def seg(marker, body):
        return bytes((0xFF, marker)) + struct.pack(">H", 2 + len(body)) \
            + body

    dqt = bytes([0x00]) + bytes(int(qtab.reshape(-1)[i])
                                for i in zz_nat)
    sof = bytes([8]) + struct.pack(">HH", h, w) + bytes([3])
    for i, (name, plane, ch, cv) in enumerate(comps):
        sof += bytes([i + 1, (ch << 4) | cv, 0])
    dht = bytes([0x00]) + bytes(dcc) + bytes(dcs) \
        + bytes([0x10]) + bytes(acc_) + bytes(acs_)
    sos = bytes([3]) + b"".join(bytes([i + 1, 0x00]) for i in range(3)) \
        + bytes([0, 63, 0])
    payload = b"\xff\xd8" + seg(0xDB, dqt) + seg(0xC0, sof) \
        + seg(0xC4, dht)
    if restart_interval:
        payload += seg(0xDD, struct.pack(">H", restart_interval))
    payload += seg(0xDA, sos) + bytes(data) + b"\xff\xd9"
    return payload, ref


def _mean2(p):
    import numpy as np
    h, w = p.shape
    ph, pw = (h + 1) // 2 * 2, (w + 1) // 2 * 2
    pp = np.zeros((ph, pw))
    pp[:h, :w] = p
    pp[h:, :w] = p[-1:, :]
    pp[:, w:] = pp[:, w - 1:w]
    return pp.reshape(ph // 2, 2, pw // 2, 2).mean(axis=(1, 3))


def _zigzag_nat():
    from big_data_crypto_sentiment_spark.operators.multimodal import (
        _zigzag_order,
    )
    return _zigzag_order()


def _test_image(h, w, seed=3):
    import numpy as np
    rng = np.arange(h * w * 3, dtype=np.int64)
    return ((rng * 31 + seed) % 256).astype(np.uint8).reshape(h, w, 3)


def test_jpeg_decode_matches_reference_reconstruction():
    import numpy as np

    from big_data_crypto_sentiment_spark.operators.multimodal import (
        decode_jpeg_pixels,
    )
    img = _test_image(16, 8)
    payload, ref = _jpeg_encode(img, q=16)
    got = decode_jpeg_pixels(payload)
    assert got.shape == (16, 8, 3)
    # identical float pipeline on both sides -> at most boundary-
    # rounding ULP differences
    assert int(np.abs(got.astype(int) - ref.astype(int)).max()) <= 1
    # and with a flat q=1 table the roundtrip is near-lossless vs the
    # ORIGINAL pixels (pure DCT rounding error)
    smooth = np.tile(np.linspace(40, 200, 8).astype(np.uint8),
                     (8, 1))[:, :, None].repeat(3, axis=2)
    p2, _ = _jpeg_encode(smooth, q=1)
    got2 = decode_jpeg_pixels(p2)
    assert int(np.abs(got2.astype(int) - smooth.astype(int)).max()) <= 3


def test_jpeg_420_subsampling_and_restart_markers():
    import numpy as np

    from big_data_crypto_sentiment_spark.operators.multimodal import (
        decode_jpeg_pixels,
    )
    img = _test_image(16, 16, seed=11)
    p420, ref = _jpeg_encode(img, q=16, subsample=True)
    got = decode_jpeg_pixels(p420)
    assert got.shape == (16, 16, 3)
    assert int(np.abs(got.astype(int) - ref.astype(int)).max()) <= 1

    # restart markers: byte-aligned RSTn every MCU, DC predictors
    # reset — decode must equal the no-restart encoding's decode
    img2 = _test_image(8, 32, seed=7)
    pa, _ = _jpeg_encode(img2, q=16)
    pb, _ = _jpeg_encode(img2, q=16, restart_interval=1)
    assert pa != pb
    a = decode_jpeg_pixels(pa)
    b = decode_jpeg_pixels(pb)
    assert (a == b).all()


def test_jpeg_gates_and_corruption():
    import pytest as _pytest

    from big_data_crypto_sentiment_spark.operators.multimodal import (
        decode_jpeg_pixels,
    )

    img = _test_image(16, 16, seed=5)
    payload, _ = _jpeg_encode(img, q=16)
    # a baseline payload RELABELED SOF2: progressive decodes for real
    # as of r12, so this hack is now a structurally-invalid progressive
    # file (its single scan claims the DC band with Se=63) -> ValueError
    # (real progressive coverage: tests/test_jpeg_progressive.py)
    prog = payload.replace(b"\xff\xc0", b"\xff\xc2", 1)
    with _pytest.raises(ValueError):
        decode_jpeg_pixels(prog)
    # arithmetic-coded JPEG (SOF9 sequential AND SOF10 progressive)
    # decodes for real as of r15 (tests/test_jpeg_arith.py); the
    # arithmetic LOSSLESS tier (SOF11) stays loud
    arith_ll = payload.replace(b"\xff\xc0", b"\xff\xcb", 1)
    with _pytest.raises(NotImplementedError):
        decode_jpeg_pixels(arith_ll)
    # truncated entropy stream -> ValueError
    with _pytest.raises(ValueError):
        decode_jpeg_pixels(payload[:len(payload) - 40])


def test_jpeg_resize_end_to_end(spark):
    import numpy as np

    from big_data_crypto_sentiment_spark.operators.multimodal import (
        area_resample,
        decode_jpeg_pixels,
        decode_png_pixels,
        resize_images,
    )
    from big_data_crypto_sentiment_spark.schemas import MEDIA_SCHEMA
    img = _test_image(16, 16, seed=5)
    payload, ref = _jpeg_encode(img, q=16)
    df = spark.createDataFrame(
        [(1, "image", payload, "image/jpeg", None, None, None)],
        MEDIA_SCHEMA)
    (r,) = resize_images(df, max_dim=8, use_real_codec=True).collect()
    assert r.resize_status == "resampled" and r.resized
    assert (r.src_width, r.src_height, r.width, r.height) == (16, 16, 8, 8)
    back = decode_png_pixels(bytes(r.payload))
    want = area_resample(decode_jpeg_pixels(payload), 8, 8)
    assert (back == want).all()


def test_pixel_decoders_reject_adversarial_headers():
    """Untrusted bytes inside an executor: absurd claimed dimensions
    and decompression bombs must raise (falling to the marker-stub
    tier), never allocate attacker-chosen memory."""
    import struct
    import zlib

    import pytest as _pytest

    from big_data_crypto_sentiment_spark.operators.multimodal import (
        decode_gif_pixels,
        decode_jpeg_pixels,
        decode_png_pixels,
    )

    def chunk(ctype, data):
        return (struct.pack(">I", len(data)) + ctype + data
                + struct.pack(">I", zlib.crc32(ctype + data)))

    # PNG claiming 60000x60000 (3.6 GPix): capped before any inflate
    huge = (b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", struct.pack(">IIBBBBB", 60000, 60000,
                                         8, 2, 0, 0, 0))
            + chunk(b"IDAT", zlib.compress(b"\x00" * 64))
            + chunk(b"IEND", b""))
    with _pytest.raises(ValueError):
        decode_png_pixels(huge)

    # PNG bomb: tiny claimed dims, oversize inflated stream — bounded
    # decompress stops at expected+1 and reports a length mismatch
    bomb = (b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 0,
                                         0, 0, 0))
            + chunk(b"IDAT", zlib.compress(b"\x00" * (1 << 20)))
            + chunk(b"IEND", b""))
    with _pytest.raises(ValueError):
        decode_png_pixels(bomb)

    # JPEG claiming 60000x60000 / zero dims / bad sampling factors
    img = _test_image(8, 8)
    payload, _ = _jpeg_encode(img, q=16)
    sof_at = payload.index(b"\xff\xc0")
    big = bytearray(payload)
    big[sof_at + 5:sof_at + 9] = struct.pack(">HH", 60000, 60000)
    with _pytest.raises(ValueError):
        decode_jpeg_pixels(bytes(big))
    zero = bytearray(payload)
    zero[sof_at + 5:sof_at + 9] = struct.pack(">HH", 0, 8)
    with _pytest.raises(ValueError):
        decode_jpeg_pixels(bytes(zero))
    badhv = bytearray(payload)
    badhv[sof_at + 11] = 0x00          # comp 1 sampling factors 0/0
    with _pytest.raises(ValueError):
        decode_jpeg_pixels(bytes(badhv))

    # GIF claiming huge image-descriptor dims
    g = bytearray(_gif(4, 3, [0] * 12, PALETTE))
    desc = g.index(0x2C)
    g[desc + 5:desc + 9] = struct.pack("<HH", 60000, 60000)
    with _pytest.raises(ValueError):
        decode_gif_pixels(bytes(g))
