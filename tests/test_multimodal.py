"""Multimodal binary-column plumbing: metadata extraction must be
Arrow-buffer vectorized AND null-safe — the Arrow spec allows arbitrary
offsets under null slots, so trusting the offsets buffer there reads
garbage from unrelated bytes."""
import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType, LongType, StructField, StructType)

from wills_columnar_format_spark.operators.multimodal import (
    extract_binary_meta, frame_sample_stub)


def test_binary_meta_basic(spark):
    df = spark.createDataFrame(
        [(1, b"\x07abc"), (2, b""), (3, b"\xffxyz0123")],
        "id bigint, payload binary")
    got = {r["id"]: (r["n_bytes"], r["head_byte"])
           for r in extract_binary_meta(df, "payload", "id").collect()}
    assert got == {1: (4, 0x07), 2: (0, -1), 3: (8, 0xFF)}


def test_binary_meta_null_payloads(spark):
    """NULL payloads yield NULL metadata (not garbage lengths read from
    neighbouring slots' offsets, not a crash)."""
    schema = StructType([StructField("id", LongType()),
                         StructField("payload", BinaryType())])
    df = spark.createDataFrame(
        [(1, b"\x42abcdef"), (2, None), (3, b""), (4, None), (5, b"\x01")],
        schema)
    rows = {r["id"]: r for r in
            extract_binary_meta(df, "payload", "id").collect()}
    assert rows[1]["n_bytes"] == 7 and rows[1]["head_byte"] == 0x42
    assert rows[2]["n_bytes"] is None and rows[2]["head_byte"] is None
    assert rows[3]["n_bytes"] == 0 and rows[3]["head_byte"] == -1
    assert rows[4]["n_bytes"] is None and rows[4]["head_byte"] is None
    assert rows[5]["n_bytes"] == 1 and rows[5]["head_byte"] == 1


def test_binary_meta_all_null_batch(spark):
    schema = StructType([StructField("id", LongType()),
                         StructField("payload", BinaryType())])
    df = spark.createDataFrame([(i, None) for i in range(10)], schema)
    out = extract_binary_meta(df, "payload", "id").collect()
    assert len(out) == 10
    assert all(r["n_bytes"] is None and r["head_byte"] is None for r in out)


def test_binary_meta_on_testdata(spark):
    """Real documents table: n_bytes must equal Spark's own length()."""
    df = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
          .select("doc_id", F.encode("text", "utf-8").alias("payload"))
          .withColumn("doc_num", F.xxhash64("doc_id")))
    meta = extract_binary_meta(
        df.select(F.col("doc_num").alias("id"), "payload"), "payload", "id")
    joined = (df.select(F.col("doc_num").alias("id"),
                        F.length("payload").alias("want"))
              .join(meta, "id"))
    bad = joined.filter(F.col("want") != F.col("n_bytes")).count()
    assert bad == 0 and joined.count() == df.count()


def test_frame_sample_stub_shapes(spark):
    df = spark.createDataFrame([(1, b"0123456789abcd")], "id bigint, payload binary")
    out = frame_sample_stub(df, "payload", "id", every_n=5).collect()
    assert [(r["frame_idx"], bytes(r["frame"])) for r in sorted(out, key=lambda r: r["frame_idx"])] == [
        (0, b"01234"), (1, b"56789"), (2, b"abcd")]


# ---------------------------------------------------------------------------
# round 5: real BMP/WAV decode + vectorized media_meta + zero-copy frames
# ---------------------------------------------------------------------------


def test_decode_media_bmp_wav_roundtrip():
    import numpy as np

    from wills_columnar_format_spark.operators.multimodal import (
        decode_media, synth_bmp, synth_wav)

    m = decode_media(synth_bmp(13, 7, seed=3))
    assert (m["media_type"], m["width"], m["height"], m["channels"]) == \
        ("bmp", 13, 7, 3)
    y, x, c = np.meshgrid(np.arange(7), np.arange(13), np.arange(3),
                          indexing="ij")
    assert np.array_equal(m["pixels"],
                          ((x * 7 + y * 13 + 3 + c) % 256).astype(np.uint8))
    w = decode_media(synth_wav(500, channels=2, rate=16000, seed=9))
    assert (w["media_type"], w["channels"], w["sample_rate"],
            w["n_samples"], w["bits"]) == ("wav", 2, 16000, 500, 16)
    t = np.arange(1000, dtype=np.int64)
    assert np.array_equal(
        w["samples"],
        ((t * 31 + 9) % 65536 - 32768).astype("<i2").reshape(-1, 2))
    with pytest.raises(NotImplementedError, match="BMP and PCM WAV"):
        decode_media(b"\x89PNG1234567890")


def test_media_meta_vectorized(spark):
    from wills_columnar_format_spark.operators.multimodal import (
        media_meta, synth_bmp, synth_wav)

    schema = StructType([StructField("id", LongType()),
                         StructField("payload", BinaryType())])
    rows = [
        (1, synth_bmp(20, 10)),
        (2, synth_wav(300, channels=1, rate=8000)),
        (3, b"not media at all"),
        (4, None),
        (5, synth_bmp(64, 2, seed=7)),
        (6, synth_wav(10, channels=4, rate=44100)),
    ]
    df = spark.createDataFrame(rows, schema)
    got = {r["id"]: r for r in media_meta(df, "payload", "id").collect()}
    assert (got[1]["media_type"], got[1]["width"], got[1]["height"],
            got[1]["channels"]) == ("bmp", 20, 10, 3)
    assert got[1]["sample_rate"] is None
    assert (got[2]["media_type"], got[2]["channels"],
            got[2]["sample_rate"]) == ("wav", 1, 8000)
    assert got[2]["width"] is None
    assert got[3]["media_type"] is None and got[3]["channels"] is None
    assert got[4]["media_type"] is None and got[4]["n_bytes"] is None
    assert (got[5]["width"], got[5]["height"]) == (64, 2)
    assert (got[6]["channels"], got[6]["sample_rate"]) == (4, 44100)
    assert got[2]["n_bytes"] == 44 + 300 * 2


def test_media_meta_noncanonical_wav(spark):
    # a LIST chunk before fmt: off the vectorized path, the per-row
    # chunk walk must still classify it
    import struct

    from wills_columnar_format_spark.operators.multimodal import media_meta

    fmt = b"fmt " + struct.pack("<IHHIIHH", 16, 1, 3, 22050, 22050 * 6,
                                6, 16)
    data = b"data" + struct.pack("<I", 12) + b"\x00" * 12
    junk = b"LIST" + struct.pack("<I", 4) + b"INFO"
    body = junk + fmt + data
    wav = b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body
    df = spark.createDataFrame([(1, wav)], "id bigint, payload binary")
    r = media_meta(df, "payload", "id").collect()[0]
    assert (r["media_type"], r["channels"], r["sample_rate"]) == \
        ("wav", 3, 22050)


def test_media_meta_skips_undecodable_bmps(spark):
    # 'BM' payloads decode_media refuses (8-bit palettized, RLE8) are
    # not classified as bmp: bpp//8 would report 1 channel / 1 channel
    import struct

    from wills_columnar_format_spark.operators.multimodal import (
        decode_media, media_meta, synth_bmp)

    def bmp_header(bpp, compression):
        info = struct.pack("<IiiHHIIiiII", 40, 16, 8, 1, bpp, compression,
                           0, 2835, 2835, 256, 0)
        return (b"BM" + struct.pack("<IHHI", 54 + 1024 + 128, 0, 0,
                                    54 + 1024) + info
                + b"\x00" * (1024 + 128))

    palettized, rle = bmp_header(8, 0), bmp_header(8, 1)
    for payload in (palettized, rle):
        with pytest.raises(NotImplementedError):
            decode_media(payload)
    df = spark.createDataFrame(
        [(1, palettized), (2, rle), (3, synth_bmp(4, 3))],
        "id bigint, payload binary")
    got = {r["id"]: r for r in media_meta(df, "payload", "id").collect()}
    for i in (1, 2):
        assert (got[i]["media_type"], got[i]["width"], got[i]["height"],
                got[i]["channels"]) == (None, None, None, None)
        assert got[i]["n_bytes"] == len(palettized)
    assert (got[3]["media_type"], got[3]["width"], got[3]["height"],
            got[3]["channels"]) == ("bmp", 4, 3, 3)


def test_frame_sample_zero_copy_and_nulls(spark):
    from wills_columnar_format_spark.operators.multimodal import frame_sample

    schema = StructType([StructField("id", LongType()),
                         StructField("payload", BinaryType())])
    df = spark.createDataFrame(
        [(1, b"0123456789abcd"), (2, None), (3, b""), (4, b"XY")], schema)
    out = frame_sample(df, "payload", "id", every_n=5).collect()
    got = sorted((r["id"], r["frame_idx"], bytes(r["frame"])) for r in out)
    assert got == [(1, 0, b"01234"), (1, 1, b"56789"), (1, 2, b"abcd"),
                   (4, 0, b"XY")]
    with pytest.raises(ValueError, match="every_n"):
        frame_sample(df, "payload", "id", every_n=0)


def test_frame_sample_reassembles_payloads(spark):
    # frames concatenated in order must rebuild every payload exactly
    from wills_columnar_format_spark.operators.multimodal import (
        frame_sample, synth_wav)

    rows = [(i, synth_wav(50 + i * 13, channels=1 + i % 2))
            for i in range(40)]
    df = spark.createDataFrame(rows, "id bigint, payload binary")
    out = frame_sample(df, "payload", "id", every_n=7).collect()
    acc = {}
    for r in sorted(out, key=lambda r: (r["id"], r["frame_idx"])):
        acc.setdefault(r["id"], bytearray()).extend(bytes(r["frame"]))
    exp = {i: p for i, p in rows}
    assert {k: bytes(v) for k, v in acc.items()} == exp


def test_resize_bmp_nearest(spark):
    import numpy as np

    from wills_columnar_format_spark.operators.multimodal import (
        decode_media, resize_bmp, synth_bmp)

    schema = StructType([StructField("id", LongType()),
                         StructField("payload", BinaryType())])
    df = spark.createDataFrame(
        [(1, synth_bmp(40, 20, seed=2)), (2, b"not a bmp"), (3, None)],
        schema)
    out = {r["id"]: r["payload"]
           for r in resize_bmp(df, "payload", "id", 10, 5).collect()}
    assert out[2] is None and out[3] is None
    m = decode_media(bytes(out[1]))
    assert (m["width"], m["height"]) == (10, 5)
    # nearest-neighbor: resized (y, x) == source (y*20//5, x*40//10)
    y, x, c = np.meshgrid(np.arange(20), np.arange(40), np.arange(3),
                          indexing="ij")
    src = ((x * 7 + y * 13 + 2 + c) % 256).astype(np.uint8)
    ys = (np.arange(5) * 20) // 5
    xs = (np.arange(10) * 40) // 10
    assert np.array_equal(m["pixels"], src[ys][:, xs])
    with pytest.raises(ValueError, match="bad target"):
        resize_bmp(df, "payload", "id", 0, 5)


def test_audio_features_exact(spark):
    import numpy as np

    from wills_columnar_format_spark.operators.multimodal import (
        audio_features, synth_wav)

    schema = StructType([StructField("id", LongType()),
                         StructField("payload", BinaryType())])
    df = spark.createDataFrame(
        [(1, synth_wav(400, channels=2, seed=5)), (2, b"junk"),
         (3, None)], schema)
    got = {r["id"]: (r["n_samples"], r["peak"], r["zero_crossings"])
           for r in audio_features(df, "payload", "id").collect()}
    t = np.arange(800, dtype=np.int64)
    s = (t * 31 + 5) % 65536 - 32768
    nn = s >= 0
    assert got[1] == (400, int(s.max()), int((nn[1:] != nn[:-1]).sum()))
    assert got[2] == (None, None, None)
    assert got[3] == (None, None, None)
