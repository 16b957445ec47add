"""Multimodal binary-column plumbing: fake blob construction, stub
header decode via mapInPandas, frame-sampling fan-out, null handling."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import types as T

from technical_test_data_engineer_spark.operators.multimodal import (
    decode_media_meta,
    fake_media_binary,
    frame_sample,
)


def _media_df(spark, texts):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)],
        T.StructType(
            [
                T.StructField("doc_id", T.LongType()),
                T.StructField("text", T.StringType()),
            ]
        ),
    )
    return df.select("doc_id", fake_media_binary("text").alias("media"))


def test_fake_media_binary_layout(spark):
    """12-byte big-endian header + exact UTF-8 payload."""
    text = "hello wörld"  # multi-byte char exercises UTF-8 length
    media = _media_df(spark, [text]).collect()[0]["media"]
    payload = text.encode("utf-8")
    n = len(payload)
    assert len(media) == 12 + n
    assert int.from_bytes(media[0:4], "big") == n % 640 + 16
    assert int.from_bytes(media[4:8], "big") == n % 480 + 16
    assert int.from_bytes(media[8:12], "big") == n % 24 + 1
    assert bytes(media[12:]) == payload


def test_decode_media_meta(spark):
    df = _media_df(spark, ["a" * 50, "b" * 7])
    rows = {r["doc_id"]: r["meta"] for r in decode_media_meta(df).collect()}
    assert rows[0]["width"] == 50 % 640 + 16
    assert rows[0]["n_bytes"] == 62
    assert rows[1]["n_frames"] == 7 % 24 + 1
    assert rows[0]["format"] in ("png", "jpeg", "webp")


def test_decode_media_meta_null_blob(spark):
    df = spark.createDataFrame(
        [(0, bytearray(b"\x00\x00\x00\x01" * 3 + b"xy")), (1, None)],
        T.StructType(
            [
                T.StructField("doc_id", T.LongType()),
                T.StructField("media", T.BinaryType()),
            ]
        ),
    )
    rows = {r["doc_id"]: r["meta"] for r in decode_media_meta(df).collect()}
    assert rows[0]["width"] == 1
    assert rows[1] is None


def test_frame_sample_fanout(spark):
    """n_frames = len%24+1; sampling every 4th frame → ceil(n/4) rows,
    each slice len//n bytes."""
    text = "x" * 47  # payload 47 → n_frames 0 % ... = 47%24+1 = 24
    df = _media_df(spark, [text])
    rows = frame_sample(df).collect()
    n_frames = 47 % 24 + 1  # 24
    assert len(rows) == (n_frames + 3) // 4
    assert sorted(r["frame_idx"] for r in rows) == list(range(0, n_frames, 4))
    step = 47 // n_frames
    assert all(len(r["frame_bytes"]) == step for r in rows)


def test_media_ahash_deterministic_and_64bit(spark):
    from technical_test_data_engineer_spark.operators.multimodal import (
        fake_media_binary,
        media_ahash,
    )

    df = spark.createDataFrame(
        [(1, "the quick brown fox " * 10), (2, "the quick brown fox " * 10), (3, "zzz completely different payload qqq " * 7)],
        "doc_id long, text string",
    ).select("doc_id", fake_media_binary("text").alias("media"))
    got = {r["doc_id"]: r["ahash"] for r in media_ahash(df).collect()}
    assert got[1] == got[2]  # identical blobs, identical signature
    assert got[1] != got[3]


def test_media_near_dups_planted_pair_and_hamming(spark):
    from technical_test_data_engineer_spark.operators.multimodal import (
        fake_media_binary,
        media_near_dups,
    )

    base = "lorem ipsum dolor sit amet " * 20
    rows = [
        (1, base),
        (2, base),  # exact dup -> hamming 0
        (3, base[:-40] + "x" * 40),  # perturbed tail -> small distance
        (4, "".join(reversed(base))),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string").select(
        "doc_id", fake_media_binary("text").alias("media")
    )
    # 8 bands x 8 bits: pigeonhole GUARANTEES any pair within
    # Hamming <= 7 shares a band (the planted perturbation measures 7);
    # the 4-band default would need luck for distances above 3
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in media_near_dups(df, max_hamming=7, n_bands=8).collect()
    }
    assert pairs.get((1, 2)) == 0
    assert (1, 3) in pairs and 0 < pairs[(1, 3)] <= 7
    assert (1, 4) not in pairs  # reversed payload is far (hamming 32)


def test_chunk_media_boundaries_and_checksums(spark):
    """Chunk windows tile the payload exactly (header stripped), the
    final partial chunk keeps its true length, and each md5 matches a
    direct hash of the expected byte slice."""
    import hashlib

    from pyspark.sql import functions as F

    from technical_test_data_engineer_spark.operators.multimodal import (
        chunk_media,
        fake_media_binary,
    )

    text = "x" * 300  # payload 300 bytes -> chunks of 256 + 44
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    media = df.select("doc_id", fake_media_binary("text").alias("media"))
    rows = sorted(
        chunk_media(media).collect(),
        key=lambda r: r["chunk_idx"],
    )
    assert [(r["chunk_idx"], r["chunk_len"]) for r in rows] == [
        (0, 256),
        (1, 44),
    ]
    payload = text.encode()
    assert rows[0]["chunk_md5"] == hashlib.md5(payload[:256]).hexdigest()
    assert rows[1]["chunk_md5"] == hashlib.md5(payload[256:]).hexdigest()


def test_media_near_dups_hot_bucket_cap(spark, monkeypatch):
    # 100 identical blobs share all 8 aHash band buckets — 100² join
    # rows on one task without a guard. Past the cap (50 here) those
    # buckets never pair; the planted pair, whose other bands stay cold,
    # still verifies.
    from technical_test_data_engineer_spark.operators import multimodal

    monkeypatch.setattr(multimodal, "DEFAULT_HOT_BUCKET_CAP", 50, raising=False)
    base = "lorem ipsum dolor sit amet " * 20
    other = "zzz completely different payload qqq " * 14
    rows = [(i, base) for i in range(100)] + [(1000, other), (1001, other)]
    df = spark.createDataFrame(rows, "doc_id long, text string").select(
        "doc_id", fake_media_binary("text").alias("media")
    )
    got = {
        (r["id_a"], r["id_b"])
        for r in multimodal.media_near_dups(df, max_hamming=7, n_bands=8).collect()
    }
    assert not any(a < 100 and b < 100 for a, b in got), len(got)
    assert (1000, 1001) in got
