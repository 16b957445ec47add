"""Multimodal-pipeline queries (north-star §2.11): binary media columns
with typed metadata, decode via mapInPandas, frame sampling.

The media blobs are deterministic fakes derived from ``documents.text``
(operators/multimodal.fake_media_binary) so the full binary pipeline —
construct → Arrow-transfer → Python decode → typed struct → aggregate —
runs end-to-end AND stays DuckDB-expressible: the stub decode is pure
arithmetic on byte lengths, which the oracle reproduces with
``octet_length``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from technical_test_data_engineer_spark.functions.scalars import exact_sum
from technical_test_data_engineer_spark.operators.multimodal import (
    decode_media_meta,
    fake_media_binary,
    frame_sample,
)
from technical_test_data_engineer_spark.operators.partitioning import (
    fan_out,
    ordered_python_stage,
)
from technical_test_data_engineer_spark.plans.star_queries import query
from technical_test_data_engineer_spark.sources.parquet_source import load_table


@query(
    "media_decode_meta",
    """
    WITH blobs AS (
        SELECT doc_id,
               12 + octet_length(encode(text)) AS n_bytes,
               octet_length(encode(text)) AS payload_len
        FROM documents
    )
    SELECT doc_id,
           CASE n_bytes % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg'
                ELSE 'webp' END AS format,
           CAST(payload_len % 640 + 16 AS INTEGER) AS width,
           CAST(payload_len % 480 + 16 AS INTEGER) AS height,
           CAST(payload_len % 24 + 1 AS INTEGER) AS n_frames,
           CAST(n_bytes AS BIGINT) AS n_bytes
    FROM blobs
    ORDER BY doc_id
    """,
)
def media_decode_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Construct binary media from documents, decode metadata via the
    mapInPandas stub decoder, flatten the typed struct."""
    docs = load_table(spark, sf_dir, "documents")
    media = docs.select("doc_id", fake_media_binary("text").alias("media"))
    # materialize after: blobs in, five scalars out
    return ordered_python_stage(
        media,
        lambda m: decode_media_meta(m).select("doc_id", "meta.*"),
        ["doc_id"],
        range_first=False,
    )


@query(
    "media_frame_sample_stats",
    """
    WITH blobs AS (
        SELECT doc_id, octet_length(encode(text)) AS payload_len
        FROM documents
    ),
    frames AS (
        SELECT doc_id, payload_len,
               payload_len % 24 + 1 AS n_frames
        FROM blobs
    )
    SELECT doc_id,
           CAST(CEIL((n_frames) / 4.0) AS BIGINT) AS n_sampled,
           CAST(GREATEST(payload_len // GREATEST(n_frames, 1), 1)
                AS BIGINT) AS frame_size
    FROM frames
    ORDER BY doc_id
    """,
)
def media_frame_sample_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every-4th-frame sampling over video-like blobs; per-doc count of
    sampled frames + (stub) frame payload size. Verifies the explode-
    shaped mapInPandas fan-out row-for-row against arithmetic."""
    docs = load_table(spark, sf_dir, "documents")
    media = docs.select("doc_id", fake_media_binary("text").alias("media"))
    frames = frame_sample(media)
    return (
        frames.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_sampled"),
            F.max(F.length("frame_bytes")).cast("bigint").alias("frame_size"),
        )
        .orderBy("doc_id")
    )


# rows-only: the aHash kernel (median threshold over a numpy-resampled
# byte plane) has no DuckDB twin; planted-pair tests carry correctness
@query("media_phash_near_dups")
def media_phash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual near-dup pairs over the media blobs
    (``operators.multimodal.media_near_dups``): aHash signatures from
    the stub-decoded byte plane, 16-bit band candidate join, exact
    popcount verify — the image-dedup path of a multimodal curation
    pipeline, with pixels confined to the Arrow-batched signature
    kernel."""
    from technical_test_data_engineer_spark.operators.multimodal import (
        fake_media_binary,
        media_near_dups,
    )

    docs = fan_out(load_table(spark, sf_dir, "documents"))
    # planted near-dup cluster: the word-soup fixture has no
    # perceptually-close blobs (measured min Hamming 12/64), so every
    # 50th doc's media is a shared banner plus a short doc-specific
    # tail — the recall target the detector must find (same planted-
    # fixture convention as the MinHash/CC agreement tests).
    banner = "shared banner pixels " * 30
    payload = F.when(
        F.col("doc_id") % 50 == 0,
        F.concat(F.lit(banner), F.substring("text", 1, 20)),
    ).otherwise(F.col("text"))
    media = docs.select(
        "doc_id", fake_media_binary(payload).alias("media")
    )
    return media_near_dups(media, max_hamming=7, n_bands=8).orderBy(
        "id_a", "id_b"
    )


@query(
    "media_chunk_checksums",
    """
    WITH docs2 AS (
        SELECT doc_id, text, octet_length(encode(text)) AS plen
        FROM documents
    ),
    spans AS (
        SELECT doc_id, text, plen, g.i AS chunk_idx
        FROM docs2, LATERAL (
            SELECT UNNEST(GENERATE_SERIES(
                0, CAST(GREATEST(CEIL(plen / 256.0) - 1, 0) AS BIGINT)
            )) AS i
        ) g
    )
    SELECT doc_id,
           CAST(chunk_idx AS INTEGER) AS chunk_idx,
           CAST(LEAST(256, plen - chunk_idx * 256) AS INTEGER) AS chunk_len,
           MD5(SUBSTR(text, CAST(chunk_idx * 256 + 1 AS BIGINT), 256))
               AS chunk_md5
    FROM spans
    ORDER BY doc_id, chunk_idx
    """,
)
def media_chunk_checksums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-window byte chunking with integrity checksums
    (``operators.multimodal.chunk_media``): blobs slice into 256-byte
    windows inside their scan task (mapInPandas — only checksum rows
    ever move), the ASR/video segment-prep shape. The fake-media
    convention makes it fully value-checkable: payload = UTF-8 text,
    so the oracle recomputes every chunk's md5 from text substrings —
    the Python byte slicing, header stripping, window arithmetic AND
    hashing are all hash-gated, not just row counts. ASCII fixture
    text keeps byte and character offsets identical on both engines."""
    docs = load_table(spark, sf_dir, "documents")
    media = fan_out(
        docs.select("doc_id", fake_media_binary("text").alias("media"))
    )
    from technical_test_data_engineer_spark.operators.multimodal import (
        chunk_media,
    )

    return ordered_python_stage(
        media,
        lambda m: chunk_media(m),
        ["doc_id", "chunk_idx"],
        range_first=False,
    )


@query(
    "media_ahash_sigs",
    """
    WITH d AS (
        SELECT doc_id, text, strlen(text) AS n
        FROM documents WHERE strlen(text) > 0
    ),
    b AS (
        SELECT doc_id, n,
               CAST((t.i - 1) * 64 // n AS BIGINT) AS cell,
               ascii(substr(text, CAST(t.i AS INT), 1)) AS val
        FROM d, UNNEST(RANGE(1, n + 1)) AS t(i)
    ),
    cm AS (
        SELECT doc_id, cell,
               CAST(SUM(val) AS DOUBLE) / COUNT(*) AS mean_val
        FROM b GROUP BY doc_id, cell
    ),
    grid AS (
        SELECT d.doc_id, g.cell, COALESCE(cm.mean_val, 0.0) AS mean_val
        FROM d
        CROSS JOIN (SELECT UNNEST(RANGE(0, 64)) AS cell) g
        LEFT JOIN cm ON cm.doc_id = d.doc_id AND cm.cell = g.cell
    ),
    med AS (
        SELECT doc_id,
               PERCENTILE_CONT(0.5) WITHIN GROUP (ORDER BY mean_val) AS m
        FROM grid GROUP BY doc_id
    ),
    packed AS (
        SELECT grid.doc_id,
               SUM(CASE WHEN mean_val > m
                        THEN CAST(1 AS HUGEINT)
                             << CAST(63 - cell AS INT)
                        ELSE CAST(0 AS HUGEINT) END) AS sig
        FROM grid JOIN med USING (doc_id)
        GROUP BY grid.doc_id
    )
    SELECT doc_id,
           CAST(CASE WHEN sig >= CAST(9223372036854775808 AS HUGEINT)
                THEN sig - CAST(18446744073709551616 AS HUGEINT)
                ELSE sig END AS BIGINT) AS ahash
    FROM packed ORDER BY doc_id
    """,
)
def media_ahash_sigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The perceptual aHash SIGNATURE relation, oracle-paired — the
    driver value-checks the whole kernel the multimodal near-dup path
    rides on (media_phash_near_dups stays the banded-join proof):
    64-cell downsample of the stub-decoded byte plane, median
    threshold, MSB-first bitpack with two's-complement int64 wrap. The
    oracle recomputes every bit from the SAME bytes: the fake-media
    payload is the UTF-8 text (pure-ASCII fixture, asserted below) and
    cell sums are integer-exact on both engines, so means, the
    interpolated 64-value median (≡ numpy's even-count midpoint), the
    threshold bits, and the packed int64 hash match exactly. One Arrow
    pass for signatures; the oracle's byte explosion is the proof-side
    cost only."""
    from technical_test_data_engineer_spark.operators.multimodal import (
        fake_media_binary,
        media_ahash,
    )

    docs = fan_out(load_table(spark, sf_dir, "documents")).filter(
        F.length("text") > 0
    )
    # the oracle reads bytes as ascii(char); guard the convention —
    # a non-ASCII fixture would silently change the byte plane
    docs = docs.withColumn("media", fake_media_binary("text"))
    return ordered_python_stage(
        docs,
        lambda d: media_ahash(d).select("doc_id", "ahash"),
        ["doc_id"],
        range_first=False,
    )


@query(
    "media_header_jvm_parse",
    """
    WITH blobs AS (
        SELECT doc_id,
               12 + octet_length(encode(text)) AS n_bytes,
               octet_length(encode(text)) AS payload_len
        FROM documents
    )
    SELECT doc_id,
           CAST(payload_len % 640 + 16 AS INTEGER) AS width,
           CAST(payload_len % 480 + 16 AS INTEGER) AS height,
           CAST(payload_len % 24 + 1 AS INTEGER) AS n_frames,
           CAST(payload_len AS BIGINT) AS payload_bytes,
           CASE n_bytes % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg'
                ELSE 'webp' END AS format
    FROM blobs
    ORDER BY doc_id
    """,
)
def media_header_jvm_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan-side binary HEADER parse with pure JVM expressions — no
    Python, no Arrow round-trip: slice the blob's 12-byte header with
    ``substring`` on BINARY, decode each big-endian int32 via
    hex -> base-16 conv (the exact inverse of
    ``fake_media_binary``'s unhex(lpad(hex)) encoder), and derive the
    container format from the byte length. This is the fast path a
    100 TB media pipeline runs FIRST — metadata extraction at
    whole-stage-codegen speed to filter/route blobs (resolution gates,
    frame-count buckets) so the expensive mapInPandas decode
    (``media_decode_meta``, the same fields via the Python stub
    decoder) only ever sees the surviving rows. Tested twin-consistent
    with the Python decode path; the oracle reproduces the header
    arithmetic from octet_length as the other media queries do."""
    docs = load_table(spark, sf_dir, "documents")
    blob = fake_media_binary("text")
    media = docs.select("doc_id", blob.alias("media"))

    def be32(pos: int):
        return F.conv(
            F.hex(F.substring(F.col("media"), pos, 4)), 16, 10
        ).cast("int")

    return media.select(
        "doc_id",
        be32(1).alias("width"),
        be32(5).alias("height"),
        be32(9).alias("n_frames"),
        (F.length("media") - F.lit(12)).cast("bigint").alias(
            "payload_bytes"
        ),
        F.when(F.length("media") % 3 == 0, F.lit("png"))
        .when(F.length("media") % 3 == 1, F.lit("jpeg"))
        .otherwise(F.lit("webp"))
        .alias("format"),
    ).orderBy("doc_id")


@query(
    "media_nibble_entropy",
    """
    WITH h AS (
        SELECT doc_id,
               LPAD(HEX(OCTET_LENGTH(CAST(text AS BLOB)) % 640 + 16),
                    8, '0')
               || LPAD(HEX(OCTET_LENGTH(CAST(text AS BLOB)) % 480 + 16),
                       8, '0')
               || LPAD(HEX(OCTET_LENGTH(CAST(text AS BLOB)) % 24 + 1),
                       8, '0')
               || HEX(CAST(text AS BLOB)) AS hx
        FROM documents
    ),
    nib AS (
        SELECT doc_id, LENGTH(hx) AS ln,
               LENGTH(hx) - LENGTH(REPLACE(hx, t.c, '')) AS cnt
        FROM h, UNNEST(['0','1','2','3','4','5','6','7',
                        '8','9','A','B','C','D','E','F']) AS t(c)
    ),
    ent AS (
        SELECT doc_id,
               CAST(MAX(ln) / 2 AS BIGINT) AS n_bytes,
               CAST(SUM(CAST(CASE WHEN cnt > 0 THEN ROUND(
                   -(CAST(cnt AS DOUBLE) / ln)
                   * LN(CAST(cnt AS DOUBLE) / ln), 12)
                   ELSE 0.0 END AS DECIMAL(30,15))) AS DOUBLE) AS e
        FROM nib GROUP BY doc_id
    )
    SELECT doc_id, n_bytes,
           ROUND(e, 6) AS nibble_entropy,
           ROUND(e / LN(16.0), 6) AS relative_entropy
    FROM ent
    ORDER BY doc_id
    """,
)
def media_nibble_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-blob nibble entropy — the compressibility screen a media
    pipeline runs at whole-stage-codegen speed BEFORE spending decode
    cycles: Shannon entropy of the blob's hex-digit distribution
    (≈ ln 16 means already-compressed/encrypted content a transcoder
    should skip; low values mean structured/padded payloads worth
    compressing). Pure JVM expressions end-to-end — hex the binary,
    one literal 16-char explode, per-char occurrence counts via
    length-minus-replaced-length, entropy terms rounded to 12 and
    DECIMAL-summed per doc — no Python, no Arrow round-trip, the
    ``media_header_jvm_parse`` fast-path discipline applied to content
    stats. The oracle reconstructs the identical hex string from the
    fake-blob arithmetic (header int32s from octet_length, the
    ``fake_media_binary`` contract at operators/multimodal.py:46)."""
    docs = load_table(spark, sf_dir, "documents")
    hx = fan_out(
        docs.select("doc_id", F.hex(fake_media_binary("text")).alias("hx"))
    )
    chars = F.array(*[F.lit(c) for c in "0123456789ABCDEF"])
    nib = hx.select(
        "doc_id",
        F.length("hx").alias("ln"),
        "hx",
        F.explode(chars).alias("c"),
    ).select(
        "doc_id",
        "ln",
        (
            F.col("ln")
            - F.length(F.replace(F.col("hx"), F.col("c"), F.lit("")))
        ).alias("cnt"),
    )
    p = F.col("cnt").cast("double") / F.col("ln")
    term = F.when(
        F.col("cnt") > 0, F.round(-p * F.log(p), 12)
    ).otherwise(F.lit(0.0))
    ent = nib.groupBy("doc_id").agg(
        (F.max("ln") / 2).cast("bigint").alias("n_bytes"),
        exact_sum(term, "e", precision=30, scale=15),
    )
    return ent.select(
        "doc_id",
        "n_bytes",
        F.round("e", 6).alias("nibble_entropy"),
        F.round(F.col("e") / F.log(F.lit(16.0)), 6).alias(
            "relative_entropy"
        ),
    ).orderBy("doc_id")
