"""Multimodal (image/audio/video) column handling (north-star §2.11).

Media are opaque ``binary`` columns + a typed metadata struct riding
next to them. All Spark-side plumbing — schema, partition sizing, UDF
signatures, Arrow batch shapes — is real and tested; only the actual
codec call is a STUB (the container ships no image/audio libraries):

- ``decode_media_meta``: mapInPandas "decode" that parses a
  deterministic fake header (see ``fake_media_binary``) instead of
  calling Pillow/ffmpeg. Swap `_parse_header` for the real codec and
  nothing else changes.
- ``frame_sample``: every-4th-frame sampling over a video-like binary,
  emitting one row per sampled frame (explode-shaped mapInPandas).

Scale design: media rows are KB–MB sized, so the operative knobs are
``spark.sql.files.maxPartitionBytes`` (scan split sizing — a 128 MB
split holds ~100 1-MB blobs) and ``maxRecordsPerBatch`` for Arrow
transfer; mapInPandas streams batch-iterators so a task never holds
more than one Arrow batch of blobs in Python memory at once.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from technical_test_data_engineer_spark.operators.dedup import (
    DEFAULT_HOT_BUCKET_CAP,
    _bucket_self_join,
    cap_hot_buckets,
)

MEDIA_META_SCHEMA = T.StructType(
    [
        T.StructField("format", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("n_bytes", T.LongType()),
    ]
)


def fake_media_binary(text_col: str | Column = "text") -> Column:
    """Deterministic fake media blob derived from a text column: a
    12-byte header (3 big-endian int32: width, height, n_frames) +
    the UTF-8 payload. Lets every pipeline stage work on real binary
    data with verifiable contents, no codec needed."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    payload = F.encode(c, "UTF-8")
    n = F.length(payload)
    # fake dimensions derived from payload length — oracle-reproducible
    width = (n % 640 + 16).cast("int")
    height = (n % 480 + 16).cast("int")
    frames = (n % 24 + 1).cast("int")

    def be32(x: Column) -> Column:
        # exact big-endian int32 bytes, ANSI-safe (no numeric→binary cast)
        return F.unhex(F.lpad(F.hex(x), 8, "0"))

    header = F.concat(be32(width), be32(height), be32(frames))
    return F.concat(header, payload)


def _header_parser():
    """Builds ``_parse_header`` as a nested function. cloudpickle ships a
    nested function by value, so the Python workers running
    ``decode_media_meta`` and ``frame_sample`` never import this
    package, which may be importable only through the driver's
    ``sys.path``."""
    formats = ["png", "jpeg", "webp"]

    def _parse_header(blob: bytes) -> tuple[str, int, int, int, int]:
        """STUB decode: parse the fake 12-byte header. A real
        implementation would call Pillow/libav here; everything around
        it is unchanged."""
        width = int.from_bytes(blob[0:4], "big")
        height = int.from_bytes(blob[4:8], "big")
        n_frames = int.from_bytes(blob[8:12], "big")
        return formats[len(blob) % 3], width, height, n_frames, len(blob)

    return _parse_header


_parse_header = _header_parser()


def decode_media_meta(df: DataFrame) -> DataFrame:
    """Extract a typed metadata struct from each ``media`` blob via
    mapInPandas (Arrow-batched; one batch of blobs in memory per task).

    Output: (``doc_id``, meta struct, plus passthrough of media bytes
    count) — the schema/partitioning pattern any real decoder plugs
    into: a real codec replaces the stub header decode, any ``bytes ->
    (format, width, height, n_frames, n_bytes)`` callable.
    """
    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("meta", MEDIA_META_SCHEMA),
        ]
    )

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            metas = [
                None
                if blob is None
                else dict(
                    zip(
                        ("format", "width", "height", "n_frames", "n_bytes"),
                        _parse_header(bytes(blob)),
                    )
                )
                for blob in pdf["media"]
            ]
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "meta": metas})

    return df.select("doc_id", "media").mapInPandas(_decode, out_schema)


def frame_sample(df: DataFrame) -> DataFrame:
    """Sample every 4th frame of each video-like ``media``
    blob (rows keyed by ``doc_id``): one
    output row per sampled frame with a (stub) frame payload slice.

    The explode-shaped mapInPandas pattern for video: input rows fan out
    to variable row counts decided in Python, schema stays declared.
    """
    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("frame_idx", T.IntegerType()),
            T.StructField("frame_bytes", T.BinaryType()),
        ]
    )

    def _sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, payloads = [], [], []
            for doc_id, blob in zip(pdf["doc_id"], pdf["media"]):
                if blob is None:
                    continue
                blob = bytes(blob)
                _, _, _, n_frames, _ = _parse_header(blob)
                body = blob[12:]
                # stub frame extraction: equal byte slices per frame
                step = max(len(body) // max(n_frames, 1), 1)
                for i in range(0, n_frames, 4):
                    ids.append(doc_id)
                    idxs.append(i)
                    payloads.append(body[i * step : (i + 1) * step])
            yield pd.DataFrame(
                {"doc_id": ids, "frame_idx": idxs, "frame_bytes": payloads}
            )

    return df.select("doc_id", "media").mapInPandas(_sample, out_schema)


def media_ahash(df: DataFrame) -> DataFrame:
    """64-bit average-hash (aHash) per ``media`` blob, keyed by
    ``doc_id`` — the perceptual
    near-dup signature for images: downsample the pixel plane to an
    8×8 grid of means, threshold at the median, pack the bits.
    Perceptually-similar images differ in a few bits (compare by
    Hamming distance), unlike cryptographic hashes where one pixel
    flips everything.

    Decode seam: the stub treats the post-header payload bytes as the
    luma plane (a real decoder yields exactly that — swap its pixels
    in; every downstream stage is unchanged). The grid/threshold/bitpack kernel is REAL and
    vectorized per Arrow batch in numpy; output is one int64 per blob,
    so the signature relation the near-dup join consumes is 8 bytes ×
    corpus, never pixels.
    """
    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("ahash", T.LongType()),
        ]
    )

    def _hash(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            ids, sigs = [], []
            for i, blob in zip(pdf["doc_id"], pdf["media"]):
                b = bytes(blob)[12:]  # skip the 12-byte stub header
                arr = np.frombuffer(b, dtype=np.uint8).astype(np.float64)
                if arr.size == 0:
                    cells = np.zeros(64)
                else:
                    idx = np.arange(arr.size) * 64 // arr.size
                    sums = np.bincount(idx, weights=arr, minlength=64)
                    cnts = np.bincount(idx, minlength=64)
                    cells = sums / np.maximum(cnts, 1)
                bits = cells > np.median(cells)
                sig = 0
                for bit in bits:
                    sig = (sig << 1) | int(bit)
                if sig >= 1 << 63:
                    sig -= 1 << 64  # two's-complement into int64
                ids.append(i)
                sigs.append(sig)
            yield pd.DataFrame({"doc_id": ids, "ahash": sigs})

    return df.select("doc_id", "media").mapInPandas(_hash, out_schema)


def media_near_dups(
    df: DataFrame, max_hamming: int = 6, n_bands: int = 4
) -> DataFrame:
    """Perceptual near-dup pairs of ``media`` blobs (keyed by
    ``doc_id``): aHash signatures, banded
    SimHash-style, then exact popcount verification JVM-side
    (``bit_count(xor)``). GUARANTEED recall is Hamming ≤ n_bands − 1
    (pigeonhole: fewer differing bits than bands forces one band to
    match exactly); with the default ``n_bands=4`` pairs at Hamming
    4–6 can miss their band and are a recall trade — callers needing
    certainty at ``max_hamming`` must set ``n_bands > max_hamming``
    (the shipped query uses ``n_bands=8`` for exactly that). Same
    band-then-verify shape as the text SimHash path — pixels never
    join, only 8-byte signatures, and band buckets over
    ``DEFAULT_HOT_BUCKET_CAP`` rows never pair. Returns (``id_a``,
    ``id_b``, ``hamming``)."""
    # pigeonhole: Hamming ≤ n_bands−1 GUARANTEES a shared band; the
    # default (6 > 3) trades guaranteed recall for the conventional
    # threshold — same knob/trade as the text SimHash operator
    band_bits = 64 // n_bands
    sigs = media_ahash(df)
    mask = (1 << band_bits) - 1
    bands = sigs.select(
        F.col("doc_id"),
        "ahash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftrightunsigned(F.col("ahash"), b * band_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("bh"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "ahash", "bb.band", "bb.bh")
    # both join sides read this one shuffle (AQE reuses it), so the
    # signature kernel runs once, not once per side; the hot-bucket cap
    # reads the same partitioning (blank or templated images put every
    # band of the corpus into one bucket, m² pairs on one task)
    bands = cap_hot_buckets(
        bands.repartition("band", "bh"), ["band", "bh"], DEFAULT_HOT_BUCKET_CAP
    )
    cands = (
        _bucket_self_join(bands, "doc_id", ["band", "bh"], ["ahash"])
        .select("id_a", "id_b", "ahash_a", "ahash_b")
        .distinct()
    )
    ham = F.bit_count(F.col("ahash_a").bitwiseXOR(F.col("ahash_b")))
    return (
        cands.withColumn("hamming", ham.cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def chunk_media(df: DataFrame) -> DataFrame:
    """Fixed-window byte chunking of the binary ``media`` column — the
    preprocessing shape every audio/ASR and video pipeline needs
    (windowed segments + per-chunk integrity checksum) expressed for
    Spark: an Arrow-batched ``mapInPandas`` slices each blob's payload
    (12-byte stub header stripped) into 256-byte windows and emits
    (``doc_id``, ``chunk_idx``, ``chunk_len``, ``chunk_md5``) — explode-shaped
    output, rows-per-input bounded by payload/256, blobs never
    shuffled (chunking happens in the scan task; only the ~50-byte
    checksum rows move). The md5 is over raw payload bytes, so an
    oracle that knows the payload construction can recompute every
    checksum (plans/multimodal_queries.media_chunk_checksums does, via
    substring arithmetic on the source text)."""
    import hashlib

    import pandas as pd

    out_schema = "doc_id long, chunk_idx int, chunk_len int, chunk_md5 string"

    def _chunks(batches):
        for pdf in batches:
            ids, idxs, lens, sums = [], [], [], []
            for i, blob in zip(pdf["doc_id"], pdf["media"]):
                payload = bytes(blob)[12:]
                for c in range(0, max(len(payload), 1), 256):
                    piece = payload[c : c + 256]
                    ids.append(i)
                    idxs.append(c // 256)
                    lens.append(len(piece))
                    sums.append(hashlib.md5(piece).hexdigest())
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "chunk_idx": idxs,
                    "chunk_len": lens,
                    "chunk_md5": sums,
                }
            )

    return df.select("doc_id", "media").mapInPandas(_chunks, out_schema)
