"""Round-11 property-based differential tests (hypothesis): the
telescoping exactly-once property behind the streaming ingest-dedup
loop, and the int-scaled literal projection vs a pure-numpy reference
on random inputs — adversarial small cases the fixed fixtures can't
enumerate (duplicate texts across batches, near-boundary rounding).
"""

from __future__ import annotations

import numpy as np
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[
        HealthCheck.too_slow,
        HealthCheck.function_scoped_fixture,
    ],
)

# documents built from a tiny shared vocabulary so exact-Jaccard >= 0.5
# pairs (and band collisions) are LIKELY — random unrelated strings
# would make every example vacuously pairless
_WORDS = ["alpha", "beta", "gamma", "delta", "epsilon"]
docs_strategy = st.lists(
    st.lists(st.sampled_from(_WORDS), min_size=3, max_size=8).map(" ".join),
    min_size=2,
    max_size=10,
)


@given(texts=docs_strategy, n_old=st.integers(0, 3), cut=st.integers(1, 9))
@settings(**SETTINGS)
def test_incremental_dedup_telescopes_to_one_shot(spark, texts, n_old, cut):
    """Feeding the new docs in TWO sequential increments (the
    streaming_ingest_dedup shape: each increment joins against the
    corpus-so-far INCLUDING itself) must emit exactly the one-shot
    incremental result, each pair exactly once — for any split point
    and any old/new boundary."""
    from technical_test_data_engineer_spark.operators.dedup import (
        minhash_incremental_pairs,
    )

    rows = [(i, t) for i, t in enumerate(texts)]
    n_old = min(n_old, len(rows) - 1)
    old, new = rows[:n_old], rows[n_old:]
    cut = min(cut, len(new) - 1) or 1
    b1, b2 = new[:cut], new[cut:]

    def df(r):
        return spark.createDataFrame(r, "doc_id long, text string")

    def pairs(corpus_rows, new_rows):
        if not new_rows:
            return set()
        out = minhash_incremental_pairs(
            df(corpus_rows), df(new_rows), threshold=0.5,
            hot_bucket_cap=None,
        ).collect()
        return {(r.id_a, r.id_b, r.jaccard) for r in out}

    got1 = pairs(old + b1, b1)
    got2 = pairs(old + b1 + b2, b2)
    # exactly-once: the two increments never re-emit each other's pairs
    assert not (got1 & got2)
    want = pairs(old + new, new)
    assert got1 | got2 == want


vec_strategy = st.lists(
    st.lists(
        st.floats(
            min_value=-2.0, max_value=2.0,
            allow_nan=False, allow_infinity=False, width=32,
        ),
        min_size=6, max_size=6,
    ),
    min_size=1, max_size=12,
)


@given(vecs=vec_strategy, seed=st.integers(0, 10_000))
@settings(**SETTINGS)
def test_project_embeddings_int_scaled_matches_numpy(spark, vecs, seed):
    """project_embeddings(int_scaled=True) == the per-term
    away-from-zero fold computed independently in scalar numpy, for
    random vectors/mean/components — pins the Arrow-batched kernel's
    rounding convention (sign*floor(abs+0.5), never rint's half-even)
    on adversarial floats."""
    from technical_test_data_engineer_spark.operators.linalg import (
        project_embeddings,
    )

    rng = np.random.RandomState(seed)
    mean = rng.uniform(-0.5, 0.5, 6)
    comps = rng.normal(size=(3, 6))
    rows = [(i, [float(np.float32(x)) for x in v]) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {
        (r.vec_id, c): v
        for r in project_embeddings(df, mean, comps, int_scaled=True).collect()
        for c, v in enumerate(r.pc)
    }
    want = {}
    for i, v in rows:
        x = np.asarray(v, dtype=np.float64)
        for c in range(3):
            t = (x - mean) * comps[c] * 1e10
            t = np.sign(t) * np.floor(np.abs(t) + 0.5)
            want[(i, c)] = int(t.sum())
    assert got == want


buckets_strategy = st.lists(
    st.tuples(
        st.integers(0, 3),   # band
        st.integers(0, 3),   # band hash (few distinct -> hot buckets)
        st.integers(0, 99),  # doc id
    ),
    min_size=1,
    max_size=40,
)


@given(rows=buckets_strategy, cap=st.integers(1, 6))
@settings(**SETTINGS)
def test_cap_hot_buckets_properties(spark, rows, cap):
    """cap_hot_buckets on random bucket populations: (1) output is a
    subset of the input rows; (2) a bucket survives IFF its population
    is <= cap, and it survives WHOLE (all-or-nothing — the production
    semantics: a degenerate bucket is dropped, never sampled); (3)
    cap=None is the identity."""
    from collections import Counter

    from technical_test_data_engineer_spark.operators.dedup import (
        cap_hot_buckets,
    )

    rows = list({(b, h, i) for b, h, i in rows})  # distinct members
    df = spark.createDataFrame(rows, "_band long, _bh long, doc_id long")
    got = {
        (r._band, r._bh, r.doc_id)
        for r in cap_hot_buckets(df, ["_band", "_bh"], cap).collect()
    }
    pop = Counter((b, h) for b, h, _ in rows)
    want = {(b, h, i) for b, h, i in rows if pop[(b, h)] <= cap}
    assert got == want
    assert {
        tuple(r) for r in cap_hot_buckets(df, ["_band", "_bh"], None).collect()
    } == set(rows)


texts_strategy = st.lists(
    st.integers(min_value=0, max_value=60),  # token count per doc
    min_size=1,
    max_size=8,
)


@given(n_tokens=texts_strategy, chunk=st.integers(2, 10), stride=st.integers(1, 10))
@settings(**SETTINGS)
def test_token_chunks_cover_exactly(spark, n_tokens, chunk, stride):
    """token_chunks on synthetic token streams: chunk starts are exactly
    1, 1+stride, ... <= max(n,1); each chunk is the verbatim token
    window of length min(chunk_size, remaining); concatenating stride-
    prefixes of the chunks (plus the last chunk's tail) reconstructs
    the document — no token lost, none duplicated beyond the designed
    overlap."""
    from technical_test_data_engineer_spark.operators.text import token_chunks

    rows = [
        (i, " ".join(f"t{i}_{j}" for j in range(n)) if n else "")
        for i, n in enumerate(n_tokens)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: r.chunks
        for r in df.select(
            "doc_id", token_chunks(chunk, stride).alias("chunks")
        ).collect()
    }
    for doc_id, text in rows:
        toks = text.split(" ")  # note: "" splits to [""] — one token,
        # matching Spark's split semantics on the empty string
        starts = list(range(0, max(len(toks), 1), stride))
        want = [" ".join(toks[s : s + chunk]) for s in starts]
        assert got[doc_id] == want, (doc_id, got[doc_id], want)
