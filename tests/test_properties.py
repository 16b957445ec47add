"""Property-based differential tests (hypothesis): engine operators vs
an independent pandas implementation on random inputs. Complements the
fixed-fixture oracle gate with adversarial small cases (ties, empty
groups, single-row groups, equal timestamps).

Few examples + session-scoped Spark keep runtime bounded; shrinking
still produces minimal counterexamples on failure.
"""

from __future__ import annotations

import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from technical_test_data_engineer_spark.operators.joins import asof_join
from technical_test_data_engineer_spark.operators.windows import top1_per_group

SETTINGS = dict(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)

rows_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=4),   # group
        st.integers(min_value=-5, max_value=5),  # value (ties likely)
        st.integers(min_value=0, max_value=99),  # id (tiebreak)
    ),
    min_size=1,
    max_size=30,
)


@given(rows=rows_strategy)
@settings(**SETTINGS)
def test_top1_per_group_matches_pandas(spark, rows):
    # unique ids so (value desc, id asc) is a total order
    rows = [(g, v, i) for i, (g, v, _) in enumerate(rows)]
    df = spark.createDataFrame(rows, "g long, v long, id long")
    got = {
        (r.g, r.v, r.id)
        for r in top1_per_group(df, ["g"], [F.desc("v"), F.asc("id")]).collect()
    }
    pdf = pd.DataFrame(rows, columns=["g", "v", "id"])
    want = {
        tuple(r)
        for r in pdf.sort_values(["v", "id"], ascending=[False, True])
        .drop_duplicates("g", keep="first")
        .itertuples(index=False)
    }
    assert got == want


asof_strategy = st.tuples(
    st.lists(  # left: (key, ts)
        st.tuples(st.integers(0, 2), st.integers(0, 20)),
        min_size=1,
        max_size=15,
    ),
    st.lists(  # right: (key, ts, payload)
        st.tuples(st.integers(0, 2), st.integers(0, 20), st.integers(0, 99)),
        min_size=0,
        max_size=15,
    ),
)


@given(data=asof_strategy)
@settings(**SETTINGS)
def test_asof_join_matches_pandas_merge_asof(spark, data):
    lrows, rrows = data
    lrows = [(k, t, i) for i, (k, t) in enumerate(lrows)]
    # dedupe right on (key, ts): merge_asof picks the LAST among equal
    # ts while the window picks a hash-order row — both valid "a" match;
    # uniqueness makes the expected answer unambiguous
    rmap = {(k, t): p for k, t, p in rrows}
    rrows = [(k, t, p) for (k, t), p in sorted(rmap.items())]
    left = spark.createDataFrame(lrows, "k long, ts long, lid long")
    if rrows:
        right = spark.createDataFrame(rrows, "k long, ts long, payload long")
    else:
        right = spark.createDataFrame([], "k long, ts long, payload long")
    got = {
        (r.lid, r.payload)
        for r in asof_join(
            left, right, on="k", left_ts="ts", right_ts="ts"
        ).collect()
    }
    lpdf = pd.DataFrame(lrows, columns=["k", "ts", "lid"]).sort_values("ts")
    rpdf = pd.DataFrame(rrows, columns=["k", "ts", "payload"]).sort_values("ts")
    if len(rpdf):
        m = pd.merge_asof(lpdf, rpdf, on="ts", by="k", direction="backward")
        want = {
            (int(r.lid), None if pd.isna(r.payload) else int(r.payload))
            for r in m.itertuples(index=False)
        }
    else:
        want = {(int(lid), None) for _, _, lid in lrows}
    assert got == want


@given(
    vals=st.lists(
        st.floats(
            min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False
        ),
        min_size=1,
        max_size=40,
    ),
    n_parts=st.integers(min_value=1, max_value=8),
)
@settings(**SETTINGS)
def test_exact_sum_partition_invariant(spark, vals, n_parts):
    """exact_sum must not depend on partitioning/reduction order."""
    from decimal import Decimal

    from technical_test_data_engineer_spark.functions.scalars import exact_sum

    df = spark.createDataFrame([(v,) for v in vals], "x double").repartition(n_parts)
    got = df.agg(exact_sum("x", "s")).collect()[0]["s"]
    want = float(sum(Decimal(str(round(v, 10))) for v in vals))
    assert abs(got - want) < 1e-4 * max(1.0, abs(want))


@given(rows=rows_strategy, k=st.integers(min_value=1, max_value=4))
@settings(**SETTINGS)
def test_local_topk_prune_is_lossless(spark, rows, k):
    # the per-partition pre-top-k must never change the final global
    # top-k under (score desc, id asc) — tie-heavy scores and a forced
    # multi-partition layout stress the local prune boundary
    from pyspark.sql.window import Window

    from technical_test_data_engineer_spark.operators.similarity import (
        local_topk,
    )

    rows = [(q, float(v), i) for i, (q, v, _) in enumerate(rows)]
    df = spark.createDataFrame(
        rows, "query_id long, score double, vec_id long"
    ).repartition(4)
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("vec_id")
    )

    def finish(scored):
        return {
            (r.query_id, r.vec_id, r.rank)
            for r in scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .collect()
        }

    scored = df.select("query_id", "vec_id", "score")
    assert finish(local_topk(scored, k)) == finish(scored)


spans_strategy = st.lists(
    st.lists(st.integers(0, 5), min_size=0, max_size=12),  # docs as token-id lists
    min_size=1,
    max_size=8,
)


@given(docs=spans_strategy)
@settings(**SETTINGS)
def test_repeated_kgram_spans_matches_reference(spark, docs):
    """Differential vs a direct Python implementation: same k-gram
    repeats, same maximal-span merge, on random tiny-vocab corpora
    (small vocab → repeats are common; empty/short docs included)."""
    from collections import Counter

    from technical_test_data_engineer_spark.operators.text import (
        repeated_kgram_spans,
    )

    k = 3
    texts = [" ".join(f"t{t}" for t in toks) for toks in docs]
    rows = [(i, s) for i, s in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.doc_id, r.span_start, r.span_end)
        for r in repeated_kgram_spans(df, k=k).collect()
    }

    # reference: count grams, mark repeated positions, merge islands.
    # NOTE tokenization parity: Spark's split("", " ") yields [""], so
    # an empty text is ONE empty token, exactly like " ".join([]) here
    toksets = [s.split(" ") for s in texts]
    counts = Counter(
        " ".join(t[i : i + k])
        for t in toksets
        if len(t) >= k
        for i in range(len(t) - k + 1)
    )
    want = set()
    for doc_id, t in enumerate(toksets):
        if len(t) < k:
            continue
        hits = [
            i + 1
            for i in range(len(t) - k + 1)
            if counts[" ".join(t[i : i + k])] >= 2
        ]
        cur = None
        for p in hits:
            e = p + k - 1
            if cur is None:
                cur = [p, e]
            elif p <= cur[1] + 1:
                cur[1] = max(cur[1], e)
            else:
                want.add((doc_id, cur[0], cur[1]))
                cur = [p, e]
        if cur is not None:
            want.add((doc_id, cur[0], cur[1]))
    assert got == want


semdedup_strategy = st.lists(
    st.tuples(st.integers(0, 1), st.integers(-2, 2), st.integers(-2, 2)),
    min_size=1,
    max_size=12,
)


@given(rows=semdedup_strategy)
@settings(**SETTINGS)
def test_semantic_dedup_matches_reference(spark, rows):
    """Differential vs direct Python: nearest-centroid assignment
    (strict-> argmax, lowest cluster on ties), within-cluster pairing,
    keep-lowest-centroid-sim drops — integer-valued vectors so every
    comparison is exact in both implementations."""
    from technical_test_data_engineer_spark.operators.dedup import semantic_dedup

    centroids = [[1.0, 0.0], [0.0, 1.0]]
    data = [(i, [float(x), float(y)]) for i, (_, x, y) in enumerate(rows)]
    df = spark.createDataFrame(data, "vec_id long, embedding array<float>")
    thr = 2.0
    got = {
        (r.vec_id, r.cluster)
        for r in semantic_dedup(df, centroids, threshold=thr).collect()
    }

    def dot(a, b):
        return sum(x * y for x, y in zip(a, b))

    assign = {}
    for i, v in data:
        sims = [dot(v, c) for c in centroids]
        best = max(range(len(sims)), key=lambda j: (sims[j], -j))
        assign[i] = (best, sims[best])
    drops = set()
    for i, v in data:
        for j, w in data:
            if i < j and assign[i][0] == assign[j][0] and dot(v, w) >= thr:
                si, sj = assign[i][1], assign[j][1]
                drops.add(i if (si > sj or (si == sj and i > j)) else j)
    want = {(i, assign[i][0]) for i, _ in data if i not in drops}
    assert got == want


scd2_strategy = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=3),     # key
        st.integers(min_value=0, max_value=40),    # ts
        st.sampled_from(["a", "b", None]),         # attr (None is a state)
    ),
    min_size=1,
    max_size=25,
    unique_by=lambda t: (t[0], t[1]),              # one event per (key, ts)
)


@given(rows=scd2_strategy)
@settings(max_examples=20, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_scd2_intervals_partition_timeline(spark, rows):
    """Structural invariants for any changelog: per key, versions are
    1..n contiguous; valid_from < valid_to for every closed interval;
    consecutive intervals chain exactly (no gaps, no overlaps); exactly
    one open (is_current) interval per key — and consecutive intervals
    always differ in the attribute (else they'd have collapsed)."""
    from technical_test_data_engineer_spark.sources.maintenance import (
        scd2_from_changelog,
    )

    df = spark.createDataFrame(rows, "k int, t int, attr string")
    out = sorted(
        scd2_from_changelog(df, ["k"], "t", ["attr"]).collect(),
        key=lambda r: (r.k, r.version),
    )
    by_key: dict = {}
    for r in out:
        by_key.setdefault(r.k, []).append(r)
    assert set(by_key) == {k for k, _, _ in rows}
    for k, versions in by_key.items():
        assert [r.version for r in versions] == list(range(1, len(versions) + 1))
        first_ts = min(t for kk, t, _ in rows if kk == k)
        assert versions[0].valid_from == first_ts
        for prev, cur in zip(versions, versions[1:]):
            assert prev.valid_to == cur.valid_from   # chain, no gap/overlap
            assert prev.attr != cur.attr or (
                (prev.attr is None) != (cur.attr is None)
            )
            assert not prev.is_current
        assert versions[-1].is_current and versions[-1].valid_to is None


fuzzy_strategy = st.lists(
    st.text(alphabet="abc", min_size=1, max_size=5).map(lambda s: s + " x"),
    min_size=1,
    max_size=12,
)


@given(names=fuzzy_strategy)
@settings(max_examples=15, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_fuzzy_pairs_matches_bruteforce_levenshtein(spark, names):
    """Blocked fuzzy_pairs over a single shared block must equal the
    brute-force all-pairs edit-distance filter (blocking is pure
    routing here — every name shares the ' x' noun), including the
    length-band prefilter never dropping a qualifying pair."""
    import itertools

    from technical_test_data_engineer_spark.operators.joins import fuzzy_pairs

    def lev(a, b):
        if len(a) < len(b):
            a, b = b, a
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                               prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    df = spark.createDataFrame([(n,) for n in names], "name string")
    got = {
        (r.name_a, r.name_b, r.edit_dist)
        for r in fuzzy_pairs(
            df, "name",
            block=lambda c: F.element_at(F.split(c, " "), -1),
            max_dist=2,
        ).collect()
    }
    uniq = sorted(set(names))
    want = {
        (a, b, lev(a, b))
        for a, b in itertools.combinations(uniq, 2)
        if 1 <= lev(a, b) <= 2
    }
    assert got == want


pareto_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=8),  # a (minimize; ties likely)
        st.integers(min_value=0, max_value=8),  # b (maximize)
    ),
    min_size=1,
    max_size=40,
)


@given(pts=pareto_strategy)
@settings(**SETTINGS)
def test_pareto_front_matches_bruteforce_and_is_idempotent(spark, pts):
    from technical_test_data_engineer_spark.operators.relational import (
        pareto_front,
    )

    rows = [(i, float(a), b) for i, (a, b) in enumerate(pts)]
    df = spark.createDataFrame(rows, "id long, a double, b int")
    sky = pareto_front(df, minimize=("a",), maximize=("b",))
    got = sorted(r["id"] for r in sky.collect())
    want = sorted(
        i
        for i, a, b in rows
        if not any(
            a2 <= a and b2 >= b and (a2 < a or b2 > b) for _, a2, b2 in rows
        )
    )
    assert got == want
    # idempotence: skyline(skyline(X)) == skyline(X)
    again = sorted(
        r["id"]
        for r in pareto_front(sky, minimize=("a",), maximize=("b",)).collect()
    )
    assert again == got


rrf_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2),   # query
        st.integers(min_value=0, max_value=9),   # candidate
    ),
    min_size=1,
    max_size=15,
    unique=True,
)


@given(pairs_a=rrf_strategy, pairs_b=rrf_strategy)
@settings(**SETTINGS)
def test_rrf_fuse_is_list_order_invariant_and_matches_reference(
    spark, pairs_a, pairs_b
):
    from technical_test_data_engineer_spark.operators.similarity import rrf_fuse

    def ranked(pairs):
        # rank candidates within each query by candidate id (any
        # deterministic order works — RRF only consumes ranks)
        out, seen = [], {}
        for q, c in sorted(set(pairs)):
            seen.setdefault(q, 0)
            seen[q] += 1
            out.append((q, c, seen[q]))
        return out

    ra, rb = ranked(pairs_a), ranked(pairs_b)
    dfa = spark.createDataFrame(ra, "query_id long, cand_id long, rank int")
    dfb = spark.createDataFrame(rb, "query_id long, cand_id long, rank int")
    got = {
        (r["query_id"], r["cand_id"]): r["rrf_score"]
        for r in rrf_fuse([dfa, dfb], k=100).collect()
    }
    flipped = {
        (r["query_id"], r["cand_id"]): r["rrf_score"]
        for r in rrf_fuse([dfb, dfa], k=100).collect()
    }
    assert set(got) == set(flipped)
    for k in got:
        assert abs(got[k] - flipped[k]) < 1e-12  # score symmetric in lists
    # reference scores
    amap = {(q, c): r for q, c, r in ra}
    bmap = {(q, c): r for q, c, r in rb}
    for (q, c), s in got.items():
        want = (1.0 / (60 + amap[(q, c)]) if (q, c) in amap else 0.0) + (
            1.0 / (60 + bmap[(q, c)]) if (q, c) in bmap else 0.0
        )
        assert abs(s - want) < 1e-12


@given(
    vals=st.lists(st.integers(-100, 100), min_size=1, max_size=40),
    split=st.integers(0, 39),
    n_keys=st.integers(1, 4),
)
@settings(**SETTINGS)
def test_merge_partial_aggs_split_invariant(spark, vals, split, n_keys):
    """Partial-aggregate merge must equal the full recompute for ANY
    split point of the input — the algebraic identity behind
    incremental view maintenance."""
    from technical_test_data_engineer_spark.sources.maintenance import (
        merge_partial_aggs,
    )

    rows = [(i % n_keys, float(v)) for i, v in enumerate(vals)]
    split = min(split, len(rows))
    df = spark.createDataFrame(rows, "k int, v double")

    def partial(d):
        return d.groupBy("k").agg(
            F.count("*").alias("n"),
            F.sum(F.col("v").cast("decimal(30,10)")).alias("s"),
        )

    left = spark.createDataFrame(rows[:split] or [], "k int, v double")
    right = spark.createDataFrame(rows[split:] or [], "k int, v double")
    merged = merge_partial_aggs(partial(left), partial(right), ["k"], ["n", "s"])
    got = {r["k"]: (r["n"], float(r["s"] or 0)) for r in merged.collect()}
    want = {r["k"]: (r["n"], float(r["s"])) for r in partial(df).collect()}
    assert got == want


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 24), st.integers(0, 24)),
        min_size=0,
        max_size=40,
    ),
)
@settings(**SETTINGS)
def test_connected_components_paths_agree(spark, edges):
    """The distributed large-star/small-star path and the driver
    union-find fast path must label ANY random graph identically
    (self-loops and duplicate edges included) — and both must satisfy
    the contract: component = min reachable id."""
    from technical_test_data_engineer_spark.operators.graph import (
        connected_components,
    )

    nodes = spark.createDataFrame([(i,) for i in range(25)], "id long")
    e = (
        spark.createDataFrame(edges, "src long, dst long")
        if edges
        else spark.createDataFrame([], "src long, dst long")
    )
    fast = {
        r["id"]: r["component"]
        for r in connected_components(nodes, e).collect()
    }
    star = {
        r["id"]: r["component"]
        for r in connected_components(
            nodes, e, driver_max_edges=0
        ).collect()
    }
    assert fast == star
    # contract check against a plain reference union-find
    parent = list(range(25))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {i: find(i) for i in range(25)}
    assert fast == want


@given(
    log=st.lists(
        st.tuples(
            st.integers(0, 3),      # key
            st.integers(0, 50),     # ts offset
            st.sampled_from(["a", "b", "c", None]),  # attribute state
        ),
        min_size=1,
        max_size=25,
    ),
)
@settings(**SETTINGS)
def test_scd2_interval_invariants(spark, log):
    """For ANY changelog (duplicate timestamps, NULL states, repeats):
    each key's SCD2 intervals are contiguous (valid_to == next
    valid_from), exactly one row per key is current (NULL valid_to),
    versions are dense from 1, and consecutive versions always differ
    in the attribute (null-safely)."""
    from technical_test_data_engineer_spark.sources.maintenance import (
        scd2_from_changelog,
    )

    rows = [
        (k, i, float(ts), v)  # i = unique tiebreak id
        for i, (k, ts, v) in enumerate(log)
    ]
    df = spark.createDataFrame(
        rows, "k int, seq long, ts double, state string"
    )
    out = scd2_from_changelog(
        df, key_cols=["k"], ts_col="ts", attr_cols=["state"],
        tiebreak="seq",
    ).collect()
    by_key: dict = {}
    for r in out:
        by_key.setdefault(r["k"], []).append(r)
    for k, versions in by_key.items():
        versions.sort(key=lambda r: r["version"])
        assert [r["version"] for r in versions] == list(
            range(1, len(versions) + 1)
        )
        currents = [r for r in versions if r["valid_to"] is None]
        assert len(currents) == 1 and currents[0] is versions[-1]
        for a, b in zip(versions, versions[1:]):
            assert a["valid_to"] == b["valid_from"], (k, a, b)
            assert a["state"] != b["state"] or (
                (a["state"] is None) != (b["state"] is None)
            ), (k, a, b)
