"""W1 top-1-per-group determinism — the reference's underspecified
tie-break (SURVEY.md §2.5), pinned by the engine's explicit total order."""

from __future__ import annotations

from pyspark.sql import functions as F

from technical_test_data_engineer_spark.operators.windows import top1_per_group


def test_top1_tiebreak_deterministic(spark):
    # two rows tie on niveau within dept 75 → lowest id_zone must win
    rows = [("75", 10, 4), ("75", 7, 4), ("75", 99, 2), ("13", 5, 1)]
    df = spark.createDataFrame(rows, "dept string, id_zone int, niveau int")
    top = top1_per_group(df, ["dept"], [F.desc("niveau"), F.asc("id_zone")])
    got = {r.dept: (r.id_zone, r.niveau) for r in top.collect()}
    assert got == {"75": (7, 4), "13": (5, 1)}


def test_top1_repartition_invariant(spark):
    rows = [(g, i, i % 3) for g in ("a", "b") for i in range(50)]
    df = spark.createDataFrame(rows, "g string, id int, lvl int")
    expect = {("a", 2), ("b", 2)}
    for nparts in (1, 7):
        top = top1_per_group(
            df.repartition(nparts), ["g"], [F.desc("lvl"), F.asc("id")]
        )
        assert {(r.g, r.id) for r in top.collect()} == expect


def test_grouped_ewma_hand_values_and_partition_invariance(spark):
    from technical_test_data_engineer_spark.operators.windows import grouped_ewma

    df = spark.createDataFrame(
        [(1, 1, 10.0), (1, 2, 20.0), (1, 3, 30.0), (2, 1, 5.0)],
        "k long, t long, v double",
    )
    out = {
        (r.k, r.t): r.ewma
        for r in grouped_ewma(df, ["k"], ["t"], "v", alpha=0.5).collect()
    }
    assert out[(1, 1)] == 10.0
    assert out[(1, 2)] == 15.0        # 0.5*20 + 0.5*10
    assert out[(1, 3)] == 22.5        # 0.5*30 + 0.5*15
    assert out[(2, 1)] == 5.0
    # partitioning must not change the recurrence (one group = one batch)
    out8 = {
        (r.k, r.t): r.ewma
        for r in grouped_ewma(
            df.repartition(8), ["k"], ["t"], "v", alpha=0.5
        ).collect()
    }
    assert out == out8


def test_removal_effect_hand_computed_chain(spark, tmp_path):
    """Hand-solvable chain: A view->click->purchase, B view->(drop),
    C purchase with no touches. p_full = 1/3 + 2/3 * 1/2 = 2/3;
    removing view: p = 1/3 -> effect 0.5; removing click: same
    (view's only converting continuation) -> equal shares."""
    import datetime as dt

    from technical_test_data_engineer_spark.plans.window_queries import (
        channel_removal_effect,
    )

    t0 = dt.datetime(2024, 1, 1)

    def ts(m):
        return t0 + dt.timedelta(minutes=m)

    rows = [
        (1, ts(1), 100, "view", 1.0, "{}"),
        (2, ts(2), 100, "click", 1.0, "{}"),
        (3, ts(3), 100, "purchase", 1.0, "{}"),
        (4, ts(1), 200, "view", 1.0, "{}"),
        (5, ts(1), 300, "purchase", 1.0, "{}"),
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp_ntz, user_id long, "
        "event_type string, value double, props string",
    ).write.parquet(f"{tmp_path}/events.parquet")
    out = {
        r.channel: (r.removal_effect, r.attribution_share)
        for r in channel_removal_effect(spark, str(tmp_path)).collect()
    }
    assert set(out) == {"view", "click"}
    assert out["view"] == (0.5, 0.5)
    assert out["click"] == (0.5, 0.5)


def test_removal_effect_is_deterministic_and_bounded(spark):
    from technical_test_data_engineer_spark.plans.window_queries import (
        channel_removal_effect,
    )

    a = channel_removal_effect(spark, "/root/testdata/sf0.01").collect()
    b = channel_removal_effect(spark, "/root/testdata/sf0.01").collect()
    assert a == b
    share = sum(r.attribution_share for r in a)
    assert abs(share - 1.0) < 1e-5
    for r in a:
        assert 0.0 <= r.removal_effect <= 1.0


def test_shapley_efficiency_axiom_and_hand_case(spark, tmp_path):
    """Efficiency: Σφ == v(all) - v(∅) exactly (up to rounding). Hand
    case (A view->click->purchase, B view->drop, C direct purchase):
    v(∅)=1/3, v({view})=1/3 (click removed kills the chain),
    v({click})=1/3, v(both)=2/3 -> φ_view = φ_click = 1/6."""
    import datetime as dt

    from technical_test_data_engineer_spark.plans.window_queries import (
        channel_shapley_attribution,
    )

    t0 = dt.datetime(2024, 1, 1)

    def ts(m):
        return t0 + dt.timedelta(minutes=m)

    rows = [
        (1, ts(1), 100, "view", 1.0, "{}"),
        (2, ts(2), 100, "click", 1.0, "{}"),
        (3, ts(3), 100, "purchase", 1.0, "{}"),
        (4, ts(1), 200, "view", 1.0, "{}"),
        (5, ts(1), 300, "purchase", 1.0, "{}"),
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp_ntz, user_id long, "
        "event_type string, value double, props string",
    ).write.parquet(f"{tmp_path}/events.parquet")
    out = {
        r.channel: (r.shapley_value, r.v_empty)
        for r in channel_shapley_attribution(spark, str(tmp_path)).collect()
    }
    assert set(out) == {"view", "click"}
    assert abs(out["view"][0] - 1 / 6) < 1e-6
    assert abs(out["click"][0] - 1 / 6) < 1e-6
    assert abs(out["view"][1] - 1 / 3) < 1e-6


def test_shapley_efficiency_on_fixture(spark):
    from technical_test_data_engineer_spark.operators.attribution import (
        absorption_probability,
        channels_of,
        journey_transition_counts,
    )
    from technical_test_data_engineer_spark.plans.window_queries import (
        channel_shapley_attribution,
    )
    from technical_test_data_engineer_spark.sources.parquet_source import load_table

    sf = "/root/testdata/sf0.01"
    out = channel_shapley_attribution(spark, sf).collect()
    counts = journey_transition_counts(load_table(spark, sf, "events")).collect()
    chans = set(channels_of(counts))
    v_all = absorption_probability(counts, chans)
    v_empty = absorption_probability(counts, set())
    assert abs(sum(r.shapley_value for r in out) - (v_all - v_empty)) < 5e-6


def test_cuped_reduces_variance_on_correlated_outcome(spark, tmp_path):
    """Planted strong covariate (y ~ 2x + small deterministic noise):
    CUPED must cut each arm's outcome variance by >70% while the
    POOLED adjusted mean equals the pooled raw mean exactly (the
    adjustment sums to zero by construction of theta/x-bar)."""
    import datetime as dt

    from technical_test_data_engineer_spark.plans.window_queries import (
        ab_test_cuped,
    )

    t0 = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    for uid in range(60):
        x = 10.0 + (uid % 7) * 5.0       # covariate: view spend
        noise = ((uid * 13) % 5) - 2.0   # deterministic, mean ~0
        y = 2.0 * x + noise              # outcome: purchase spend
        eid += 1
        rows.append((eid, t0, uid, "view", x, "{}"))
        eid += 1
        rows.append((eid, t0 + dt.timedelta(hours=1), uid, "purchase", y, "{}"))
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp_ntz, user_id long, "
        "event_type string, value double, props string",
    ).write.parquet(f"{tmp_path}/events.parquet")

    out = {r.in_a: r for r in ab_test_cuped(spark, str(tmp_path)).collect()}
    assert set(out) == {True, False}
    for arm in out.values():
        assert arm.var_reduction > 0.7, arm
    pooled_raw = sum(r.mean_y * r.n_users for r in out.values())
    pooled_adj = sum(r.mean_y_cuped * r.n_users for r in out.values())
    assert abs(pooled_raw - pooled_adj) < 1e-3


def test_kaplan_meier_invariants(spark):
    """KM invariants the oracle can't state: survival is non-increasing
    in t, within (0, 1] until a die-out, and at each event time equals
    the running product of (1 - d/n) recomputed in Python."""
    from technical_test_data_engineer_spark.plans.streaming_queries import (
        user_conversion_survival,
    )

    out = user_conversion_survival(spark, "/root/testdata/sf0.01").collect()
    assert out
    prev = 1.0
    running = 1.0
    for r in out:
        assert r.n_events >= 1
        assert r.n_at_risk >= r.n_events
        running *= 1.0 - r.n_events / r.n_at_risk
        assert abs(r.survival - round(running, 6)) < 1e-9
        assert r.survival <= prev + 1e-12
        prev = r.survival


def test_benford_uniform_fixture_fails_the_law(spark):
    """The synthetic uniform prices are NOT Benford — the audit must
    say so (large chi2), and the bookkeeping must hold: fractions sum
    to 1, expected fractions sum to 1, counts sum to the filtered
    row count."""
    from technical_test_data_engineer_spark.plans.relational_breadth_queries import (
        orders_benford_audit,
    )
    from technical_test_data_engineer_spark.sources.parquet_source import load_table

    sf = "/root/testdata/sf0.01"
    out = orders_benford_audit(spark, sf).collect()
    assert len(out) == 9
    assert abs(sum(r.observed_frac for r in out) - 1.0) < 1e-4
    assert abs(sum(r.benford_frac for r in out) - 1.0) < 1e-4
    n = (
        load_table(spark, sf, "orders")
        .filter(F.col("o_totalprice") >= 1)
        .count()
    )
    assert sum(r.n for r in out) == n
    chi2 = sum(r.chi2_term for r in out)
    assert chi2 > 15.51  # chi2(8, 0.05) — uniform prices reject Benford


def test_gini_bounds_and_known_values(spark, tmp_path):
    """Equal spends -> G = 0 exactly (up to the (n+1)/n finite-sample
    term); one customer holding everything -> G -> (n-1)/n."""
    import datetime as dt

    from technical_test_data_engineer_spark.plans.relational_breadth_queries import (
        customer_revenue_gini,
    )

    d = dt.date(2024, 1, 1)
    equal = [(i, i, "O", 100.0, d, "1-URGENT", "c", 0, "x") for i in range(10)]
    spark.createDataFrame(
        equal,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate date, o_orderpriority string, "
        "o_clerk string, o_shippriority int, o_comment string",
    ).write.parquet(f"{tmp_path}/e/orders.parquet")
    g0 = customer_revenue_gini(spark, f"{tmp_path}/e").collect()[0]
    assert g0.gini == 0.0

    skew = [(i, i, "O", 0.01 if i else 10000.0, d, "1-URGENT", "c", 0, "x")
            for i in range(10)]
    spark.createDataFrame(
        skew,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate date, o_orderpriority string, "
        "o_clerk string, o_shippriority int, o_comment string",
    ).write.parquet(f"{tmp_path}/s/orders.parquet")
    g1 = customer_revenue_gini(spark, f"{tmp_path}/s").collect()[0]
    assert g1.gini > 0.85


def test_elasticity_recovers_planted_line(spark, tmp_path):
    """Exact planted relation y = -2x + 3 (quantity = e^3 * price^-2):
    the one-pass OLS must return slope -2, intercept 3, r2 = 1."""
    import math

    from technical_test_data_engineer_spark.plans.relational_breadth_queries import (
        price_quantity_elasticity,
    )

    rows = []
    for i, price in enumerate([1.0, 2.0, 4.0, 8.0, 16.0, 32.0]):
        qty = math.exp(3.0) * price ** -2.0
        rows.append((i, i, i, i, qty, qty * price, 0.0, 0.0,
                     "N", "O", None, None, None, "x", "y", "z"))
    spark.createDataFrame(
        rows,
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber long, "
        "l_quantity double, l_extendedprice double, l_discount double, "
        "l_tax double, l_returnflag string, l_linestatus string, "
        "l_shipdate date, l_commitdate date, l_receiptdate date, "
        "l_shipinstruct string, l_shipmode string, l_comment string",
    ).write.parquet(f"{tmp_path}/lineitem.parquet")
    out = price_quantity_elasticity(spark, str(tmp_path)).collect()[0]
    assert out.n_rows == 6
    assert abs(out.elasticity + 2.0) < 1e-6
    assert abs(out.intercept - 3.0) < 1e-6
    assert out.r2 == 1.0


def test_grouped_holt_hand_values(spark):
    from technical_test_data_engineer_spark.operators.windows import grouped_holt

    df = spark.createDataFrame(
        [(1, 1, 10.0), (1, 2, 20.0), (1, 3, 30.0), (2, 1, 7.0)],
        "k long, t long, v double",
    )
    out = {
        (r.k, r.t): (r.lvl, r.trend)
        for r in grouped_holt(
            df, ["k"], ["t"], "v", alpha=0.5, beta=0.5
        ).collect()
    }
    # l0=10, b0=0; l1=0.5*20+0.5*10=15, b1=0.5*(15-10)+0.5*0=2.5
    # l2=0.5*30+0.5*(15+2.5)=23.75, b2=0.5*(23.75-15)+0.5*2.5=5.625
    assert out[(1, 1)] == (10.0, 0.0)
    assert out[(1, 2)] == (15.0, 2.5)
    assert out[(1, 3)] == (23.75, 5.625)
    assert out[(2, 1)] == (7.0, 0.0)
    # partitioning must not change the recurrence
    out8 = {
        (r.k, r.t): (r.lvl, r.trend)
        for r in grouped_holt(
            df.repartition(8), ["k"], ["t"], "v", alpha=0.5, beta=0.5
        ).collect()
    }
    assert out == out8


def test_kstep_conversion_approaches_absorption(spark, sf_dir):
    """The truncated k-step conversion must be monotone in k and
    converge to the absorbing-chain solve that channel_removal_effect
    uses — the consistency link between the oracle-pairable twin and
    the matrix-algebra original."""
    from technical_test_data_engineer_spark.operators.attribution import (
        absorption_probability,
        channels_of,
        journey_transition_counts,
    )
    import technical_test_data_engineer_spark.plans.window_queries as wq
    from technical_test_data_engineer_spark.sources.parquet_source import (
        load_table,
    )

    ev = load_table(spark, sf_dir, "events")
    counts = journey_transition_counts(ev).collect()
    p_full = absorption_probability(counts, set(channels_of(counts)))
    k8 = {
        r["state"]: r["p_convert_k8"]
        for r in wq.channel_conversion_k8(spark, sf_dir).collect()
    }
    p8 = k8["START"]
    assert 0.0 <= p8 <= p_full + 1e-9
    # run the same driver recursion far deeper: must converge to the solve
    old = wq._K_STEPS
    try:
        wq._K_STEPS = 64
        k64 = {
            r["state"]: r["p_convert_k8"]
            for r in wq.channel_conversion_k8(spark, sf_dir).collect()
        }
    finally:
        wq._K_STEPS = old
    assert k64["START"] >= p8 - 1e-9
    assert abs(k64["START"] - p_full) < 1e-3, (k64["START"], p_full)
