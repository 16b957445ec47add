"""Markov multi-touch attribution: absorbing-chain machinery shared by
the removal-effect and exact-Shapley queries.

Scale split (the contract both queries rely on): journey construction
and transition counting are DISTRIBUTED (one per-user window + a
vocabulary-sized groupBy — the event_transition_probs shape); only the
(channels+3)²-bounded count matrix is collected, and every absorption
probability is an (I-Q)x = R solve on a ≤(channels+1)² numpy system —
bounded by the CHANNEL VOCABULARY, never by rows. Same bounded-collect
discipline as the PCA driver eigh (operators/linalg.py).

Replaces nothing in the reference (it has no attribution); the
positional baseline these upgrade is purchase_touch_attribution.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from technical_test_data_engineer_spark.operators.bounded import collect_bounded

START = "START"
CONV = "CONV"
DROP = "DROP"

# the channel vocabulary a chain is solved over; the count matrix it
# fetches holds at most (MAX_CHANNELS + 3)² (src, dst) cells
MAX_CHANNELS = 100


def journey_transition_counts(
    events: DataFrame,
    conversion_type: str = "purchase",
    ts_col: str = "ts",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Distributed transition counts over per-user journeys truncated
    at the FIRST conversion: START→first-touch, touch→touch,
    last-touch→CONV/DROP, plus START→CONV for users converting with no
    prior touches. Output (src, dst, n) is channel-vocabulary-sized.

    Shape (r14): the old union-of-three-projections form ran the
    per-user window TWICE (mid and last branches — Catalyst reuses the
    exchange under it but not the Sort+Window). Now every seq row
    explodes into its mid transition plus, on the journey's last row,
    its CONV/DROP transition, so one window pass feeds the
    vocabulary-sized aggregation. The no-touch-converter branch stays
    a lazy union (its two extra fact scans run in parallel inside the
    same job; an eager persist+count fix-up was measured ~0.5 s SLOWER
    solo — sequential job latency beats the scan savings at bench
    scale, and both forms scan the fact O(1) times at 100 TB)."""
    conv = (
        events.filter(F.col("event_type") == conversion_type)
        .groupBy("user_id")
        .agg(F.min(ts_col).alias("conv_ts"))
    )
    touches = (
        events.filter(F.col("event_type") != conversion_type)
        .join(conv, "user_id", "left")
        .filter(
            F.col("conv_ts").isNull() | (F.col(ts_col) < F.col("conv_ts"))
        )
    )
    w = Window.partitionBy("user_id").orderBy(ts_col, tiebreak_col)
    seq = touches.select(
        "user_id",
        "conv_ts",
        F.col("event_type").alias("ch"),
        F.lag("event_type").over(w).alias("prev"),
        F.lead("event_type").over(w).alias("nxt"),
    )
    mid_pair = F.struct(
        F.coalesce("prev", F.lit(START)).alias("src"),
        F.col("ch").alias("dst"),
    )
    last_pair = F.struct(
        F.col("ch").alias("src"),
        F.when(F.col("conv_ts").isNotNull(), F.lit(CONV))
        .otherwise(F.lit(DROP))
        .alias("dst"),
    )
    pairs = seq.select(
        F.explode(
            F.when(F.col("nxt").isNull(), F.array(mid_pair, last_pair))
            .otherwise(F.array(mid_pair))
        ).alias("t")
    ).select("t.src", "t.dst")
    no_touch = (
        conv.join(touches.select("user_id").distinct(), "user_id", "left_anti")
        .select(F.lit(START).alias("src"), F.lit(CONV).alias("dst"))
    )
    return (
        pairs.unionByName(no_touch)
        .groupBy("src", "dst")
        .agg(F.count("*").alias("n"))
    )


def fetch_transition_counts(events: DataFrame) -> list[dict]:
    """``journey_transition_counts`` on the driver as (src, dst, n)
    dicts, in no particular order: every consumer below sums integer
    counts or reads one cell per (src, dst), so none depends on it."""
    counts = journey_transition_counts(events)
    bound = (MAX_CHANNELS + 3) ** 2
    return collect_bounded(counts, bound, "journey transition counts").to_pylist()


def channels_of(counts: list) -> list[str]:
    """Sorted channel vocabulary appearing in a collected count set."""
    return sorted(
        {r["src"] for r in counts if r["src"] != START}
        | {r["dst"] for r in counts if r["dst"] not in (CONV, DROP)}
    )


def absorption_probability(counts: list, kept: set[str]) -> float:
    """P(START reaches CONV) in the chain restricted to ``kept``
    channels: transitions INTO a removed channel redirect to DROP,
    rows FROM removed channels vanish. Driver-side numpy on a
    ≤(|kept|+1)² system — exact-count deterministic."""
    import numpy as np

    trans = [START] + [c for c in channels_of(counts) if c in kept]
    idx = {s: i for i, s in enumerate(trans)}
    n = len(trans)
    out = np.zeros(n)
    for r in counts:
        if r["src"] in idx:
            out[idx[r["src"]]] += r["n"]
    Q = np.zeros((n, n))
    R = np.zeros(n)
    for r in counts:
        if r["src"] not in idx or out[idx[r["src"]]] == 0:
            continue
        i = idx[r["src"]]
        p = r["n"] / out[i]
        if r["dst"] == CONV:
            R[i] += p
        elif r["dst"] in idx:
            Q[i, idx[r["dst"]]] += p
        # else: DROP, or a removed channel -> DROP (absorbed, p lost)
    if out[idx[START]] == 0:
        return 0.0
    p = np.linalg.solve(np.eye(n) - Q, R)
    return float(p[idx[START]])
