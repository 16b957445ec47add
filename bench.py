"""Benchmark harness — runs every headline query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Per-query timing includes full materialization of EVERY output column
(noop-format write), not session startup. ``df.count()`` is NOT the
materializer: Catalyst prunes all columns under a count, so per-row
expression work (winnowing, signatures, chunk text) would go untimed —
round-1 recorded 0.26 s for a winnowing query whose real cost was ~10 s.

Steady-state protocol (r08, r07 verdict item 5): queries run in a fixed
order after ``harness.warm``; any query whose first rep takes 1.5 s or
more is re-run once and the MIN of the two reps is recorded (see
``harness.time_query``).
"""

from __future__ import annotations

import json
import os
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import harness  # noqa: E402

REP2_FLOOR_S = 1.5


def main() -> None:
    from technical_test_data_engineer_spark.plans.star_queries import QUERIES

    spark, sf_dir, cpus = harness.start_session("bench")
    harness.warm(spark, cpus)

    timings: dict[str, float] = {}
    for name, fn in QUERIES.items():
        reps = [
            r.seconds
            for r in harness.time_query(spark, fn, sf_dir, REP2_FLOOR_S)
        ]
        timings[name] = round(min(reps), 3)
        if len(reps) == 2:
            print(
                f"# {name}: {timings[name]:.3f}s"
                f" (rep0 {reps[0]:.3f}, rep1 {reps[1]:.3f})",
                file=sys.stderr,
            )
        else:
            print(f"# {name}: {timings[name]:.3f}s", file=sys.stderr)

    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    try:
        sf_val: float | str = float(sf)
    except ValueError:
        sf_val = sf
    result = {
        "metric": "total_query_wall_clock",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf_val,
    }
    # Code-cache telemetry (stderr, r10): the r9 driver bench showed
    # unchanged bounded plans at 4-6x solo steady state — the JVM's
    # default 240 MB code cache fills mid-sweep and HotSpot flushes
    # compiled fold methods (session.py now reserves 1 GiB). Record
    # end-of-sweep usage so a recurrence is diagnosable from the log.
    pools = spark._jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans()
    for i in range(pools.size()):
        p = pools.get(i)
        if "CodeHeap" in p.getName():
            u = p.getUsage()
            print(
                f"# codecache {p.getName()}: "
                f"{u.getUsed() // (1024 * 1024)} / "
                f"{u.getMax() // (1024 * 1024)} MB",
                file=sys.stderr,
            )
    print(json.dumps(result))
    # The driver's BENCH_r{N}.json stores only a 2000-char stdout tail —
    # too short for 112 per-query timings, so round-over-round claims
    # were resting on a partial overlap (round-3 advice). Persist the
    # FULL parsed dict next to the repo so bench_diff.py always has
    # complete per-query coverage; committed once per round.
    full = Path(__file__).resolve().parent / "BENCH_FULL.json"
    full.write_text(json.dumps(result, indent=1) + "\n", encoding="utf-8")
    spark.stop()


if __name__ == "__main__":
    main()
