"""Same-JVM alternating-order A/B: times the CURRENT registry form of
each named query against the form at a given git ref, in one session
with the harness warm set, alternating old/new order per round.

Usage:
  python bench_ab.py <git_ref> <rounds> q1 q2 ...
The old forms are loaded by exec'ing the ref's plan modules with the
real @query decorator (registrations are snapshotted and restored, so
only the captured function handles differ). Prints per-query rep lists
and min-of-rounds for both forms.
"""
from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import harness  # noqa: E402

REPO = Path(__file__).resolve().parent
MODULES = [
    "technical_test_data_engineer_spark/plans/text_queries.py",
    "technical_test_data_engineer_spark/plans/tpch_extra_queries.py",
    "technical_test_data_engineer_spark/plans/similarity_queries.py",
    "technical_test_data_engineer_spark/plans/relational_breadth_queries.py",
    "technical_test_data_engineer_spark/plans/dedup_queries.py",
    "technical_test_data_engineer_spark/plans/window_queries.py",
]


def main() -> None:
    ref = sys.argv[1]
    rounds = int(sys.argv[2])
    names = sys.argv[3:]

    from technical_test_data_engineer_spark.plans import star_queries as SQ

    QUERIES = SQ.QUERIES
    new_fns = {n: QUERIES[n] for n in names}
    snapshot_q = dict(QUERIES)
    snapshot_o = dict(SQ.ORACLE)
    old_fns = {}
    for mod in MODULES:
        src = subprocess.run(
            ["git", "show", f"{ref}:{mod}"],
            capture_output=True, text=True, cwd=REPO,
        ).stdout
        if not src:
            continue
        QUERIES.clear()
        SQ.ORACLE.clear()
        g = {"__name__": f"old_{Path(mod).stem}"}
        exec(compile(src, f"<{ref}:{mod}>", "exec"), g)
        for n in names:
            if n in QUERIES:
                old_fns[n] = QUERIES[n]
        QUERIES.clear()
        QUERIES.update(snapshot_q)
        SQ.ORACLE.clear()
        SQ.ORACLE.update(snapshot_o)
    missing = [n for n in names if n not in old_fns]
    if missing:
        sys.exit(f"old form not found for {missing} (module list?)")

    spark, sf_dir, cpus = harness.start_session("bench_ab")
    harness.warm(spark, cpus)

    def run_once(fn) -> float:
        return round(harness.run_once(spark, fn, sf_dir).seconds, 3)

    res = {n: {"old": [], "new": []} for n in names}
    # warm both forms once (uncounted) so JIT/codegen state is shared
    for n in names:
        run_once(old_fns[n])
        run_once(new_fns[n])
    for r in range(rounds):
        order = ["old", "new"] if r % 2 == 0 else ["new", "old"]
        for n in names:
            for side in order:
                fn = old_fns[n] if side == "old" else new_fns[n]
                res[n][side].append(run_once(fn))
        print(f"# round {r}: " + json.dumps(res), file=sys.stderr)
    out = {
        n: {
            "old_min": min(v["old"]), "new_min": min(v["new"]),
            "old": v["old"], "new": v["new"],
            "speedup": round(min(v["old"]) / min(v["new"]), 3),
        }
        for n, v in res.items()
    }
    print(json.dumps(out, indent=1))
    spark.stop()


if __name__ == "__main__":
    main()
