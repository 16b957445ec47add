"""Solo per-query bench: same session, warm set and timing protocol as
bench.py, but only the named queries, two reps each. Usage:
  python bench_solo.py q1 q2 ...
Prints per-rep build/write seconds and job counts plus per-query rep
times to stderr, and one JSON line {name: min rep seconds} to stdout.
"""
from __future__ import annotations

import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import harness  # noqa: E402


def main() -> None:
    names = [a for a in sys.argv[1:] if not a.startswith("-")]

    from technical_test_data_engineer_spark.plans.star_queries import QUERIES

    spark, sf_dir, cpus = harness.start_session("bench_solo")
    harness.warm(spark, cpus)

    out: dict[str, list[float]] = {}
    for n in names:
        reps = harness.time_query(spark, QUERIES[n], sf_dir, floor=0)
        for r in reps:
            print(
                f"#   build {r.build_s:.3f}s write {r.seconds - r.build_s:.3f}s"
                f" jobs {r.jobs}",
                file=sys.stderr,
            )
        ts = [round(r.seconds, 3) for r in reps]
        out[n] = ts
        print(f"# {n}: min {min(ts):.3f}  reps {ts}", file=sys.stderr)
    print(json.dumps({n: min(t) for n, t in out.items()}))
    spark.stop()


if __name__ == "__main__":
    main()
