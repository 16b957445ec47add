"""Capture .explain('formatted') for named queries into plans/r15/.

Usage: python capture_plan.py <suffix> q1 q2 ...
Writes plans/r15/<query>_<suffix>.txt. Not part of the bench path:
the plans are compiled, not executed — but a driver-side query runs
Spark jobs while its plan is built (its bounded collects), so a capture
is not free of job work and can perturb a concurrent timing run.
"""
from __future__ import annotations

import os
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import harness  # noqa: E402


def main() -> None:
    suffix = sys.argv[1]
    names = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = Path(__file__).resolve().parent / "plans" / "r15"
    out_dir.mkdir(parents=True, exist_ok=True)

    from technical_test_data_engineer_spark.plans.star_queries import QUERIES
    from technical_test_data_engineer_spark.session import get_spark

    spark = get_spark("capture_plan", master="local[4]", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    for n in names:
        df = QUERIES[n](spark, sf_dir)
        txt = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        p = out_dir / f"{n}_{suffix}.txt"
        p.write_text(txt)
        n_exch = txt.count("Exchange")
        n_scan = txt.count("Scan parquet")
        print(f"{n}: {len(txt.splitlines())} lines, {n_exch} Exchange, "
              f"{n_scan} scans -> {p.name}")
        harness.release(spark)
    spark.stop()


if __name__ == "__main__":
    main()
