"""Self-test of the benchmark at sf0.001.

    python3 perfbench/selftest.py

Runs every workload of BENCHMARK.json once untraced and once traced,
each for a one-second window, and checks that:

- every metric BENCHMARK.json names is printed, with its unit;
- every operation succeeded and every output matched its check;
- on the batch workloads, the traced run's ``plans.build_ms +
  exec.action_ms`` per pass reconciles with the untraced ``sweep_s``
  within the reported tracing overhead per pass, plus 35% for
  run-to-run noise at this scale;
- each workload loads the layers it was chosen for: every
  ``batch_driver`` query launches jobs while its plan is built and no
  ``batch_distributed`` query does, the batch workloads write nothing
  under the run's work directory, a list with Python-worker queries
  sends data to Python workers, and ``dashboard_session`` runs none.

Exits non-zero on the first failed check.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import queries

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(spec: dict, workload: str, trace: int) -> tuple[dict, dict]:
    cmd = [sys.executable, *spec["command"][1:], "--workload", workload,
           "--seed", "1", "--seconds", "1", "--trace", str(trace),
           "--sf", "0.001"]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                          timeout=300, check=False)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or len(lines) < 2:
        sys.exit(f"{workload} trace={trace}: exit {proc.returncode}\n"
                 f"{proc.stderr[-3000:]}")
    return json.loads(lines[-2].removeprefix("# detail ")), json.loads(lines[-1])


def _expect(ok: bool, what: str) -> None:
    print(("ok    " if ok else "FAIL  ") + what)
    if not ok:
        sys.exit(1)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    for w in (w["name"] for w in spec["workloads"]):
        plain_detail, plain = _run(spec, w, 0)
        detail, traced = _run(spec, w, 1)
        for det, res, kind in ((plain_detail, plain, "end_to_end"),
                               (detail, traced, "per_layer")):
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            want = {m["name"]: m["unit"] for m in spec[kind]}
            _expect(got == want, f"{w}: {kind} metrics printed with units")
            _expect(res["correct"] and res["failed"] == 0 and res["attempted"] > 0,
                    f"{w}: {kind} run, {res['attempted']} operations, none failed"
                    f" {det['errors'] or ''}")
        m = {k: v["value"] for k, v in traced["metrics"].items()}
        if w.startswith("batch"):
            untraced = plain["metrics"]["sweep_s"]["value"] * 1000.0
            spans = m["plans.build_ms"] + m["exec.action_ms"]
            slack = m["trace.overhead_ms"] + 0.35 * untraced
            _expect(abs(spans - untraced) <= slack,
                    f"{w}: build+action {spans:.0f} ms vs untraced pass "
                    f"{untraced:.0f} ms (allowed {slack:.0f} ms)")
            _expect(m["sources.bytes_written"] == 0 and m["sources.files_written"] == 0,
                    f"{w}: writes nothing under the run's work directory")
            jobs = detail["query_build_jobs"]
            if w == "batch_driver":
                _expect(all(v > 0 for v in jobs.values()),
                        f"{w}: every query launches jobs at build {jobs}")
            else:
                _expect(not any(jobs.values()),
                        f"{w}: no query launches jobs at build {jobs}")
            if any(py for _, py in queries.LISTS[w].values()):
                _expect(m["python.total_ms"] > 0 and m["python.bytes_sent"] > 0,
                        f"{w}: Python workers ran {m['python.total_ms']:.0f} ms, "
                        f"{m['python.bytes_sent']:.0f} bytes sent")
        else:
            _expect(m["python.total_ms"] == 0, f"{w}: no Python worker time")
            _expect(m["sources.bytes_written"] > 0, f"{w}: publishes snapshots")
    return 0


if __name__ == "__main__":
    sys.exit(main())
