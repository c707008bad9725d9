"""Self-test of the benchmark at tiny scale (sf0.001 tables, 2000 images).

    python3 perfbench/selftest.py [--seconds 2]

For every workload it runs the benchmark untraced and traced and asserts:
1. every metric named in BENCHMARK.json is printed, with its unit, and
   the end-to-end ones are never 0;
2. the traced and untraced runs launch the same number of Spark jobs for
   the same operations, and the event log sees exactly the jobs the
   status tracker counted;
3. each operation's layer self times reconcile to its wall: the phases
   cover the op, and each phase's job time plus driver time is its wall,
   with every attributed job inside the phase.
It prints the tracing overhead (traced minus untraced end-to-end numbers).
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import run  # noqa: E402

CLOCK_SLACK_S = 0.05     # driver clock vs event-log millisecond timestamps


def bench(workload: str, trace: int, seconds: float) -> tuple[dict, dict]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload",
           workload, "--seed", "7", "--seconds", str(seconds), "--trace",
           str(trace), "--scale", "tiny"]
    out = subprocess.run(cmd, capture_output=True, text=True, check=False)
    assert out.returncode == 0, out.stderr[-3000:]
    line = json.loads(out.stdout.strip().splitlines()[-1])
    with open(run.details_path(workload, 7, trace, "tiny")) as f:
        return line, json.load(f)


def check_metrics(line: dict, specs: list, nonzero: bool) -> None:
    got = {n: m["unit"] for n, m in line["metrics"].items()}
    assert got == dict(specs), f"metrics {sorted(got)} != {sorted(dict(specs))}"
    if nonzero:
        zero = [n for n, m in line["metrics"].items() if not m["value"]]
        assert not zero, f"end-to-end metrics read 0: {zero}"
    assert line["correct"] and line["failed"] == 0, line


def check_jobs(plain: dict, traced: dict) -> None:
    a, b = plain["jobs_per_op"], traced["jobs_per_op"]
    n = min(len(a), len(b))
    assert a[:n] == b[:n], f"job counts differ:\n{a[:n]}\n{b[:n]}"
    for s in traced["spans"]:
        if "group" in s:
            assert s["log_jobs"] == s["jobs"], s


def check_reconcile(traced: dict) -> None:
    spans = traced["spans"]
    for op in (s for s in spans if s["kind"] == "op"):
        phases = [s for s in spans if s["parent"] == op["id"]]
        covered = sum(p["wall_s"] for p in phases)
        self_s = op["wall_s"] - covered
        assert -CLOCK_SLACK_S <= self_s <= max(0.1 * op["wall_s"], 0.05), \
            f"{op['name']}: phases cover {covered:.3f}s of {op['wall_s']:.3f}s"
        for p in phases:
            assert abs(p["job_s"] + p["driver_gap_s"] - p["wall_s"]) < 1e-6
            assert p["job_s"] <= p["wall_s"] + CLOCK_SLACK_S, p
            for t0, t1 in p.get("job_intervals", []):
                assert p["t0"] - CLOCK_SLACK_S <= t0 and \
                    t1 <= p["t1"] + CLOCK_SLACK_S, (p["name"], t0, t1)


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--seconds", type=float, default=2.0)
    a = p.parse_args()
    specs = run.metric_specs()
    for w in run.WORKLOADS:
        plain_line, plain = bench(w, 0, a.seconds)
        traced_line, traced = bench(w, 1, a.seconds)
        check_metrics(plain_line, specs["end_to_end"], nonzero=True)
        check_metrics(traced_line, specs["per_layer"], nonzero=False)
        check_jobs(plain, traced)
        check_reconcile(traced)
        lay, e2e = traced["layers"], plain["e2e"]
        over = {k: lay[f"trace.{k}"] - e2e[k] for k in (
            "setup_s", "pass_rel_ref", "cpu_s_per_pass", "pass_p50_s")}
        print(f"ok {w}: {len(plain['jobs_per_op'])} / "
              f"{len(traced['jobs_per_op'])} ops; tracing overhead "
              + ", ".join(f"{k} {v:+.4g}" for k, v in over.items()))
    print("selftest passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
