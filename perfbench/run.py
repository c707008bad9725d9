"""Benchmark of the geocube engine: closed-loop workloads on local[nproc].

    python3 perfbench/run.py --workload tile_pipeline --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10

One workload per run, one client, one operation in flight.  The inputs are
generated from --seed (and cached per seed and size under .perfbench/).
The run starts the Spark session, warms up for a fixed number of passes,
measures whole passes for at least --seconds (and at least the workload's
min_passes), then checks the outputs.  Between two measured operations it
runs a fixed reference Spark job (workloads.RefJob); the gated pass metric,
pass_rel_ref, is the pass wall in units of that job's wall.
The last line of standard output is one JSON object {correct, attempted,
failed, metrics}: with --trace 0 the metrics are the end-to-end metrics of
BENCHMARK.json; with --trace 1 the run also writes Spark's event log,
attributes it to the benchmark's spans, and the metrics are the per-layer
metrics.  `--workload all` runs every workload untraced and traced and
prints the end-to-end table and the tracing overhead.  Details of each run
(spans, per-op job counts, host calibration) go to .perfbench/results/.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time
from types import SimpleNamespace

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
WORKLOADS = ("tile_pipeline", "query_ingest")
# query_ingest needs image rows only for the windows it appends: its own,
# smaller image table keeps input generation out of most of its run
SIZES = {"full": {"images": 20000, "ingest_images": 5000, "sf": 0.01},
         "tiny": {"images": 2000, "ingest_images": 1000, "sf": 0.001}}
CALIBRATION_S = 0.25


class ProcTree:
    """CPU time and peak RSS of this process and all its descendants (the
    driver, the JVM it launched, and the JVM's Python workers), from
    /proc/<pid>/stat and /proc/<pid>/status."""

    def __init__(self, root: int):
        self.root = root
        self.tick = os.sysconf("SC_CLK_TCK")
        self.peak_by_proc: dict[str, int] = {}

    def pids(self) -> dict[int, list[str]]:
        procs: dict[int, list[str]] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    st = f.read()
            except OSError:
                continue
            procs[int(d)] = st[st.rindex(")") + 2:].split()
        kids: dict[int, list[int]] = {}
        for pid, f in procs.items():
            kids.setdefault(int(f[1]), []).append(pid)
        out, todo = {}, [self.root]
        while todo:
            pid = todo.pop()
            if pid in procs:
                out[pid] = procs[pid]
            todo += kids.get(pid, [])
        return out

    def cpu_s(self) -> float:
        # utime, stime, and the children's times a parent has reaped
        return sum(sum(int(x) for x in f[11:15])
                   for f in self.pids().values()) / self.tick

    def reset_peak(self) -> None:
        """Restart every process's RSS high-water mark (VmHWM)."""
        for pid in self.pids():
            try:
                with open(f"/proc/{pid}/clear_refs", "w") as f:
                    f.write("5")
            except OSError:
                pass

    def peak_rss_bytes(self) -> int:
        """Sum over the tree of each process's RSS high-water mark since
        reset_peak()."""
        self.peak_by_proc = {}
        for pid in self.pids():
            try:
                with open(f"/proc/{pid}/status") as f:
                    st = dict(line.split(":", 1) for line in f)
            except OSError:
                continue
            if "VmHWM" in st:       # zombies have no memory left
                self.peak_by_proc[f"{pid}:{st['Name'].strip()}"] = \
                    int(st["VmHWM"].split()[0]) * 1024
        return sum(self.peak_by_proc.values())


def steal_s() -> float:
    """CPU time the hypervisor gave to others, machine-wide (/proc/stat)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def stop_gateway(tree: ProcTree) -> None:
    """Stop the JVM the session launched and wait until no process this
    run started is left."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.terminate()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass
        left = [p for p, f in tree.pids().items()
                if p != tree.root and f[0] != "Z"]
        if not left:
            return
        if time.time() > deadline + 10:
            raise RuntimeError(f"processes left after the run: {left}")
        if time.time() > deadline:
            for p in left:
                try:
                    os.kill(p, 9)
                except OSError:
                    pass
        time.sleep(0.1)


def program_present() -> bool:
    return (os.path.isfile(os.path.join(ROOT, "bench.py"))
            and os.path.isdir(os.path.join(ROOT, "data_cube_utilities_spark"))
            and os.path.isfile(os.path.join(ROOT, "BENCHMARK.json")))


def metric_specs() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {"end_to_end": [(m["name"], m["unit"]) for m in spec["end_to_end"]],
            "per_layer": [(m["name"], m["unit"]) for m in spec["per_layer"]]}


def run_one(a) -> dict:
    # keep every temporary file of the run, the JVMs' included, in WORK
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    tempfile.tempdir = tmp
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tools"), HERE]
    import bench
    import gen
    from spans import Recorder, attribute, find_eventlog, parse_eventlog, \
        spark_conf

    cores = len(os.sched_getaffinity(0))
    size = SIZES[a.scale]
    cache = os.path.join(WORK, "cache")
    spins0 = bench._host_calibration(CALIBRATION_S)
    tree = ProcTree(os.getpid())
    n_images = size["images" if a.workload == "tile_pipeline"
                    else "ingest_images"]
    ctx = SimpleNamespace(cpu=tree.cpu_s, steal=steal_s, seed=a.seed,
                          trace=bool(a.trace), n_images=n_images,
                          work_dir=os.path.join(WORK, "work", a.workload))
    inputs = {}
    ctx.images_dir, inputs["images"] = gen.images(
        cache, n_images, a.seed, cores)
    if a.workload == "query_ingest":
        from workloads import INGEST_WINDOWS
        ctx.windows_dir, inputs["windows"] = gen.windows(
            cache, ctx.images_dir, n_images, a.seed, INGEST_WINDOWS)
        ctx.tables_dir, inputs["tables"] = gen.tables(cache, size["sf"], a.seed)

    conf = {"spark.ui.showConsoleProgress": "false",
            "spark.local.dir": tmp,
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"}
    event_dir = os.path.join(WORK, "eventlog")
    if a.trace:
        conf.update(spark_conf(event_dir))
    t0 = time.time()
    from data_cube_utilities_spark.session import get_spark
    spark = get_spark(f"perfbench-{a.workload}", cores=cores, extra_conf=conf)
    start_s = time.time() - t0
    try:
        from workloads import WORKLOADS as WL, RefJob, med
        ctx.spark, ctx.rec = spark, Recorder(spark.sparkContext)
        ctx.ref = RefJob(spark, cores)
        wl = WL[a.workload](ctx)
        t1 = time.time()
        ctx.ref.warm()
        warm_walls = wl.warmup()
        warmup_s = time.time() - t1

        cpu0, steal0, ts = tree.cpu_s(), steal_s(), time.time()
        tree.reset_peak()
        # whole passes, at least min_passes of them, until the time is up
        # and every kind of op in a pass has run (a kind that keeps failing
        # stops at 6x the time)
        passes = 0
        while time.time() - ts < a.seconds or not wl.pass_done() or \
                passes < wl.min_passes or (
                not wl.covered() and time.time() - ts < 6 * a.seconds):
            wl.step(timed=True)
            passes += wl.pass_done()
        timed_wall = time.time() - ts
        cpu1, peak = tree.cpu_s(), tree.peak_rss_bytes()
        steal = steal_s() - steal0

        t2 = time.time()
        wl.check(a.seed)
        check_s = time.time() - t2
        probes = wl.probes(a.seed) if a.trace else {}
        app_id = spark.sparkContext.applicationId
    finally:
        spark.stop()
        stop_gateway(tree)
        shutil.rmtree(ctx.work_dir, ignore_errors=True)
    pass_s = wl.pass_wall()
    spins1 = bench._host_calibration(CALIBRATION_S)

    ref_s = med([s["ref_s"] for s in wl.timed_ops()])
    setup_wall = start_s + warmup_s
    # set-up at the reference host's speed: the same correction as
    # pass_rel_ref, from the reference jobs that follow the set-up (none
    # when every measured op failed)
    speed = RefJob.NOMINAL_S / ref_s if ref_s else 1.0
    e2e = {"setup_s": setup_wall * speed,
           "pass_rel_ref": wl.pass_rel_ref(),
           "pass_p50_s": pass_s,
           "cpu_s_per_pass": wl.pass_cpu()}
    attempted, failed, failures = wl.outcome()
    summary = {"setup_s": (e2e["setup_s"], "s"),
               "setup_wall_s": (setup_wall, "s"),
               "pass_rel_ref": (e2e["pass_rel_ref"], "ratio"),
               "ref_job_s": (ref_s, "s"),
               "pass_p50_s": (pass_s, "s"),
               "cpu_s_per_pass": (e2e["cpu_s_per_pass"], "s"),
               "cpu_s": (cpu1 - cpu0, "s"),
               "peak_rss_mb": (peak / 1e6, "MB"),
               "failed_frac": (failed / max(1, attempted), "ratio")}
    summary.update(wl.summary(timed_wall))
    layers = {}
    if a.trace:
        attribute(ctx.rec.spans, parse_eventlog(find_eventlog(event_dir, app_id)))
        layers = {"session.start_s": start_s, "session.warmup_s": warmup_s,
                  "process.peak_rss_mb": peak / 1e6,
                  "ref.job_s": ref_s,
                  "trace.setup_s": e2e["setup_s"],
                  "trace.pass_rel_ref": e2e["pass_rel_ref"],
                  "trace.pass_p50_s": e2e["pass_p50_s"],
                  "trace.cpu_s_per_pass": e2e["cpu_s_per_pass"]}
        layers.update(probes)
        layers.update(wl.layers())
        os.remove(find_eventlog(event_dir, app_id))
    return {"workload": a.workload, "seed": a.seed, "trace": a.trace,
            "scale": a.scale, "cores": cores, "inputs": inputs,
            "host_spins": [spins0, spins1], "calibration_s": CALIBRATION_S,
            "host_steal_s": steal,
            "start_s": start_s, "warmup_walls": warm_walls,
            "timed_wall_s": timed_wall, "check_s": check_s, "e2e": e2e,
            "peak_rss_by_proc": tree.peak_by_proc,
            "summary": summary, "layers": layers,
            "attempted": attempted, "failed": failed, "failures": failures,
            "jobs_per_op": [(s["name"], sum(c.get("jobs", 0) for c in
                                            ctx.rec.children(s["id"])))
                            for s in ctx.rec.spans if s["kind"] == "op"],
            "spans": [{k: v for k, v in s.items() if k != "task_run_ms"}
                      for s in ctx.rec.spans]}


def result_line(res: dict, specs: dict) -> dict:
    if res["trace"]:
        values, names = res["layers"], specs["per_layer"]
    else:
        values, names = res["e2e"], specs["end_to_end"]
    return {"correct": res["failed"] == 0 and not res["failures"],
            "attempted": max(1, res["attempted"]), "failed": res["failed"],
            "metrics": {n: {"value": float(values.get(n, 0.0)), "unit": u}
                        for n, u in names}}


def print_summary(res: dict) -> None:
    inp = ", ".join(f"{k}: {'cached' if v.get('cached') else 'generated'} "
                    f"in {v['gen_s']:.1f}s" for k, v in res["inputs"].items())
    print(f"# {res['workload']} seed={res['seed']} trace={res['trace']} "
          f"cores={res['cores']} inputs[{inp}] host_spins={res['host_spins']} "
          f"host_steal_s={res['host_steal_s']:.2f}")
    for name, v in res["summary"].items():
        extra = f" {v[2]}" if len(v) > 2 else ""
        print(f"#   {name} = {v[0]:.6g} {v[1]}{extra}")
    for f in res["failures"]:
        print(f"#   FAILED {f}")


def run_all(a) -> int:
    """Every workload untraced then traced; the end-to-end table and the
    tracing overhead (traced minus untraced)."""
    rows = {}
    for w in WORKLOADS:
        for t in (0, 1):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", w,
                   "--seed", str(a.seed), "--seconds", str(a.seconds),
                   "--trace", str(t), "--scale", a.scale]
            out = subprocess.run(cmd, capture_output=True, text=True,
                                 check=False)
            if out.returncode != 0:
                print(out.stderr[-2000:], file=sys.stderr)
                return out.returncode
            rows[(w, t)] = json.loads(out.stdout.strip().splitlines()[-1])
            with open(details_path(w, a.seed, t, a.scale)) as f:
                rows[(w, t, "res")] = json.load(f)
    names = ["setup_s", "pass_rel_ref", "setup_wall_s", "ref_job_s",
             "pass_p50_s", "cpu_s_per_pass", "cpu_s", "peak_rss_mb",
             "failed_frac", "images_per_s",
             "suite_s", "query_p50_s", "query_tail_s", "commit_p50_s",
             "read_p50_s", "ingest_mb_per_s", "stored_bytes_ratio"]
    print(f"{'metric':<20}{'unit':<10}" + "".join(f"{w:>20}" for w in WORKLOADS))
    for n in names:
        cells, unit = [], ""
        for w in WORKLOADS:
            v = rows[(w, 0, "res")]["summary"].get(n)
            unit = unit or (v[1] if v else "")
            cells.append(f"{v[0]:>20.5g}" if v else f"{'-':>20}")
        print(f"{n:<20}{unit:<10}" + "".join(cells))
    print("tracing overhead (traced minus untraced):")
    for w in WORKLOADS:
        plain = rows[(w, 0, "res")]["e2e"]
        traced = rows[(w, 1, "res")]["layers"]
        print(f"  {w}: setup_s {traced['trace.setup_s'] - plain['setup_s']:+.3f}"
              f" s, pass_rel_ref "
              f"{traced['trace.pass_rel_ref'] - plain['pass_rel_ref']:+.3f}"
              f", cpu_s_per_pass "
              f"{traced['trace.cpu_s_per_pass'] - plain['cpu_s_per_pass']:+.3f}"
              f" s, pass_p50_s "
              f"{traced['trace.pass_p50_s'] - plain['pass_p50_s']:+.4f} s")
    ok = all(rows[(w, t)]["correct"] for w in WORKLOADS for t in (0, 1))
    print(json.dumps({"correct": ok}))
    return 0


def details_path(workload, seed, trace, scale) -> str:
    return os.path.join(WORK, "results",
                        f"{workload}-{scale}-s{seed}-t{trace}.json")


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   choices=list(WORKLOADS) + ["all"])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=list(SIZES), default="full")
    a = p.parse_args()
    if not program_present():
        print(f"perfbench: the program (bench.py, data_cube_utilities_spark/, "
              f"BENCHMARK.json) is not under {ROOT}", file=sys.stderr)
        return 2
    if a.workload == "all":
        return run_all(a)
    specs = metric_specs()
    res = run_one(a)
    os.makedirs(os.path.dirname(details_path(a.workload, a.seed, a.trace,
                                             a.scale)), exist_ok=True)
    with open(details_path(a.workload, a.seed, a.trace, a.scale), "w") as f:
        json.dump(res, f, default=str)
    print_summary(res)
    print(json.dumps(result_line(res, specs)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
