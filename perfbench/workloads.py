"""The closed-loop workloads: one client, one operation in flight.

Each workload runs `step()` for whole passes until the measured time is
up.  A step is one
or more op spans; every op is split into phase spans (build / plan /
execute, or build / commit), which is where job groups attach.  Each
workload also warms up for a fixed number of passes, checks its outputs
after the measured section, and, in the traced run, turns the attributed
spans into its per-layer metrics.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
import zlib

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

import bench
from data_cube_utilities_spark import cells, codec, queries
from data_cube_utilities_spark.operators import indices, spatial
from data_cube_utilities_spark.sources.snapshots import SnapshotTable

# Registry queries timed by query_ingest: a subset of bench.HEADLINE
# with one query per operator family (relational, indices, temporal,
# spatial knn, text LSH), small enough that a cold pass and a measured pass
# fit in one run beside the snapshot cycle.
QUERIES = ["pricing_summary", "wofs_classify", "asof_join", "knn",
           "minhash_lsh"]
assert set(QUERIES) <= set(bench.HEADLINE)

TILE_RES = 9
INGEST_WINDOWS = 4        # acquisition-time windows of the image table
PARTITION_RES = 2         # coarse geocell the snapshot table is partitioned by


class RefJob:
    """A fixed Spark job that calls none of the program's code: a global
    aggregate over a generated range on every core.  Run between the
    measured operations, its wall is the speed of the host (steal, noisy
    neighbours, frequency) at that moment, so an operation's wall divided
    by it does not move with the host's phases.  Most of its wall is the
    fixed cost of a Spark job (scheduling, task launch, result fetch); the
    aggregate itself takes about a tenth."""
    ROWS = 4_000_000
    WARM = 10                   # runs before the first operation
    # its median wall on the reference host (4 vCPUs) in a quiet phase:
    # setup_s is given in seconds at that speed
    NOMINAL_S = 0.08

    def __init__(self, spark, cores):
        self.spark, self.cores = spark, cores
        self.after: float | None = None   # wall of the run after the last op

    def run(self) -> float:
        t0 = time.perf_counter()
        self.spark.range(0, self.ROWS, 1, self.cores).selectExpr(
            "sum(hash(id, id * 7))").collect()
        return time.perf_counter() - t0

    def warm(self) -> None:
        """Run it until the JIT has compiled it."""
        for _ in range(self.WARM):
            self.run()


def med(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs):
    """(value, percentile, n): the highest percentile with at least ten
    samples beyond it, or the maximum when there are too few samples."""
    xs = sorted(xs)
    n = len(xs)
    if n <= 10:
        return (xs[-1] if xs else 0.0), 100, n
    pct = int(100 * (n - 10) / n)
    return xs[min(n - 1, int(np.ceil(pct / 100 * n)) - 1)], pct, n


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def plan(df):
    df._jdf.queryExecution().executedPlan()


class Workload:
    name = ""
    warm_passes = 2
    min_passes = 1              # fewest measured passes
    mix: dict[str, int] = {}      # op name -> ops of that kind in one pass
    steps_per_pass = 1

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.rec = ctx.rec
        self.failures: list[str] = []
        self.attempted = 0
        self.failed_ops = 0

    def span(self, name, kind, **kw):
        return self.rec.span(name, kind, **kw)

    def run_op(self, name, fn, timed, **attrs):
        """One op span; an exception fails the op, not the run."""
        self.attempted += 1
        ref = self.ctx.ref
        if timed and ref.after is None:
            ref.after = ref.run()
        ref0 = ref.after
        c0, st0 = self.ctx.cpu(), self.ctx.steal()
        try:
            with self.span(name, "op", timed=timed, **attrs) as s:
                fn(s)
        except Exception as e:          # noqa: BLE001 - counted, reported
            self.fail(f"{name}: {type(e).__name__}: {str(e)[:200]}")
        s["proc_cpu_s"] = self.ctx.cpu() - c0
        s["host_steal_s"] = self.ctx.steal() - st0
        # a measured op's wall over the mean of the reference jobs run just
        # before and just after it; the one after is the next op's before
        ref.after = ref.run() if timed else None
        if timed:
            s["ref_s"] = (ref0 + ref.after) / 2
            s["rel_ref"] = s["wall_s"] / s["ref_s"]
        return s

    def fail(self, msg):
        self.failed_ops += 1
        self.failures.append(msg)

    def outcome(self):
        """(ops attempted, ops failed, failure messages)."""
        return self.attempted, self.failed_ops, self.failures

    def warmup(self):
        """warm_passes passes, a fixed number so that every run measures
        from the same point of the JIT's warm-up.  The first (cold) pass
        collects its output for check()."""
        walls = []
        while len(walls) < self.warm_passes:
            n0 = len(self.rec.spans)
            for _ in range(self.steps_per_pass):
                self.step(timed=False, collect=not walls)
            ops = [s for s in self.rec.spans[n0:] if s["kind"] == "op"]
            walls.append(sum(s["wall_s"] for s in ops))
        return walls

    def timed_ops(self, prefix=""):
        return [s for s in self.rec.spans if s["kind"] == "op"
                and s.get("timed") and s["name"].startswith(prefix)
                and "error" not in s]

    def pass_done(self):
        """Has the last step finished a pass?"""
        return True

    def covered(self):
        """Has the measured section run every kind of op in the mix?"""
        done = {s["name"] for s in self.timed_ops()}
        return all(k in done for k in self.mix)

    def per_pass(self, key):
        """One pass of the op mix: each kind's median `key` in the measured
        section, times its count in a pass, summed."""
        return sum(n * med([s[key] for s in self.timed_ops()
                            if s["name"] == k])
                   for k, n in self.mix.items())

    def pass_wall(self):
        return self.per_pass("wall_s")

    def pass_cpu(self):
        """CPU seconds of the process tree in one pass."""
        return self.per_pass("proc_cpu_s")

    def pass_rel_ref(self):
        """Wall of one pass in units of the reference job's wall."""
        return self.per_pass("rel_ref")

    def phases(self, op):
        return {s["name"]: s for s in self.rec.children(op["id"])}


# ---------------------------------------------------------------------------
# tile_pipeline
# ---------------------------------------------------------------------------

class TilePipeline(Workload):
    """scan -> fused PIP + geocell + decode + QA + WOfS/NDVI -> composite."""
    name = "tile_pipeline"
    mix = {"tile_pass": 1}
    # the JVM's CPU per pass keeps falling for ~12 passes after the cold
    # one as the JIT warms up
    warm_passes = 12

    def __init__(self, ctx):
        super().__init__(ctx)
        bench.IMG_DIR = ctx.images_dir
        self.n_images = ctx.n_images
        self.collected = None

    def step(self, timed, collect=False):
        def body(op):
            with self.span("build", "phase"):
                df = bench.image_pipeline_full(self.spark)
            with self.span("plan", "phase"):
                plan(df)
            with self.span("execute", "phase"):
                if collect:
                    self.collected = df.toPandas()
                else:
                    noop(df)
        self.run_op("tile_pass", body, timed)

    def check(self, seed):
        if self.collected is None:      # the collecting pass raised
            return
        errs = check_tiles(self.collected, self.ctx.images_dir, seed)
        if errs:
            self.fail("; ".join(errs[:3]))

    def summary(self, timed_wall):
        walls = [s["wall_s"] for s in self.timed_ops()]
        return {"images_per_s": (self.n_images * len(walls) / timed_wall,
                                 "images/s")}

    def probes(self, seed):
        """Driver-side layer probes and the two extra passes."""
        rng = np.random.default_rng(seed)
        out = {}
        files = sorted(f for f in os.listdir(self.ctx.images_dir)
                       if f.endswith(".parquet"))
        t = pq.read_table(os.path.join(self.ctx.images_dir, files[0]),
                          columns=["bytes", "fmt", "w", "h"]).to_pandas()
        idx = rng.choice(len(t), size=min(len(t), 1000), replace=False)
        datas, fmts = list(t["bytes"].iloc[idx]), list(t["fmt"].iloc[idx])
        w, h = int(t["w"].iat[0]), int(t["h"].iat[0])
        mb = sum(len(d) for d in datas) / 1e6
        out["codec.decode_mb_per_s"] = mb / _best_of(
            lambda: codec.decode_stack(datas, w, h, fmts))
        lat = rng.uniform(-90, 90, 1_000_000)
        lon = rng.uniform(-180, 180, 1_000_000)
        out["cells.encode_rows_per_s"] = len(lat) / _best_of(
            lambda: cells.encode(lat, lon, TILE_RES))
        rings = [(np.array([p[0] for p in r]), np.array([p[1] for p in r]))
                 for r in bench.BENCH_POLYS.values()]
        out["spatial.pip_points_per_s"] = len(lat) / _best_of(
            lambda: [spatial.pip_np(lon, lat, xs, ys) for xs, ys in rings])

        def timed_noop(make):
            walls = []
            for _ in range(3):
                t0 = time.time()
                noop(make())
                walls.append(time.time() - t0)
            return med(walls)
        with self.span("probe", "phase"):
            out["spatial.join_assign_s"] = timed_noop(
                lambda: bench.image_pipeline(self.spark))
            out["tile.scan_s"] = timed_noop(
                lambda: self.spark.read.parquet(self.ctx.images_dir).select(
                    "image_id", "bytes", "w", "h", "fmt", "lon0", "lat0"))
        return out

    def layers(self):
        ops = self.timed_ops()
        ex = [self.phases(o)["execute"] for o in ops]
        all_ph = [list(self.phases(o).values()) for o in ops]

        def per_op(key):
            return med([sum(p.get(key, 0) for p in ph) for ph in all_ph])

        def skew(e):
            r = [x for x in e.get("task_run_ms", []) if x > 0]
            return max(r) / statistics.median(r) if r else 0.0
        return {
            "tile.images_per_s": self.n_images / med([o["wall_s"] for o in ops]),
            "tile.jobs": per_op("jobs"),
            "tile.stages": per_op("stages"),
            "tile.tasks": per_op("tasks"),
            "tile.executor_cpu_s": per_op("cpu_s"),
            "tile.executor_run_s": per_op("run_s"),
            "tile.gc_s": per_op("gc_s"),
            "tile.shuffle_write_bytes": per_op("shuffle_write"),
            "tile.task_skew": med([skew(e) for e in ex]),
            "rasterops.py_bytes_sent": per_op("py_sent"),
            "rasterops.py_bytes_returned": per_op("py_returned"),
            "rasterops.py_exec_s": per_op("py_run_s"),
            "rasterops.py_boot_s": per_op("py_boot_s"),
        }


def _best_of(fn, reps=5):
    best = float("inf")
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t0)
    return best


def check_tiles(got: pd.DataFrame, images_dir: str, seed: int) -> list[str]:
    """Recompute the composite on the driver from the reference twins:
    every (poly, cell) tile count, and all features of a seeded sample of
    cells."""
    img = pq.read_table(images_dir).to_pandas()
    rings = {pid: list(r) for pid, r in bench.BENCH_POLYS.items()}
    keys, members = [], {}
    for i, (x, y) in enumerate(zip(img["lon0"], img["lat0"])):
        for pid, ring in rings.items():
            if spatial.pip_scalar_reference(x, y, ring):
                k = (pid, cells.encode_scalar_reference(y, x, TILE_RES))
                keys.append(k)
                members.setdefault(k, []).append(i)
    want = pd.Series(keys, dtype=object).value_counts()
    have = {(int(p), int(c)): int(n) for p, c, n in
            zip(got["poly_id"], got["cell_id"], got["n_tiles"])}
    errs = []
    if have != {k: int(v) for k, v in want.items()}:
        errs.append(f"tile counts differ: {len(have)} cells vs "
                    f"{len(want)} expected")
        return errs
    rng = np.random.default_rng(seed)
    sample = rng.choice(len(got), size=min(len(got), 12), replace=False)
    for r in got.iloc[sample].itertuples():
        feats = []
        for i in members[(int(r.poly_id), int(r.cell_id))]:
            blk = codec.decode_block(bytes(img["bytes"].iat[i]),
                                     int(img["w"].iat[i]),
                                     int(img["h"].iat[i]), img["fmt"].iat[i])
            feats.append(_features(blk))
        want_f = np.nanmean(np.asarray(feats), axis=0)
        have_f = np.asarray([r.clean_frac, r.water_frac, r.mean_ndvi,
                             r.mean_nir], dtype=np.float64)
        if not np.allclose(have_f, want_f, rtol=1e-9, atol=1e-12,
                           equal_nan=True):
            errs.append(f"cell {r.poly_id}/{r.cell_id}: {have_f} != {want_f}")
    return errs


def _features(blk: np.ndarray) -> list[float]:
    """clean_frac, water_frac, mean_ndvi, mean_nir of one decoded block."""
    clean = (blk[:, :, codec.QA_BAND] & (2 | 4)) != 0
    b = blk.astype(np.float64)
    with np.errstate(all="ignore"):
        ndvi = (b[:, :, 3] - b[:, :, 2]) / (b[:, :, 3] + b[:, :, 2])
        water = indices.wofs_np(b[:, :, 0], b[:, :, 1], b[:, :, 2],
                                b[:, :, 3], b[:, :, 4], b[:, :, 5])
        valid = clean & ~np.isnan(ndvi)
        return [clean.mean(), water[clean].sum() / clean.sum(),
                ndvi[valid].sum() / valid.sum(),
                b[:, :, 3][clean].sum() / clean.sum()]


# ---------------------------------------------------------------------------
# headline queries (part of query_ingest)
# ---------------------------------------------------------------------------

class HeadlineQueries(Workload):
    """Registry queries one at a time into a noop sink."""
    mix = {f"query:{q}": 1 for q in QUERIES}
    steps_per_pass = len(QUERIES)
    # CPU per query falls by about half from the 2nd to the 3rd execution
    warm_passes = 2

    def __init__(self, ctx):
        super().__init__(ctx)
        self.reg = queries.registry()
        self.sf_dir = ctx.tables_dir
        self.collected: dict[str, pd.DataFrame] = {}
        self.next = 0

    def _query(self, name, timed, collect=False):
        def body(op):
            with self.span("build", "phase"):
                df = self.reg[name][0](self.spark, self.sf_dir)
            with self.span("plan", "phase"):
                plan(df)
            with self.span("execute", "phase"):
                if collect:
                    self.collected[name] = df.toPandas()
                else:
                    noop(df)
        self.run_op(f"query:{name}", body, timed, query=name)

    def step(self, timed, collect=False):
        """The next query, round robin."""
        self._query(QUERIES[self.next % len(QUERIES)], timed, collect)
        self.next += 1

    def check(self, seed):
        import duckdb
        from check_oracles import TABLES, compare
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{self.sf_dir}/{t}.parquet'")
        for q in QUERIES:
            if q not in self.collected:
                continue
            err = compare(self.collected[q],
                          con.execute(self.reg[q][1]).fetchdf())
            if err:
                self.fail(f"{q}: {err}")
        con.close()

    def _per_query(self):
        return {q: [s for s in self.timed_ops() if s.get("query") == q]
                for q in QUERIES}

    def summary(self, timed_wall):
        walls = [s["wall_s"] for s in self.timed_ops("query:")]
        t, pct, n = tail(walls)
        return {"suite_s": (sum(med([s["wall_s"] for s in ops])
                                for ops in self._per_query().values()), "s"),
                "query_p50_s": (med(walls), "s"),
                "query_tail_s": (t, "s", {"percentile": pct, "n": n})}

    def layers(self):
        out = {}
        tot = {k: 0.0 for k in (
            "build_s", "plan_s", "exec_s", "jobs", "stages", "tasks",
            "driver_gap_s", "executor_cpu_s", "shuffle_bytes", "spill_bytes",
            "py_bytes_sent", "py_exec_s")}
        for q, ops in self._per_query().items():
            ph = [self.phases(o) for o in ops]

            def m(fn):
                return med([fn(p) for p in ph])

            def s_all(key):
                return lambda p: sum(x.get(key, 0) for x in p.values())
            out[f"query.{q}.wall_s"] = med([o["wall_s"] for o in ops])
            out[f"query.{q}.jobs"] = m(s_all("jobs"))
            tot["build_s"] += m(lambda p: p["build"]["wall_s"])
            tot["plan_s"] += m(lambda p: p["plan"]["wall_s"])
            tot["exec_s"] += m(lambda p: p["execute"]["wall_s"])
            for k, src in (("jobs", "jobs"), ("stages", "stages"),
                           ("tasks", "tasks"), ("driver_gap_s", "driver_gap_s"),
                           ("executor_cpu_s", "cpu_s"),
                           ("shuffle_bytes", "shuffle_write"),
                           ("spill_bytes", "spill"),
                           ("py_bytes_sent", "py_sent"),
                           ("py_exec_s", "py_run_s")):
                tot[k] += m(s_all(src))
        out.update({f"queries.{k}": v for k, v in tot.items()})
        s = self.summary(1.0)
        out["queries.suite_s"] = s["suite_s"][0]
        out["queries.tail_s"] = s["query_tail_s"][0]
        return out


# ---------------------------------------------------------------------------
# snapshot ingest (part of query_ingest)
# ---------------------------------------------------------------------------

class SnapshotIngest(Workload):
    """Cycles on a fresh SnapshotTable each: append one acquisition window,
    merge_upsert its rows re-captioned, a pruned read at head and a
    time-travel read of the append, then compact."""
    mix = {"append": 1, "merge": 1, "read_pruned": 1, "read_time_travel": 1,
           "compact": 1}
    steps_per_pass = 3        # one cycle: append (+ reads), merge, compact
    warm_passes = 1

    def __init__(self, ctx):
        super().__init__(ctx)
        self.root = os.path.join(ctx.work_dir, "tables")
        shutil.rmtree(self.root, ignore_errors=True)
        self.windows = self._load_windows(ctx.windows_dir)
        self.cycle = 0
        self.script: list = []
        self.table = None
        self.kept = None          # the warm-up table, read back by check()
        self.stored: list[float] = []

    @staticmethod
    def _load_windows(windows_dir):
        """The acquisition-time windows with the columns the checks replay:
        image_id -> (caption, crc32 of the pixel bytes)."""
        out = []
        for f in sorted(os.listdir(windows_dir)):
            if not f.endswith(".parquet"):
                continue
            path = os.path.join(windows_dir, f)
            t = pq.read_table(path)
            ts = t.column("acquired_at").to_pandas()
            model = {iid: (cap, zlib.crc32(b))
                     for iid, cap, b in zip(t.column("image_id").to_pylist(),
                                            t.column("caption").to_pylist(),
                                            t.column("bytes").to_pylist())}
            out.append({"path": path, "rows": t.num_rows, "bytes": t.nbytes,
                        "model": model, "lo": ts.min(), "hi": ts.max()})
        return out

    # -- the per-cycle script ------------------------------------------------
    def _new_cycle(self):
        """A fresh table and the script of its cycle (steps_per_pass)."""
        i = self.cycle % len(self.windows)
        self.table = SnapshotTable(
            os.path.join(self.root, f"cycle{self.cycle:03d}"))
        self.cycle += 1
        self.live: dict = {}
        self.versions: dict[int, dict] = {}
        self.script = [("append", i), ("merge", i), ("compact", None)]

    def _source(self, i, rev=None):
        from pyspark.sql import functions as F
        df = self.spark.read.parquet(self.windows[i]["path"])
        if rev is not None:
            df = df.withColumn("caption",
                               F.concat(F.col("caption"), F.lit(rev)))
        return df.withColumn("gcell", cells.encode_col(
            F.col("lat0"), F.col("lon0"), PARTITION_RES))

    def _commit(self, kind, i, timed):
        t = self.table
        kw = {"partition_cols": ["gcell"], "metrics_cols": ["acquired_at"]}
        rev = f" [rev {len(self.versions)}]"

        def body(op):
            if kind == "compact":
                with self.span("commit", "phase"):
                    op["version"] = t.compact(self.spark, n_files=4, **kw)
                return
            with self.span("build", "phase"):
                src = self._source(i, rev if kind == "merge" else None)
            with self.span("commit", "phase"):
                if kind == "append":
                    op["version"] = t.commit(src, operation="append",
                                             lineage={"window": i}, **kw)
                else:
                    op["version"] = t.merge_upsert(src, key_cols=["image_id"],
                                                   lineage={"window": i}, **kw)
            op["input_bytes"] = self.windows[i]["bytes"]
        op = self.run_op(kind, body, timed)
        if "version" not in op:
            return
        model = self.windows[i]["model"] if i is not None else {}
        if kind == "append":
            self.live.update(model)
        elif kind == "merge":
            self.live.update({k: (c + rev, crc) for k, (c, crc) in model.items()})
        self.versions[op["version"]] = dict(self.live)
        if self.ctx.trace:
            op.update(_dir_stats(os.path.join(t.data_dir,
                                              f"v{op['version']:05d}")))

    def _read(self, kind, where, version, timed):
        from pyspark.sql import functions as F
        t = self.table

        def body(op):
            with self.span("build", "phase"):
                df = (t.read(self.spark, version=version, where=where)
                      .groupBy("gcell")
                      .agg(F.count("*").alias("n"),
                           F.sum(F.length("bytes")).alias("payload"),
                           F.max("acquired_at").alias("t1")))
            with self.span("plan", "phase"):
                plan(df)
            with self.span("execute", "phase"):
                noop(df)
        op = self.run_op(kind, body, timed)
        if self.ctx.trace:
            v = t.current_version() if version is None else version
            op["dirs_scanned"] = len(t.pruned_dirs(v, where))
            op["dirs_total"] = len(t.pruned_dirs(v, {}))
            op["chain_len"] = len(t._chain(v))

    def step(self, timed, collect=False):
        if not self.script:
            if self.kept is None:
                self.kept = (self.table, self.versions)
            else:
                self._finish_cycle()
            self._new_cycle()
        kind, i = self.script.pop(0)
        self._commit(kind, i, timed)
        if kind == "merge" and len(self.versions) == 2:
            # head goes through the merge-on-read delete join; the append
            # version is a plain scan.  Both keep the window's first half.
            w = self.windows[i]
            half = {"acquired_at": (w["lo"], w["lo"] + (w["hi"] - w["lo"]) / 2)}
            self._read("read_pruned", half, None, timed)
            self._read("read_time_travel", half, min(self.versions), timed)
        if kind == "compact":
            live = set(self.live)
            live_bytes = sum(w["bytes"] * len(live & w["model"].keys())
                             / max(1, w["rows"]) for w in self.windows)
            self.stored.append(
                _dir_stats(self.table.path)["bytes_written"] / live_bytes)

    def _finish_cycle(self):
        self._check_manifests(self.table, self.versions)
        shutil.rmtree(self.table.path, ignore_errors=True)

    def warmup(self):
        """warm_passes cycles of commits, reads, a merge and a compaction,
        each on a table of its own.  The measured cycles start on a fresh
        table."""
        self._new_cycle()
        return super().warmup()

    def _check_manifests(self, table, versions):
        """Each commit's manifest counts exactly the rows it committed."""
        for v, model in versions.items():
            m = table.manifest(v)
            if m["operation"] == "overwrite":
                want = len(model)
            else:
                want = self.windows[int(m["lineage"]["window"])]["rows"]
            if m["total_rows"] != want:
                self.fail(f"v{v} {m['operation']}: manifest total_rows "
                          f"{m['total_rows']} != {want} committed")

    def check(self, seed):
        """Manifests of the first and last cycle, and a time-travel read of
        every version of the first one against the pandas replay."""
        from pyspark.sql import functions as F
        table, versions = self.kept or (self.table, self.versions)
        self._check_manifests(table, versions)
        if table is not self.table:
            self._check_manifests(self.table, self.versions)
        for v, model in versions.items():
            self.attempted += 1
            got = (table.read(self.spark, version=v)
                   .select("image_id", "caption",
                           F.crc32(F.col("bytes")).alias("crc")).toPandas())
            want = {(k, c, crc) for k, (c, crc) in model.items()}
            have = set(zip(got["image_id"], got["caption"],
                           got["crc"].astype(int)))
            if len(got) != len(want) or have != want:
                self.fail(f"v{v} ({table.manifest(v)['operation']}): read "
                          f"{len(got)} rows != replay {len(want)}")

    def summary(self, timed_wall):
        ops = self.timed_ops()
        commits = [s for s in ops if s["name"] == "append"]
        writes = [s for s in ops if s["name"] in ("append", "merge")]
        reads = [s for s in ops if s["name"].startswith("read")]
        mb = sum(s["input_bytes"] for s in writes) / 1e6
        return {"commit_p50_s": (med([s["wall_s"] for s in commits]), "s"),
                "read_p50_s": (med([s["wall_s"] for s in reads]), "s"),
                "ingest_mb_per_s": (
                    mb / max(1e-9, sum(s["wall_s"] for s in writes)), "MB/s"),
                "stored_bytes_ratio": (med(self.stored), "ratio")}

    def layers(self):
        ops = self.timed_ops()
        by = {k: [o for o in ops if o["name"] == k]
              for k in ("append", "merge", "compact")}
        reads = [o for o in ops if o["name"].startswith("read")]

        def commit(o, key):
            return self.phases(o).get("commit", {}).get(key, 0)

        def per(opsl, fn):
            return med([fn(o) for o in opsl])

        def total(o, key):
            return sum(p.get(key, 0) for p in self.phases(o).values())
        s = self.summary(1.0)
        app = by["append"]
        return {
            "snapshots.commit_p50_s": s["commit_p50_s"][0],
            "snapshots.read_p50_s": s["read_p50_s"][0],
            "snapshots.ingest_mb_per_s": s["ingest_mb_per_s"][0],
            "snapshots.stored_bytes_ratio": s["stored_bytes_ratio"][0],
            "snapshots.commit_jobs": per(app, lambda o: commit(o, "jobs")),
            "snapshots.commit_write_s": per(app, lambda o: commit(o, "write_s")),
            "snapshots.commit_stats_s": per(
                app, lambda o: commit(o, "job_s") - commit(o, "write_s")),
            "snapshots.commit_driver_s": per(
                app, lambda o: commit(o, "driver_gap_s")),
            "snapshots.commit_bytes_read": per(
                app, lambda o: commit(o, "nonwrite_input_bytes")),
            "snapshots.merge_s": per(by["merge"], lambda o: o["wall_s"]),
            "snapshots.compact_s": per(by["compact"], lambda o: o["wall_s"]),
            "snapshots.compact_bytes_rewritten": per(
                by["compact"], lambda o: commit(o, "output_bytes")),
            "snapshots.read_dirs_scanned": per(
                reads, lambda o: o.get("dirs_scanned", 0)),
            "snapshots.read_dirs_total": per(
                reads, lambda o: o.get("dirs_total", 0)),
            "snapshots.read_chain_len": per(reads,
                                            lambda o: o.get("chain_len", 0)),
            "snapshots.read_bytes": per(reads, lambda o: total(o, "input_bytes")),
            "snapshots.read_jobs": per(reads, lambda o: total(o, "jobs")),
            "snapshots.files_written": per(
                app, lambda o: o.get("files_written", 0)),
            "snapshots.bytes_written": per(
                app, lambda o: o.get("bytes_written", 0)),
        }


def _dir_stats(path: str) -> dict:
    files = [os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs
             if f.endswith(".parquet")]
    return {"files_written": len(files),
            "bytes_written": sum(os.path.getsize(f) for f in files)}


# ---------------------------------------------------------------------------
# query_ingest
# ---------------------------------------------------------------------------

class QueryIngest(Workload):
    """The headline queries and the snapshot ingest in one closed loop: a
    pass runs each query once, then one snapshot cycle.  Neither decodes
    pixels."""
    name = "query_ingest"
    # a pass takes 7-12 s: always two, so that a fast host does not measure
    # two where a slow one measures one
    min_passes = 2

    def __init__(self, ctx):
        super().__init__(ctx)
        self.parts = [HeadlineQueries(ctx), SnapshotIngest(ctx)]
        self.mix = {**self.parts[0].mix, **self.parts[1].mix}
        self.script: list = []

    def step(self, timed, collect=False):
        q, s = self.parts
        if not self.script:
            self.script = [q] * q.steps_per_pass + [s] * s.steps_per_pass
        self.script.pop(0).step(timed, collect)

    def pass_done(self):
        return not self.script

    def warmup(self):
        """The queries' warm-up passes, then the snapshot cycle's; the
        measured section starts with the queries and a fresh table."""
        return [w for p in self.parts for w in p.warmup()]

    def outcome(self):
        outs = [p.outcome() for p in self.parts]
        return (sum(o[0] for o in outs), sum(o[1] for o in outs),
                [f for o in outs for f in o[2]])

    def check(self, seed):
        for p in self.parts:
            p.check(seed)

    def summary(self, timed_wall):
        return {k: v for p in self.parts for k, v in
                p.summary(timed_wall).items()}

    def probes(self, seed):
        return {}

    def layers(self):
        return {k: v for p in self.parts for k, v in p.layers().items()}


WORKLOADS = {w.name: w for w in (TilePipeline, QueryIngest)}
