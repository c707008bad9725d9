"""Seeded inputs for the benchmark, cached per (kind, seed, size).

Two inputs are generated, both pure functions of the seed:

* ``images``: the engine's image table (``synth.IMAGES_SCHEMA``).  Every
  row gets its own id, skewed footprint (``synth.footprints``),
  acquisition time and caption.  The pixel blocks come from
  ``synth.synth_batch`` for one in ``IMAGE_REUSE`` rows and are reused by
  the others, because the per-pixel synthesizer is a Python loop (about
  2 ms per image) and would otherwise dominate a run.
* ``tables``: the TPC-H-ish star schema plus ``events``, ``documents`` and
  ``embeddings`` that the registry queries read, with the column names,
  types and value ranges of the reference test tables.

Generation runs before the Spark session starts (so it never warms the
JVM for the measured set-up), with one worker process per core, and its
wall time is recorded next to the cached files.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

IMAGE_REUSE = 4          # rows per synthesized pixel block
IMAGE_FILES = 16
TILE_PX = 16
KEEP_ENTRIES = 2         # cached inputs kept per kind (oldest evicted)


def _cached(cache_root: str, kind: str, key: str, build) -> tuple[str, dict]:
    """Path of the cached input `kind/key`, building it when missing.
    Returns (path, info) where info holds the one-off generation time."""
    base = os.path.join(cache_root, kind)
    path = os.path.join(base, key)
    done = os.path.join(path, "_GENERATED.json")
    if os.path.exists(done):
        with open(done) as f:
            info = json.load(f)
        info["cached"] = True
        os.utime(done)
        return path, info
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    t0 = time.time()
    info = build(path) or {}
    info["gen_s"] = time.time() - t0
    with open(done, "w") as f:
        json.dump(info, f)
    entries = sorted(
        (e for e in os.listdir(base) if e != key),
        key=lambda e: os.path.getmtime(os.path.join(base, e)))
    for e in entries[:max(0, len(entries) + 1 - KEEP_ENTRIES)]:
        shutil.rmtree(os.path.join(base, e), ignore_errors=True)
    info["cached"] = False
    return path, info


# ---------------------------------------------------------------------------
# images
# ---------------------------------------------------------------------------

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _pixel_blocks(seed: int, lo: int, hi: int, out: str) -> None:
    """Worker: the synthesized pixel blocks of ids [lo, hi) to `out`."""
    from data_cube_utilities_spark import synth
    df = synth.synth_batch(np.arange(lo, hi, dtype=np.int64), seed, TILE_PX)
    pq.write_table(pa.Table.from_pandas(df[["bytes", "fmt", "phash"]],
                                        preserve_index=False), out)


def pixel_blocks(n_blocks: int, seed: int, workers: int, tmp: str) -> pd.DataFrame:
    """Blocks 0..n_blocks-1, synthesized by `workers` worker processes."""
    bounds = np.linspace(0, n_blocks, workers + 1).astype(int)
    env = dict(os.environ, PYTHONPATH=ROOT)
    procs, outs = [], []
    for k in range(workers):
        outs.append(os.path.join(tmp, f"blocks-{k}.parquet"))
        procs.append(subprocess.Popen(
            [sys.executable, os.path.abspath(__file__), str(seed),
             str(bounds[k]), str(bounds[k + 1]), outs[-1]], env=env))
    if any([p.wait() for p in procs]):
        raise RuntimeError("pixel block synthesis failed")
    blocks = pd.concat([pq.read_table(o).to_pandas() for o in outs],
                       ignore_index=True)
    for o in outs:
        os.remove(o)
    return blocks


def image_rows(n: int, seed: int, workers: int, tmp: str) -> pd.DataFrame:
    """The full image table for (n, seed) as one pandas frame."""
    from data_cube_utilities_spark import cells, synth

    ids = np.arange(n, dtype=np.int64)
    n_blocks = max(1, n // IMAGE_REUSE)
    blocks = pixel_blocks(n_blocks, seed, workers, tmp)
    src = ids % n_blocks

    lat0, lon0 = synth.footprints(ids, seed)
    tday = synth._u01(ids, seed * 7 + 1) * 2555.0
    acquired = (np.datetime64("2013-01-01", "us")
                + (tday * 86400e6).astype("timedelta64[us]"))
    day = np.datetime_as_string(acquired, unit="D")
    iid = np.char.add("img-", np.char.zfill(ids.astype(str), 12))
    caption = [f"tile {i} over ({a:.4f},{o:.4f}) acquired {d}"
               for i, a, o, d in zip(iid, lat0, lon0, day)]
    return pd.DataFrame({
        "image_id": iid,
        "bytes": blocks["bytes"].to_numpy()[src],
        "w": np.full(n, TILE_PX, dtype=np.int32),
        "h": np.full(n, TILE_PX, dtype=np.int32),
        "fmt": blocks["fmt"].to_numpy()[src],
        "caption": caption,
        "phash": blocks["phash"].to_numpy(np.int64)[src],
        "lat0": lat0, "lon0": lon0,
        "dx": np.full(n, 0.0003), "dy": np.full(n, -0.0003),
        "acquired_at": acquired,
        "cell_id": cells.encode(lat0, lon0, synth.DEFAULT_RES),
    })


IMAGE_ARROW_SCHEMA = pa.schema([
    ("image_id", pa.string()), ("bytes", pa.binary()), ("w", pa.int32()),
    ("h", pa.int32()), ("fmt", pa.string()), ("caption", pa.string()),
    ("phash", pa.int64()), ("lat0", pa.float64()), ("lon0", pa.float64()),
    ("dx", pa.float64()), ("dy", pa.float64()),
    ("acquired_at", pa.timestamp("us")), ("cell_id", pa.int64())])


def images(cache_root: str, n: int, seed: int, workers: int):
    def build(path):
        df = image_rows(n, seed, workers, path)
        # shuffle rows so files are not sorted by id (seeded, deterministic)
        order = np.random.default_rng(seed).permutation(n)
        table = pa.Table.from_pandas(df.iloc[order], IMAGE_ARROW_SCHEMA,
                                     preserve_index=False)
        step = -(-n // IMAGE_FILES)
        for i in range(IMAGE_FILES):
            part = table.slice(i * step, step)
            if part.num_rows:
                pq.write_table(part, os.path.join(path, f"part-{i:05d}.parquet"))
        return {"rows": n, "bytes": _dir_bytes(path)}
    return _cached(cache_root, "images", f"s{seed}-n{n}", build)


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs
               if f.endswith(".parquet"))


# ---------------------------------------------------------------------------
# star schema + events + documents + embeddings
# ---------------------------------------------------------------------------

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJ = ["red", "blue", "hot", "cold", "old", "new", "small", "large"]
NOUN = ["widget", "plate", "ring", "rod", "gear", "bolt", "valve", "pipe"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "es", "de", "fr"]
WORDS = ("a the big small fast slow data row column table part line order "
         "customer value key join agg group sort hash scan filter merge "
         "window batch stream query spark vector dup").split()
EMB_DIMS = 64


def _write(path: str, name: str, cols: dict, schema: pa.Schema) -> None:
    pq.write_table(pa.table(cols, schema=schema),
                   os.path.join(path, f"{name}.parquet"))


def _dates(rng, n, start, days):
    return (np.datetime64(start, "us")
            + (rng.integers(0, days, n) * 86_400_000_000).astype(
                "timedelta64[us]"))


def write_tables(path: str, sf: float, seed: int) -> None:
    rng = np.random.default_rng(seed)
    n_cust, n_supp = max(150, int(150_000 * sf)), max(10, int(10_000 * sf))
    n_part, n_ord = max(200, int(200_000 * sf)), max(1500, int(1_500_000 * sf))
    n_line, n_ev = 4 * n_ord, max(1000, int(1_000_000 * sf))
    n_doc, n_emb = 500, 500
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")

    _write(path, "region", {"r_regionkey": np.arange(5, dtype=np.int32),
                            "r_name": REGIONS},
           pa.schema([("r_regionkey", i32), ("r_name", s)]))
    _write(path, "nation", {
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32)},
        pa.schema([("n_nationkey", i32), ("n_name", s), ("n_regionkey", i32)]))
    _write(path, "customer", {
        "c_custkey": np.arange(n_cust),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)},
        pa.schema([("c_custkey", i64), ("c_name", s), ("c_nationkey", i32),
                   ("c_acctbal", f64), ("c_mktsegment", s)]))
    _write(path, "supplier", {
        "s_suppkey": np.arange(n_supp),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)},
        pa.schema([("s_suppkey", i64), ("s_name", s), ("s_nationkey", i32),
                   ("s_acctbal", f64)]))
    retail = np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)
    _write(path, "part", {
        "p_partkey": np.arange(n_part),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(ADJ, n_part),
                                             rng.choice(NOUN, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": retail},
        pa.schema([("p_partkey", i64), ("p_name", s), ("p_brand", s),
                   ("p_type", s), ("p_size", i32), ("p_retailprice", f64)]))
    _write(path, "orders", {
        "o_orderkey": np.arange(n_ord),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _dates(rng, n_ord, "1995-01-01", 2400),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord)},
        pa.schema([("o_orderkey", i64), ("o_custkey", i64),
                   ("o_orderstatus", s), ("o_totalprice", f64),
                   ("o_orderdate", ts), ("o_orderpriority", s)]))
    partkey = rng.integers(0, n_part, n_line)
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    _write(path, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": partkey,
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * retail[partkey]
                                    * rng.uniform(1.0, 2.1, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _dates(rng, n_line, "1995-01-02", 2500)},
        pa.schema([("l_orderkey", i64), ("l_partkey", i64),
                   ("l_suppkey", i64), ("l_linenumber", i32),
                   ("l_quantity", f64), ("l_extendedprice", f64),
                   ("l_discount", f64), ("l_tax", f64),
                   ("l_returnflag", s), ("l_linestatus", s),
                   ("l_shipdate", ts)]))
    ev_ts = np.sort(np.datetime64("2024-01-01", "us") + rng.integers(
        0, 30 * 86_400_000_000, n_ev).astype("timedelta64[us]"))
    _write(path, "events", {
        "event_id": np.arange(n_ev), "ts": ev_ts,
        "user_id": rng.integers(0, max(15, n_cust // 10), n_ev),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.round(rng.uniform(0.01, 490.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]},
        pa.schema([("event_id", i64), ("ts", ts), ("user_id", i64),
                   ("event_type", s), ("value", f64), ("props", s)]))

    texts = []
    for i in range(n_doc):
        if i >= 20 and rng.random() < 0.15:   # near-duplicate of an earlier doc
            words = texts[int(rng.integers(0, i))].split()
            j = int(rng.integers(0, len(words)))
            words[j] = str(rng.choice(WORDS))
        else:
            words = list(rng.choice(WORDS, int(rng.integers(10, 100))))
        texts.append(" ".join(words))
    _write(path, "documents", {
        "doc_id": np.arange(n_doc), "text": texts,
        "lang": rng.choice(LANGS, n_doc, p=[0.44, 0.14, 0.14, 0.14, 0.14]),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.asarray([len(t) for t in texts], dtype=np.int64)},
        pa.schema([("doc_id", i64), ("text", s), ("lang", s),
                   ("source", s), ("n_chars", i64)]))

    label = rng.integers(0, 10, n_emb).astype(np.int32)
    centers = rng.normal(0.0, 1.0, (10, EMB_DIMS))
    vec = centers[label] + rng.normal(0.0, 0.8, (n_emb, EMB_DIMS))
    dup = rng.random(n_emb) < 0.05
    vec[dup] = vec[rng.integers(0, n_emb, dup.sum())] \
        + rng.normal(0.0, 0.01, (dup.sum(), EMB_DIMS))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    _write(path, "embeddings", {
        "vec_id": np.arange(n_emb),
        "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
        "label": label},
        pa.schema([("vec_id", i64), ("embedding", pa.list_(pa.float32())),
                   ("label", i32)]))


def windows(cache_root: str, images_dir: str, n: int, seed: int,
            n_windows: int):
    """The image table cut into equal-count acquisition-time windows, one
    parquet file each: the batches the snapshot workload appends."""
    def build(path):
        t = pq.read_table(images_dir)
        ts = t.column("acquired_at").to_numpy().astype("datetime64[us]")
        t = t.take(np.argsort(ts, kind="stable"))
        step = -(-t.num_rows // n_windows)
        for i in range(n_windows):
            pq.write_table(t.slice(i * step, step),
                           os.path.join(path, f"w{i:02d}.parquet"))
        return {"windows": n_windows}
    return _cached(cache_root, "windows", f"s{seed}-n{n}-w{n_windows}", build)


def tables(cache_root: str, sf: float, seed: int):
    def build(path):
        write_tables(path, sf, seed)
        return {"sf": sf, "bytes": _dir_bytes(path)}
    return _cached(cache_root, "tables", f"s{seed}-sf{sf}", build)


if __name__ == "__main__":
    _pixel_blocks(int(sys.argv[1]), int(sys.argv[2]), int(sys.argv[3]),
                  sys.argv[4])
