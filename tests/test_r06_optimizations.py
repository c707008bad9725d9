"""Round-6 optimization equivalence tests: every operator whose internals
changed for performance is pinned against its pre-optimization formulation
on randomized data (the oracle rows prove the driver grid; these prove the
general case)."""

import numpy as np
from pyspark.sql import Window
from pyspark.sql import functions as F

from data_cube_utilities_spark.operators import textops


RNG = np.random.RandomState(1234)


# ---------------------------------------------------------------------------
# cosine: codegen chain == Arrow kernel (bit-identical)
# ---------------------------------------------------------------------------

def test_cosine_chain_matches_kernel_bitwise(spark):
    dims = 17   # deliberately not the registry's 64
    rows = []
    for i in range(300):
        rows.append((i, RNG.randn(dims).tolist(), RNG.randn(dims).tolist()))
    rows.append((300, None, RNG.randn(dims).tolist()))      # NULL vector
    rows.append((301, [0.0] * dims, RNG.randn(dims).tolist()))  # zero norm
    df = spark.createDataFrame(
        rows, f"id long, a array<double>, b array<double>")
    out = df.select(
        "id",
        textops._cosine_col(F.col("a"), F.col("b")).alias("k"),
        textops._cosine_chain_col(F.col("a"), F.col("b"), dims).alias("c"),
    ).collect()
    for r in out:
        if r["k"] is None:
            assert r["c"] is None, r
        else:
            # bit-identical, not approximately equal
            assert r["k"] == r["c"], r


def test_cosine_factored_norms_match_kernel_bitwise(spark):
    # the hoisted-norm form (dot chain / precomputed sqrt norms) must
    # reproduce the fused chain and the Arrow kernel bit for bit
    dims = 17
    rows = []
    for i in range(300):
        rows.append((i, RNG.randn(dims).tolist(), RNG.randn(dims).tolist()))
    rows.append((300, None, RNG.randn(dims).tolist()))      # NULL vector
    rows.append((301, [0.0] * dims, RNG.randn(dims).tolist()))  # zero norm
    df = spark.createDataFrame(
        rows, "id long, a array<double>, b array<double>")
    pre = df.select(
        "id", "a", "b",
        textops._norm2_chain_col(F.col("a"), dims).alias("na2"),
        textops._norm2_chain_col(F.col("b"), dims).alias("nb2"))
    out = pre.select(
        "id",
        textops._cosine_col(F.col("a"), F.col("b")).alias("k"),
        (textops._dot_chain_col(F.col("a"), F.col("b"), dims)
         / (F.sqrt("na2") * F.sqrt("nb2"))).alias("c"),
    ).collect()
    for r in out:
        if r["k"] is None:
            assert r["c"] is None, r
        else:
            assert r["k"] == r["c"], r


def test_embedding_near_dup_chain_branch_matches_kernel_branch(spark,
                                                               monkeypatch):
    # force each branch through CHAIN_MIN_ROWS on a small corpus and
    # compare the full operator output of the chain and kernel branches
    dims = 8
    rows = []
    for i in range(80):
        base = RNG.randn(dims)
        rows.append((i, base.tolist()))
        if i % 4 == 0:   # plant near-dups so pairs survive the threshold
            rows.append((1000 + i, (base + 0.01 * RNG.randn(dims)).tolist()))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    monkeypatch.setattr(textops, "CHAIN_MIN_ROWS", 10 ** 9)     # kernel arm
    kern = textops.embedding_near_dup_pairs(
        df, threshold=0.3, dims=dims, planes=4)
    monkeypatch.setattr(textops, "CHAIN_MIN_ROWS", 0)           # chain arm
    chain = textops.embedding_near_dup_pairs(
        df, threshold=0.3, dims=dims, planes=4)
    a = sorted(map(tuple, kern.collect()))
    b = sorted(map(tuple, chain.collect()))
    assert a == b and len(a) > 0


def test_cosine_dispatch_uses_chain_no_python(spark):
    df = spark.createDataFrame([(0, [1.0, 2.0], [3.0, 4.0])],
                               "id long, a array<double>, b array<double>")
    plan = df.select(textops._cosine(F.col("a"), F.col("b"), 2))._jdf \
             .queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


# ---------------------------------------------------------------------------
# minhash: wide codegen min-agg == explicit explode/groupBy formulation
# ---------------------------------------------------------------------------

def test_minhash_signatures_match_explode_formulation(spark):
    vocab = ["alpha", "beta", "gamma", "delta", "eps", "zeta"]
    docs = []
    for i in range(60):
        n = RNG.randint(0, 12)   # includes docs too short for a trigram
        docs.append((i, " ".join(RNG.choice(vocab, size=n).tolist())))
    df = spark.createDataFrame(docs, "doc_id long, text string")

    new = textops.minhash_signatures(df, 4)

    # the pre-r6 reference shape: explode shingle x band, md5, groupBy min
    sh = textops.explode_trigrams(df)
    bands = sh.withColumn("band",
                          F.explode(F.sequence(F.lit(0), F.lit(3))))
    keyed = bands.withColumn(
        "h", F.md5(F.concat_ws("#", F.col("shingle"), F.col("band"))))
    old = keyed.groupBy("doc_id", "band").agg(F.min("h").alias("sig"))

    assert new.exceptAll(old).count() == 0
    assert old.exceptAll(new).count() == 0


# ---------------------------------------------------------------------------
# median rank pick == percentile (exact doubled-median integers)
# ---------------------------------------------------------------------------

def test_median_mosaic_rank_pick_matches_percentile(spark, tmp_path):
    # randomized: duplicate-heavy values, odd and even group sizes,
    # values straddling many buckets
    rows = []
    for flag in ["A", "B", "C"]:
        n = int(RNG.randint(50, 400))
        prices = RNG.randint(1, 3_000_000, size=n)  # cents, multi-bucket
        qtys = RNG.randint(1, 51, size=n)
        for p, q in zip(prices, qtys):
            rows.append((flag, float(p) / 100.0, float(q)))
    df = spark.createDataFrame(
        rows, "l_returnflag string, l_extendedprice double, l_quantity double")
    path = str(tmp_path / "lineitem.parquet")
    df.write.mode("overwrite").parquet(path)

    from data_cube_utilities_spark import queries as q
    got = {r["l_returnflag"]: (r["median2_price_c"], r["median2_qty"])
           for r in q.q_median_mosaic(spark, str(tmp_path)).collect()}

    ref = (df.withColumn("price_c",
                         F.round(F.col("l_extendedprice") * 100, 0)
                          .cast("long"))
             .withColumn("qty_i", F.round("l_quantity", 0).cast("long"))
             .groupBy("l_returnflag")
             .agg((2 * F.expr("percentile(price_c, 0.5)")).cast("long")
                  .alias("p"),
                  (2 * F.expr("percentile(qty_i, 0.5)")).cast("long")
                  .alias("q")))
    want = {r["l_returnflag"]: (r["p"], r["q"]) for r in ref.collect()}
    assert got == want


# ---------------------------------------------------------------------------
# as-of join: merged-stream window == join + per-click rank formulation
# ---------------------------------------------------------------------------

def test_asof_window_matches_join_formulation(spark, tmp_path):
    # randomized with heavy ts ties (the tie-break is the risky part)
    from datetime import datetime, timedelta
    base = datetime(2031, 1, 1)
    rows = []
    eid = 0
    for user in range(25):
        for _ in range(RNG.randint(1, 30)):
            ts = base + timedelta(seconds=int(RNG.randint(0, 50)))
            kind = ["click", "view", "purchase"][RNG.randint(0, 3)]
            rows.append((eid, user, ts, kind, float(RNG.rand())))
            eid += 1
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, "
              "event_type string, value double")
    path = str(tmp_path / "events.parquet")
    df.write.mode("overwrite").parquet(path)

    from data_cube_utilities_spark import queries as q
    got = set(map(tuple, q.q_asof_join(spark, str(tmp_path)).collect()))

    clicks = df.filter("event_type = 'click'").select(
        F.col("event_id").alias("click_id"), "user_id",
        F.col("ts").alias("click_ts"))
    views = df.filter("event_type = 'view'").select(
        F.col("event_id").alias("view_id"), "user_id",
        F.col("ts").alias("view_ts"))
    j = clicks.join(views, "user_id").filter("view_ts <= click_ts")
    w = Window.partitionBy("click_id").orderBy(
        F.desc("view_ts"), F.desc("view_id"))
    ref = (j.withColumn("rn", F.row_number().over(w)).filter("rn = 1")
            .select("click_id", "view_id",
                    (F.unix_micros(F.col("click_ts").cast("timestamp"))
                     - F.unix_micros(F.col("view_ts").cast("timestamp")))
                    .alias("lag_us")))
    want = set(map(tuple, ref.collect()))
    assert got == want


# ---------------------------------------------------------------------------
# anti-join gate: one-aggregation form == anti-join form
# ---------------------------------------------------------------------------

def test_quality_gate_single_agg_matches_anti_join(spark, tmp_path):
    rows = []
    for ok in range(40):
        for _ in range(RNG.randint(1, 8)):
            rows.append((ok, float(RNG.randint(1, 20)) / 100.0,
                         float(RNG.randint(100, 99999)) / 100.0))
    df = spark.createDataFrame(
        rows, "l_orderkey long, l_discount double, l_extendedprice double")
    path = str(tmp_path / "lineitem.parquet")
    df.write.mode("overwrite").parquet(path)

    from data_cube_utilities_spark import queries as q
    got = q.q_anti_join_quality_gate(spark, str(tmp_path)).collect()[0]

    d100 = F.round(F.col("l_discount") * 100, 0).cast("long")
    bad = (df.groupBy("l_orderkey")
             .agg(F.sum(d100).alias("s"), F.count("*").alias("c"))
             .filter(F.col("s") > 5 * F.col("c")).select("l_orderkey"))
    kept = df.join(bad, "l_orderkey", "left_anti")
    cents = F.round(F.col("l_extendedprice") * 100, 0).cast("long")
    want = kept.agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("l_orderkey").alias("n_orders"),
        F.round(F.sum(cents).cast("double") / 100.0, 2).alias("kept_value")
    ).collect()[0]
    assert tuple(got) == tuple(want)
