"""k-means, curve fits, FFT features, and line-scan golden parity with the
reference's own transect tests (transect/tests/test_linescan.py)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from data_cube_utilities_spark.operators import mlops

# every orientation/slope golden from the reference suite
LINESCAN_GOLDENS = [
    ((1, 10), (4, 2), [[1, 10], [1, 9], [1, 8], [2, 7], [2, 6], [2, 5],
                       [3, 4], [3, 3], [4, 2]]),
    ((1, 10), (10, 5), [[1, 10], [2, 9], [3, 8], [4, 8], [5, 7], [6, 7],
                        [7, 6], [8, 6], [9, 5], [10, 5]]),
    ((1, 10), (10, 1), [[1, 10], [2, 9], [3, 8], [4, 7], [5, 6], [6, 5],
                        [7, 4], [8, 3], [9, 2], [10, 1]]),
    ((1, 2), (4, 10), [[1, 2], [1, 3], [1, 4], [2, 5], [2, 6], [2, 7],
                       [3, 8], [3, 9], [4, 10]]),
    ((1, 5), (10, 10), [[1, 5], [2, 5], [3, 6], [4, 6], [5, 7], [6, 7],
                        [7, 8], [8, 8], [9, 9], [10, 10]]),
    ((1, 1), (10, 10), [[1, 1], [2, 2], [3, 3], [4, 4], [5, 5], [6, 6],
                        [7, 7], [8, 8], [9, 9], [10, 10]]),
    ((4, 10), (1, 2), [[4, 10], [3, 9], [3, 8], [2, 7], [2, 6], [2, 5],
                       [1, 4]]),
    ((8, 10), (1, 5), [[8, 10], [7, 9], [6, 8], [5, 7], [4, 7], [3, 6]]),
    ((8, 10), (4, 5), [[8, 10], [7, 9], [6, 8], [5, 7]]),
    ((4, 2), (1, 10), [[4, 2], [3, 3], [3, 4], [2, 5], [2, 6], [2, 7],
                       [1, 8]]),
    ((10, 2), (1, 6), [[10, 2], [9, 2], [8, 2], [7, 3], [6, 3], [5, 4],
                       [4, 4], [3, 5]]),
    ((11, 5), (1, 15), [[11, 5], [10, 6], [9, 7], [8, 8], [7, 9], [6, 10],
                        [5, 11], [4, 12], [3, 13]]),
    ((10, 4), (2, 4), [[10, 4], [9, 4], [8, 4], [7, 4], [6, 4], [5, 4],
                       [4, 4]]),
    ((2, 4), (10, 4), [[2, 4], [3, 4], [4, 4], [5, 4], [6, 4], [7, 4],
                       [8, 4], [9, 4], [10, 4]]),
    ((4, 10), (4, 2), [[4, 10], [4, 9], [4, 8], [4, 7], [4, 6], [4, 5],
                       [4, 4]]),
    ((4, 2), (4, 10), [[4, 2], [4, 3], [4, 4], [4, 5], [4, 6], [4, 7],
                       [4, 8], [4, 9], [4, 10]]),
]


@pytest.mark.parametrize("a,b,expected", LINESCAN_GOLDENS)
def test_line_scan_golden(a, b, expected):
    got = mlops.line_scan_np(a[0], a[1], b[0], b[1])
    assert got.tolist() == expected


def test_transect_join(spark):
    lines = spark.createDataFrame([(0, 1, 1, 4, 4)],
                                  "line_id long, x0 long, y0 long, x1 long, y1 long")
    px = spark.createDataFrame(
        [(x, y, float(x * 10 + y)) for x in range(6) for y in range(6)],
        "px long, py long, v double")
    out = mlops.transect(lines, px).toPandas()
    assert out.v.tolist() == [11.0, 22.0, 33.0, 44.0]
    assert out.seq.tolist() == [0, 1, 2, 3]


def test_kmeans_recovers_blobs(spark):
    rng = np.random.RandomState(5)
    blobs = np.vstack([rng.normal(c, 0.3, size=(200, 2))
                       for c in [(0, 0), (10, 0), (0, 10)]])
    pdf = pd.DataFrame({"a": blobs[:, 0], "b": blobs[:, 1]})
    df = spark.createDataFrame(pdf)
    out = mlops.kmeans_cluster(df, ["a", "b"], k=3,
                               sample_rows=600).toPandas()
    # each true blob maps to exactly one predicted cluster
    labels = [out.cluster[i * 200:(i + 1) * 200] for i in range(3)]
    assert all(lab.nunique() == 1 for lab in labels)
    assert len({lab.iloc[0] for lab in labels}) == 3


def test_kmeans_nan_label(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"a": [1.0, None, 2.0], "b": [1.0, 2.0, None]}))
    centers = np.array([[0.0, 0.0], [5.0, 5.0]])
    out = df.withColumn("cluster",
                        mlops.kmeans_assign_col(["a", "b"], centers)).toPandas()
    assert out.cluster.tolist() == [0, -1, -1]


def test_poly_fit(spark):
    x = np.linspace(0, 10, 50)
    rows = [("g", float(xi), float(2 * xi ** 2 - 3 * xi + 1)) for xi in x]
    df = spark.createDataFrame(rows, "key string, x double, y double")
    out = mlops.poly_fit(df, ["key"], "x", "y", degree=2).toPandas()
    assert np.allclose(out.coefs.iloc[0], [2.0, -3.0, 1.0], atol=1e-8)
    assert np.isclose(out.r2.iloc[0], 1.0)


def test_fourier_features(spark):
    t = np.arange(64)
    y = np.sin(2 * np.pi * t / 16.0)  # pure tone -> energy at coef 4
    rows = [(1, int(ti), float(yi)) for ti, yi in zip(t, y)]
    df = spark.createDataFrame(rows, "key long, t long, v double")
    out = mlops.fourier_fit_features(df, ["key"], "t", "v",
                                     n_coefs=5).toPandas()
    r = out.iloc[0]
    assert r.f4 > 10 * max(r.f1, r.f2, r.f3, r.f5)
    exp = np.abs(np.fft.rfft(y))
    assert np.isclose(r.f4, exp[4])
    assert np.isclose(r.complexity, np.sqrt((np.diff(y) ** 2).sum()))


def test_temporal_statistics_numpy_twin_known_values():
    # linear ramp: every diff = 2
    y = np.arange(0, 40, 2, dtype=np.float64)
    v = mlops.temporal_statistics_np(y, mlops.TS_STATS)
    assert v["mean_change"] == 2.0 and v["median_change"] == 2.0
    assert v["abs_change"] == 2.0
    assert np.isclose(v["complexity"], np.sqrt(len(y[1:]) * 4.0))
    assert np.isclose(v["central_diff"], 0.0)
    assert np.isclose(v["discordance"], 0.0)          # perfect lag-1 corr
    assert v["num_peaks"] == 1.0                      # only the end point
    # two-cycle sine: two interior peaks, near-zero mean change
    t = np.linspace(0, 4 * np.pi, 80, endpoint=False)
    s = np.sin(t)
    vs = mlops.temporal_statistics_np(s, ["num_peaks", "mean_change"])
    # two interior crests + the final boundary point, which ends a rising
    # segment and is therefore the max of its (truncated) window
    assert vs["num_peaks"] == 3.0
    assert abs(vs["mean_change"]) < 1e-2
    # fourier bands partition the non-DC half spectrum
    mag = np.abs(np.fft.rfft(s))[1:]
    vf = mlops.temporal_statistics_np(s, ["f_mean"])
    thirds = [mag[k * len(mag) // 3:(k + 1) * len(mag) // 3] for k in range(3)]
    for k in range(3):
        assert np.isclose(vf[f"f_mean_n{k+1}"], thirds[k].mean())


def test_temporal_statistics_spark_matches_twin(spark):
    rng = np.random.RandomState(23)
    rows = []
    for uid in range(6):
        y = np.cumsum(rng.randn(50)) + 10 * np.sin(np.arange(50) / 4.0)
        for i, v in enumerate(y):
            rows.append((uid, i, float(v)))
    df = spark.createDataFrame(rows, "user_id long, t long, v double")
    out = mlops.temporal_statistics(df, ["user_id"], "t", "v") \
        .toPandas().set_index("user_id").sort_index()
    by_uid = {}
    for uid, t, v in rows:
        by_uid.setdefault(uid, []).append(v)
    for uid, ys in by_uid.items():
        exp = mlops.temporal_statistics_np(np.asarray(ys), mlops.TS_STATS)
        for col, ev in exp.items():
            gv = out.loc[uid, col]
            assert np.isclose(gv, ev, equal_nan=True), (uid, col, gv, ev)


def test_lag_linregress_full_outputs(spark):
    from data_cube_utilities_spark.operators import temporal as T

    rng = np.random.RandomState(9)
    rows = []
    series = {}
    for uid in range(4):
        x = rng.randn(40)
        y = 2.5 * x + rng.randn(40) * 0.5 + uid
        series[uid] = (x, y)
        for i in range(40):
            rows.append((uid, i, float(x[i]), float(y[i])))
    df = spark.createDataFrame(rows, "user_id long, t long, x double, y double")
    out = T.lag_linregress(df, ["user_id"], "x", "y", "t") \
        .toPandas().set_index("user_id").sort_index()
    for uid, (x, y) in series.items():
        n = len(y)
        cov = ((x - x.mean()) * (y - y.mean())).sum() / n
        cor = cov / (x.std() * y.std())
        slope = cov / (x.std() ** 2)
        intercept = y.mean() - x.mean() * slope
        tstats = cor * np.sqrt(n - 2) / np.sqrt(1 - cor ** 2)
        stderr = slope / tstats
        pval = float(T.t_sf(np.array([tstats]), np.array([n - 2]))[0] * 2)
        r = out.loc[uid]
        for name, ev in [("cov", cov), ("cor", cor), ("slope", slope),
                         ("intercept", intercept), ("stderr", stderr),
                         ("pval", pval)]:
            assert np.isclose(r[name], ev, rtol=1e-9), (uid, name)


def test_lag_linregress_lag_matches_shifted_series(spark):
    from data_cube_utilities_spark.operators import temporal as T

    rng = np.random.RandomState(13)
    x = rng.randn(60)
    y = np.roll(x, -2) * 3.0          # y[i] = 3 * x[i+2] (except wrap tail)
    rows = [(0, i, float(x[i]), float(y[i])) for i in range(60)]
    df = spark.createDataFrame(rows, "user_id long, t long, x double, y double")
    out = T.lag_linregress(df, ["user_id"], "x", "y", "t", lagx=2) \
        .toPandas().iloc[0]
    # reference semantics: x shifted back by lagx, NaN tail dropped
    xs, ys = x[2:], y[:-2]
    n = len(xs)
    cov = ((xs - xs.mean()) * (ys - ys.mean())).sum() / n
    slope = cov / (xs.std() ** 2)
    assert out["n"] == n
    assert np.isclose(out["slope"], slope, rtol=1e-9)
    assert np.isclose(out["cor"], 1.0, atol=1e-9)     # exact linear relation


def test_birch_recovers_blobs_and_respects_threshold(spark):
    rng = np.random.RandomState(8)
    blobs = np.vstack([rng.normal(c, 0.3, size=(150, 2))
                       for c in [(0, 0), (10, 0), (0, 10)]])
    pdf = pd.DataFrame({"a": blobs[:, 0], "b": blobs[:, 1]})
    df = spark.createDataFrame(pdf)
    out = mlops.birch_cluster(df, ["a", "b"], n_clusters=3,
                              threshold=0.8, sample_rows=450).toPandas()
    assert set(out.cluster.unique()) == {0, 1, 2}
    # every blob lands (almost) entirely in one cluster
    lab = out.cluster.to_numpy()
    for s in range(3):
        seg = lab[s * 150:(s + 1) * 150]
        counts = np.bincount(seg, minlength=3)
        assert counts.max() >= 0.99 * 150
    # the three blobs get three DIFFERENT labels
    assert len({np.bincount(lab[s*150:(s+1)*150], minlength=3).argmax()
                for s in range(3)}) == 3


def test_birch_fit_cf_invariants():
    rng = np.random.RandomState(3)
    import pandas as pd
    from data_cube_utilities_spark.session import get_spark
    spark = get_spark("birch-t", cores=2, shuffle_partitions=4)
    X = rng.randn(300, 3)
    df = spark.createDataFrame(pd.DataFrame(X, columns=["x", "y", "z"]))
    sub, labels = mlops.birch_fit(df, ["x", "y", "z"], n_clusters=4,
                                  threshold=0.7, sample_rows=300)
    assert sub.shape[1] == 3 and len(labels) == len(sub)
    assert set(labels.tolist()) == set(range(4))
    # tight threshold -> more subclusters than global clusters
    assert len(sub) > 4


def test_birch_null_rows_get_minus_one(spark):
    import pandas as pd
    pdf = pd.DataFrame({"a": [0.0, 10.0, None, 0.1], "b": [0.0, 10.0, 1.0, 0.2]})
    df = spark.createDataFrame(pdf)
    out = mlops.birch_cluster(df, ["a", "b"], n_clusters=2,
                              threshold=1.0, sample_rows=10).toPandas()
    assert out.cluster.iloc[2] == -1
    assert out.cluster.iloc[0] == out.cluster.iloc[3] != out.cluster.iloc[1]


def test_kmeans_tree_two_levels(spark):
    # 9 well-separated micro-blobs arranged as 3 super-groups of 3
    rng = np.random.RandomState(17)
    supers = [(0, 0), (100, 0), (0, 100)]
    pts, blob_of = [], []
    bi = 0
    for sx, sy in supers:
        for dx, dy in [(0, 0), (12, 0), (0, 12)]:
            pts.append(rng.normal((sx + dx, sy + dy), 0.4, size=(60, 2)))
            blob_of += [bi] * 60
            bi += 1
    X = np.vstack(pts)
    df = spark.createDataFrame(
        pd.DataFrame({"a": X[:, 0], "b": X[:, 1]}))
    tree = mlops.kmeans_tree_fit(df, ["a", "b"], n_levels=2, n_clusters=3,
                                 sample_rows=len(X))
    out = df.withColumn(
        "cluster", mlops.kmeans_tree_assign_col(["a", "b"], tree)).toPandas()
    lab = out.cluster.to_numpy()
    assert set(lab) <= set(range(9))
    # each micro-blob -> one label; 9 distinct labels overall
    per_blob = [np.bincount(lab[i*60:(i+1)*60]).argmax() for i in range(9)]
    for i in range(9):
        assert (lab[i*60:(i+1)*60] == per_blob[i]).mean() >= 0.99
    assert len(set(per_blob)) == 9
    # greedy composition: blobs of one super-group share the base digit
    for s in range(3):
        assert len({per_blob[3*s + j] // 3 for j in range(3)}) == 1


def test_spatial_kfold_groups_never_straddle_folds(spark):
    rng = np.random.RandomState(29)
    # 12 spatial clumps of different sizes
    rows = []
    for g in range(12):
        cx, cy = rng.uniform(-50, 50, 2)
        for _ in range(rng.randint(30, 120)):
            rows.append((float(cx + rng.randn() * 0.1),
                         float(cy + rng.randn() * 0.1)))
    df = spark.createDataFrame(rows, "x double, y double")
    out = mlops.spatial_kfold(df, n_splits=4, n_groups=12, seed=1).toPandas()
    assert set(out.fold.unique()) <= {0, 1, 2, 3}
    # points within one clump share a fold: group by rounded centroid
    key = (out.x.round(0) * 1000 + out.y.round(0)).astype(int)
    assert (out.groupby(key).fold.nunique() == 1).all()
    # balanced deal: fold sizes within 40% of each other
    sizes = out.fold.value_counts()
    assert sizes.min() >= 0.6 * sizes.max()


def test_svm_fit_separates_and_scores_in_codegen(spark):
    rng = np.random.RandomState(7)
    n = 2000
    X = rng.randn(n, 3)
    y = (X @ np.array([2.0, -1.0, 0.5]) + 0.3 > 0).astype(int)
    pdf = pd.DataFrame(X, columns=["vv", "vh", "angle"])
    pdf["water"] = y
    df = spark.createDataFrame(pdf)
    w, b, mean, std = mlops.svm_fit(df, ["vv", "vh", "angle"], "water",
                                    sample_rows=n, epochs=15)
    out = df.withColumn(
        "pred", mlops.svm_classify_col(["vv", "vh", "angle"], w, b, mean, std)
    ).toPandas()
    acc = (out.pred == out.water).mean()
    assert acc >= 0.97
    # the scoring path is a plain expression: no Python in the plan
    plan = df.withColumn("pred", mlops.svm_classify_col(
        ["vv", "vh", "angle"], w, b, mean, std))._jdf         .queryExecution().executedPlan().toString()
    assert "Python" not in plan


def test_gaussian_fit_np_exact_recovery():
    x = np.linspace(-5, 5, 200)
    y = mlops.gauss_np(x, 3.5, 1.2, 0.8)
    a, x0, s = mlops.gaussian_fit_np(x, y)
    assert np.allclose([a, x0, abs(s)], [3.5, 1.2, 0.8], atol=1e-6)
    # noisy recovery within tolerance
    rng = np.random.RandomState(2)
    yn = y + rng.randn(len(x)) * 0.05
    a2, x02, s2 = mlops.gaussian_fit_np(x, yn)
    assert abs(a2 - 3.5) < 0.1 and abs(x02 - 1.2) < 0.05
    assert abs(abs(s2) - 0.8) < 0.05


def test_gaussian_fit_spark(spark):
    x = np.linspace(0, 10, 80)
    rows = []
    for key, (a, mu, s) in {"p": (2.0, 4.0, 1.0), "q": (5.0, 7.0, 0.5)}.items():
        for xi, yi in zip(x, mlops.gauss_np(x, a, mu, s)):
            rows.append((key, float(xi), float(yi)))
    df = spark.createDataFrame(rows, "key string, x double, y double")
    out = mlops.gaussian_fit(df, ["key"], "x", "y").toPandas() \
        .set_index("key").sort_index()
    assert np.allclose(out.loc["p", ["a", "x0"]], [2.0, 4.0], atol=1e-5)
    assert np.isclose(abs(out.loc["p", "sigma"]), 1.0, atol=1e-5)
    assert np.allclose(out.loc["q", ["a", "x0"]], [5.0, 7.0], atol=1e-5)
    assert (out.r2 > 0.999999).all()


def test_fit_sample_is_single_job_and_covers_partitions(spark):
    """_fit_sample must not run a count() job before sampling (VERDICT r2
    #7): exactly ONE Spark job, rows from every partition, bounded size."""
    df = (spark.range(0, 40_000, 1, 8)
               .withColumn("part", F.spark_partition_id())
               .withColumn("x", (F.col("id") % 997).cast("double")))
    sc = spark.sparkContext
    sc.setJobGroup("fit-sample-test", "count jobs", False)
    before = set(sc.statusTracker().getJobIdsForGroup("fit-sample-test"))
    pdf = mlops._fit_sample(df, ["part", "x"], sample_rows=4_000, seed=1)
    jobs = set(sc.statusTracker().getJobIdsForGroup("fit-sample-test")) - before
    sc.setJobGroup(None, None, False)
    assert len(jobs) == 1, f"expected 1 job, saw {len(jobs)}"
    assert len(pdf) <= 4_000
    assert pdf["part"].nunique() == 8          # every partition contributes
    # deterministic
    pdf2 = mlops._fit_sample(df, ["part", "x"], sample_rows=4_000, seed=1)
    assert pdf.equals(pdf2)


def test_grouped_fit_key_schema_follows_input_types(spark):
    """String (and any non-long) grouping keys must work — the key schema
    is derived from the input, not hardcoded (ADVICE r2)."""
    pdf = pd.DataFrame({
        "series": ["a"] * 24 + ["b"] * 24,
        "t": list(range(24)) * 2,
        "v": [float(i % 7) for i in range(24)] + [float(i % 5) for i in range(24)],
    })
    df = spark.createDataFrame(pdf)
    out = mlops.temporal_statistics(df, ["series"], "t", "v").toPandas()
    assert sorted(out["series"]) == ["a", "b"]
    gauss = mlops.gaussian_fit(df.withColumn("series_int", F.col("t") % 2),
                               ["series_int"], "t", "v").toPandas()
    assert set(gauss["series_int"]) == {0, 1}
    poly = mlops.poly_fit(df, ["series"], "t", "v").toPandas()
    assert sorted(poly["series"]) == ["a", "b"]


def test_with_kmeans_assignment_matches_assign_col(spark):
    """The staged two-projection assignment (wide-problem codegen form)
    labels exactly like the single-expression form, including NaN -> -1;
    and the Arrow GEMM form agrees on well-separated data."""
    rng = np.random.RandomState(11)
    X = np.vstack([rng.normal(c, 0.2, size=(40, 3))
                   for c in [(0, 0, 0), (8, 0, 0), (0, 8, 0)]])
    pdf = pd.DataFrame(X, columns=["a", "b", "c"])
    pdf.loc[5, "a"] = None
    df = spark.createDataFrame(pdf)
    centers = np.array([[0.0, 0.0, 0.0], [8.0, 0.0, 0.0], [0.0, 8.0, 0.0]])
    col = df.withColumn("k1", mlops.kmeans_assign_col(["a", "b", "c"],
                                                      centers))
    both = mlops.with_kmeans_assignment(col, ["a", "b", "c"], centers,
                                        "k2").toPandas()
    assert both.k1.tolist() == both.k2.tolist()
    assert both.k1.iloc[5] == -1
    arr = df.withColumn("v", F.array("a", "b", "c").cast("array<double>")) \
            .withColumn("k3", mlops.kmeans_assign_udf(centers)("v")) \
            .toPandas()
    assert arr.k3.tolist() == both.k1.tolist()


def test_gram_matrix_matches_numpy(spark):
    import numpy as np
    rng = np.random.default_rng(7)
    X = rng.normal(size=(40, 6)).astype(np.float32)
    rows = [(int(i), [float(x) for x in X[i]]) for i in range(40)]
    # plant bad rows: NULL vector, NaN element, wrong length — all skipped
    rows += [(100, None), (101, [float("nan")] * 6), (102, [1.0, 2.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = mlops.gram_matrix(df, dims=6).toPandas()
    G = np.zeros((6, 6))
    for _, r in got.iterrows():
        G[int(r.i), int(r.j)] = r.g
    Xd = X.astype(np.float64)
    assert np.allclose(G, Xd.T @ Xd, rtol=1e-12, atol=1e-9)


def test_pca_fit_project_matches_numpy(spark):
    import numpy as np
    rng = np.random.default_rng(11)
    # anisotropic cloud so the principal axes are unambiguous
    X = rng.normal(size=(200, 5)) * np.array([10.0, 5.0, 1.0, 0.5, 0.1])
    df = spark.createDataFrame(
        [(int(i), [float(x) for x in X[i]]) for i in range(200)],
        "vec_id long, embedding array<float>")
    comps, ev, mu, n = mlops.pca_fit(df, dims=5, k=3)
    assert n == 200
    # reference PCA on the exact same float32-rounded data
    Xf = X.astype(np.float32).astype(np.float64)
    C = np.cov(Xf, rowvar=False)
    w, V = np.linalg.eigh(C)
    ref = V[:, np.argsort(w)[::-1][:3]].T
    flip = np.sign(ref[np.arange(3), np.abs(ref).argmax(axis=1)])
    ref = ref * flip[:, None]
    assert np.allclose(np.sort(ev)[::-1], np.sort(w)[::-1][:3], rtol=1e-6)
    assert np.allclose(comps, ref, atol=1e-6)
    # projection: distributed == (X - mean) @ comps.T; bad row -> NULL
    proj = mlops.pca_project(df, comps, mu).toPandas().set_index("vec_id")
    Y = (Xf - Xf.mean(axis=0)) @ comps.T
    got = np.stack(proj.sort_index().projection.values)
    assert np.allclose(got, Y, atol=1e-8)
    bad = spark.createDataFrame([(1, None)], "vec_id long, embedding array<float>")
    pb = mlops.pca_project(bad, comps, mu).collect()
    assert pb[0].projection is None
