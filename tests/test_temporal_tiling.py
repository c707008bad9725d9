"""Temporal window operators and the tiling/salting layer."""

from datetime import datetime, timedelta

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from data_cube_utilities_spark import cells
from data_cube_utilities_spark.operators import temporal, tiling


def series_pdf(n_keys=4, n_obs=30, seed=17):
    rng = np.random.RandomState(seed)
    rows = []
    t0 = datetime(2020, 1, 1)
    for k in range(n_keys):
        for i in range(n_obs):
            rows.append(dict(
                key=k, obs=i,
                ts=t0 + timedelta(hours=i * (k + 1), minutes=int(rng.randint(0, 50))),
                v=float(rng.randint(0, 100)),
                vn=(None if rng.rand() < 0.3 else float(rng.randint(0, 100)))))
    return pd.DataFrame(rows)


@pytest.fixture(scope="module")
def sdf(spark):
    return spark.createDataFrame(series_pdf()).cache()


def test_rolling_baseline_matches_pandas(sdf):
    out = temporal.rolling_baseline(sdf, ["key"], "v", "ts", window=3,
                                    tiebreak=["obs"]).toPandas()
    pdf = series_pdf().sort_values(["key", "ts", "obs"])
    exp = (pdf.groupby("key")["v"]
           .apply(lambda s: s.shift(1).rolling(3, min_periods=1).mean())
           .reset_index(drop=True))
    got = out.sort_values(["key", "ts", "obs"]).baseline.reset_index(drop=True)
    pd.testing.assert_series_equal(got.rename(None), exp.rename(None),
                                   check_names=False, atol=1e-9)


def test_ffill_bfill(sdf):
    pdf = series_pdf().sort_values(["key", "ts", "obs"])
    for fill, col in [(temporal.ffill, "vn_filled"),
                      (temporal.bfill, "vn_bfilled")]:
        out = fill(sdf, ["key"], "vn", "ts", tiebreak=["obs"]).toPandas()
        exp = (getattr(pdf.groupby("key")["vn"], fill.__name__)()
               .reset_index(drop=True))
        got = (out.sort_values(["key", "ts", "obs"])[col]
                  .reset_index(drop=True))
        pd.testing.assert_series_equal(got.rename(None), exp.rename(None),
                                       check_names=False)


def test_gap_stats(sdf):
    out = temporal.gap_stats(sdf, ["key"], "ts", tiebreak=["obs"]).toPandas()
    pdf = series_pdf().sort_values(["key", "ts", "obs"])
    for k in range(4):
        gaps = pdf[pdf.key == k].ts.diff().dropna().dt.total_seconds() * 1e6
        row = out[out.key == k].iloc[0]
        assert row.gap_min == gaps.min() and row.gap_max == gaps.max()
        assert np.isclose(row.gap_mean, gaps.mean())


def test_trend_slope_closed_form(sdf):
    out = temporal.trend_slope(sdf, ["key"], "v", "ts").toPandas()
    pdf = series_pdf()
    for k in range(4):
        sub = pdf[pdf.key == k]
        t = sub.ts.astype("int64").to_numpy() / 1e9
        v = sub.v.to_numpy()
        slope, intercept = np.polyfit(t, v, 1)
        row = out[out.key == k].iloc[0]
        assert np.isclose(row.slope, slope, rtol=1e-6)
        assert np.isclose(row.intercept, intercept, rtol=1e-4)


def test_asof_join_backward_forward(spark):
    left = spark.createDataFrame(
        [(1, datetime(2020, 1, 1, 12)), (1, datetime(2020, 1, 3, 12)),
         (2, datetime(2020, 1, 2, 0))],
        "k long, lt timestamp")
    right = spark.createDataFrame(
        [(1, datetime(2020, 1, 1, 0), 10.0), (1, datetime(2020, 1, 2, 0), 20.0),
         (1, datetime(2020, 1, 4, 0), 30.0), (2, datetime(2020, 1, 5, 0), 99.0)],
        "k long, rt timestamp, rv double")
    back = temporal.asof_join(left, right, ["k"], "lt", "rt",
                              direction="backward", right_cols=["rv"]) \
        .toPandas().sort_values(["k", "lt"])
    assert back.rv.tolist()[:2] == [10.0, 20.0] and pd.isna(back.rv.tolist()[2])
    fwd = temporal.asof_join(left, right, ["k"], "lt", "rt",
                             direction="forward", right_cols=["rv"]) \
        .toPandas().sort_values(["k", "lt"])
    assert fwd.rv.tolist() == [20.0, 30.0, 99.0]


def test_asof_exact_timestamp_matches(spark):
    # a right row exactly at the left time must match in backward mode
    left = spark.createDataFrame([(1, datetime(2020, 1, 2, 0))], "k long, lt timestamp")
    right = spark.createDataFrame([(1, datetime(2020, 1, 2, 0), 7.0)],
                                  "k long, rt timestamp, rv double")
    out = temporal.asof_join(left, right, ["k"], "lt", "rt",
                             direction="backward", right_cols=["rv"]).toPandas()
    assert out.rv.tolist() == [7.0]


def test_time_chunks(sdf):
    out = temporal.time_chunks(sdf, ["key"], "ts", chunk_size=10,
                               tiebreak=["obs"]).toPandas()
    assert set(out.time_chunk) == {0, 1, 2}
    assert (out.groupby(["key", "time_chunk"]).size() == 10).all()


def test_calendar_grouping(sdf):
    out = temporal.group_by_calendar(sdf, ["key"], "ts", "month").toPandas()
    assert out.time_bucket.min() == 202001


def test_first_last_valid(sdf):
    out = temporal.first_last_valid(sdf, ["key"], "vn", "ts").toPandas()
    pdf = series_pdf().sort_values(["key", "ts"])
    for k in range(4):
        sub = pdf[(pdf.key == k) & pdf.vn.notna()]
        row = out[out.key == k].iloc[0]
        assert row.first_value == sub.vn.iloc[0]
        assert row.last_value == sub.vn.iloc[-1]


# --- tiling / salting ---

def test_assign_cells_and_combine(spark):
    pdf = pd.DataFrame({"id": range(200),
                        "lat": np.linspace(-10, 10, 200),
                        "lon": np.linspace(-20, 20, 200)})
    df = spark.createDataFrame(pdf)
    tiled = tiling.assign_cells(df, "lat", "lon", 6)
    # two overlapping chunk scans combine to the monolithic row set
    left = tiled.filter(F.col("lon") < 5.0)
    right = tiled.filter(F.col("lon") >= -5.0)
    combined = tiling.combine_chunks([left, right], ["id"])
    assert combined.count() == 200
    mono = set(r["id"] for r in tiled.select("id").collect())
    assert set(r["id"] for r in combined.select("id").collect()) == mono


def test_compact_cover_and_pruning(spark):
    pdf = pd.DataFrame({"lat": np.random.RandomState(3).uniform(30, 40, 300),
                        "lon": np.random.RandomState(4).uniform(-100, -90, 300)})
    df = tiling.assign_cells(spark.createDataFrame(pdf), "lat", "lon", 8)
    cover = tiling.compact_cover(df)
    assert len(cover) > 0
    # every original cell is under the cover
    pred = tiling.cell_pruning_filter(cover, res=8)
    assert df.filter(pred).count() == 300


def test_compact_cover_distributed_matches_numpy(spark):
    """The distributed promotion loop (groupBy parent, count==4 per level,
    VERDICT r4 Next #7) must reproduce cells.compact exactly: a fully
    compactable uniform block promotes all the way up (collect bounded by
    the COMPACTED cover, here 1 cell), an uncompactable scatter stays
    put, and a mixed-res input matches the numpy reference."""
    from data_cube_utilities_spark import cells

    # fully compactable: all 16 res-2 children of one res-0 cell
    full = cells.children(int(cells.encode(45.0, -90.0, 0)), 2)
    df = spark.createDataFrame([(int(c),) for c in full], "cell_id long")
    cover = tiling.compact_cover(df)
    assert len(cover) == 1 and int(cells.cell_res(cover[0])) == 0
    assert np.array_equal(cover, cells.compact(full))

    # uncompactable: one child from each of 5 different parents
    parents = cells.children(int(cells.encode(45.0, -90.0, 1)), 3)[:5]
    scatter = np.array([cells.children(int(p), 4)[0] for p in parents])
    df2 = spark.createDataFrame([(int(c),) for c in scatter], "cell_id long")
    cover2 = np.sort(tiling.compact_cover(df2))
    assert np.array_equal(cover2, np.sort(scatter))

    # mixed-resolution input: numpy parity on a pseudo-random cover
    rng = np.random.RandomState(11)
    mixed = np.concatenate([
        cells.children(int(cells.encode(10.0, 10.0, 2)), 4),     # promotable
        cells.encode(rng.uniform(-60, 60, 40), rng.uniform(-170, 170, 40), 6),
        cells.encode(rng.uniform(-60, 60, 10), rng.uniform(-170, 170, 10), 3),
    ])
    df3 = spark.createDataFrame([(int(c),) for c in mixed], "cell_id long")
    assert np.array_equal(np.sort(tiling.compact_cover(df3)),
                          np.sort(cells.compact(mixed)))


def test_salting_exact_mean(spark):
    # one hot cell (many rows), several cold ones
    rng = np.random.RandomState(9)
    hot = pd.DataFrame({"cell_id": 7, "id": range(5000),
                        "v": rng.rand(5000)})
    cold = pd.DataFrame({"cell_id": np.arange(100, 120).repeat(10),
                         "id": range(200), "v": rng.rand(200)})
    df = spark.createDataFrame(pd.concat([hot, cold]))
    salted = tiling.salt_hot_cells(df, threshold=1000, n_salt=8, id_col="id")
    sp = salted.toPandas()
    assert sp[sp.cell_id == 7].salt.nunique() > 1      # hot cell spread
    assert (sp[sp.cell_id != 7].salt == 0).all()        # cold cells untouched
    out = tiling.salted_mean(df, "cell_id", ["v"],
                             threshold=1000, n_salt=8, id_col="id") \
        .toPandas().set_index("cell_id")
    assert np.isclose(out.loc[7, "v_mean"], hot.v.mean())
    assert out.loc[7, "n"] == 5000
    assert np.isclose(out.loc[100, "v_mean"], cold[cold.cell_id == 100].v.mean())


def test_geographic_chunks_degrees_reference_invariants():
    """The reference's own chunker test invariants (test_dc_chunker.py:22-39)."""
    import pytest as _pytest
    with _pytest.raises(ValueError):
        tiling.geographic_chunks_degrees((1, -1), (1, -1))
    chunks = tiling.geographic_chunks_degrees(
        longitude=(-1, 1), latitude=(-1, 1), geographic_chunk_size=0.1)
    assert len(chunks) == 40
    for c in chunks:
        assert c["longitude"] == (-1, 1)
        assert c["latitude"][0] >= -1 and c["latitude"][1] <= 1
    assert chunks[0]["latitude"][0] == -1
    assert chunks[-1]["latitude"][1] == 1


def test_time_chunks_list_reference_invariants():
    from datetime import datetime
    dates = [datetime(2005, 1, 1), datetime(2006, 1, 1), datetime(2007, 5, 3),
             datetime(2014, 2, 1), datetime(2000, 1, 1)]
    groups = tiling.time_chunks_list(dates, chunk_size=2)
    assert len(groups) == 3
    assert groups[0][0] == datetime(2000, 1, 1)   # sorted ascending
    desc = tiling.time_chunks_list(dates, chunk_size=2, descending=True)
    assert desc[0][0] == datetime(2014, 2, 1)


def test_cfmask_reference_golden(spark):
    """create_cfmask_clean_mask golden (test_dc_utilities.py:36-49):
    values [1,2,3,0,5] per time -> clean [T,F,F,T,F]."""
    import pandas as pd
    from data_cube_utilities_spark.operators import masks
    pdf = pd.DataFrame({"cf_mask": [1, 2, 3, 0, 5]})
    out = spark.createDataFrame(pdf).select(
        masks.cfmask_clean_mask(F.col("cf_mask")).alias("m")).toPandas()
    assert out.m.tolist() == [True, False, False, True, False]


def test_tidal_stats_spread_and_offsets(spark):
    from data_cube_utilities_spark.operators import temporal as T
    import pandas as pd

    t0 = pd.Timestamp("2024-01-01")
    times = pd.date_range(t0, periods=400, freq="2h")
    heights = 2.0 * np.sin(np.arange(400) / 8.0)        # full range [-2, 2]
    modelled = spark.createDataFrame(
        pd.DataFrame({"site": 1, "ts": times, "tide_height": heights}))
    # satellite observes every 13th sample -> misses extremes a bit
    obs_idx = np.arange(0, 400, 13)
    observed = spark.createDataFrame(
        pd.DataFrame({"site": 1, "ts": times[obs_idx],
                      "tide_height": heights[obs_idx]}))
    out = T.tidal_stats(observed, modelled, ["site"]).toPandas().iloc[0]
    all_rng = heights.max() - heights.min()
    obs = heights[obs_idx]
    assert np.isclose(out.all_range_m, round(all_rng, 3))
    assert np.isclose(out.observed_range_m, round(obs.max() - obs.min(), 3))
    assert np.isclose(out.spread_m, round((obs.max() - obs.min()) / all_rng, 3))
    assert np.isclose(out.low_tide_offset,
                      round(abs(heights.min() - obs.min()) / all_rng, 3))
    assert np.isclose(out.high_tide_offset,
                      round(abs(heights.max() - obs.max()) / all_rng, 3))
    assert 0 <= out.spread_m <= 1
    # a flat-ish sine has near-zero trend; p-value must be defined
    assert abs(out.all_slope) < 1e-4 and 0 <= out.all_pval <= 2


def test_interp_linear_fills_gaps_edges_stay_null(spark):
    from data_cube_utilities_spark.operators import temporal

    rows = [("a", 1, 10), ("a", 2, None), ("a", 3, None), ("a", 4, 40),
            ("a", 5, None), ("b", 1, None), ("b", 2, 7), ("b", 3, None),
            ("b", 4, 1)]
    df = spark.createDataFrame(rows, "k string, t long, v long")
    out = {(r["k"], r["t"]): r["v_interp"]
           for r in temporal.interp_linear(df, ["k"], "v", "t").collect()}
    assert out[("a", 2)] == 20.0 and out[("a", 3)] == 30.0   # linear fill
    assert out[("a", 1)] == 10.0 and out[("a", 4)] == 40.0   # pass-through
    assert out[("a", 5)] is None and out[("b", 1)] is None   # edges
    assert out[("b", 3)] == 4.0                              # (7+1)/2
    # xarray parity: interpolate_na('linear') over the same series
    import numpy as np
    s = np.array([10, np.nan, np.nan, 40, np.nan])
    filled = np.interp(np.arange(5), np.flatnonzero(~np.isnan(s)),
                       s[~np.isnan(s)])
    assert filled[1] == 20.0 and filled[2] == 30.0


def test_dtw_pairs_matches_classic_dp(spark):
    import random
    from data_cube_utilities_spark.operators import temporal

    def dtw_ref(A, B):
        INF = float("inf")
        dp = [[INF] * (len(B) + 1) for _ in range(len(A) + 1)]
        dp[0][0] = 0
        for i in range(1, len(A) + 1):
            for j in range(1, len(B) + 1):
                dp[i][j] = abs(A[i - 1] - B[j - 1]) + min(
                    dp[i - 1][j], dp[i][j - 1], dp[i - 1][j - 1])
        return dp[-1][-1]

    rng = random.Random(9)
    series = {k: [rng.randint(0, 40) for _ in range(rng.randint(3, 12))]
              for k in range(4)}
    rows = [(k, t, v) for k, vs in series.items()
            for t, v in enumerate(vs)]
    df = spark.createDataFrame(rows, "sid long, t long, v long")
    out = temporal.dtw_pairs(df).collect()
    assert len(out) == 6
    for r in out:
        assert r.dtw == dtw_ref(series[r.sa], series[r.sb]), (r.sa, r.sb)
        assert (r.n_a, r.n_b) == (len(series[r.sa]), len(series[r.sb]))
    # identical series -> DTW 0; single-point series still defined
    df2 = spark.createDataFrame(
        [(0, 0, 7), (0, 1, 9), (1, 0, 7), (1, 1, 9), (2, 0, 5)],
        "sid long, t long, v long")
    got = {(r.sa, r.sb): r.dtw for r in temporal.dtw_pairs(df2).collect()}
    assert got[(0, 1)] == 0
    assert got[(0, 2)] == abs(7 - 5) + abs(9 - 5)


def test_cusum_changepoint_finds_planted_shift(spark):
    from data_cube_utilities_spark.operators import temporal

    # flat 10 then flat 50: CUSUM peaks exactly at the boundary (k=8)
    rows = [(0, t, 10 if t < 8 else 50) for t in range(20)]
    # a constant series: stat_num = 0 everywhere, earliest k wins
    rows += [(1, t, 7) for t in range(5)]
    # single point: no interior split -> NULL k_star
    rows += [(2, 0, 3)]
    df = spark.createDataFrame(rows, "grp long, t long, v long")
    out = {r.grp: r for r in
           temporal.cusum_changepoint(df, ["grp"]).collect()}
    r0 = out[0]
    assert r0.k_star == 8 and r0.t_star == 7
    # brute-force the statistic
    vs = [10 if t < 8 else 50 for t in range(20)]
    S = [0]
    for v in vs:
        S.append(S[-1] + v)
    want = max(abs(20 * S[k] - k * S[20]) for k in range(1, 20))
    assert r0.stat_num == want and r0.n == 20 and r0.s_n == sum(vs)
    assert out[1].stat_num == 0 and out[1].k_star == 1
    assert out[2].k_star is None and out[2].stat_num is None
