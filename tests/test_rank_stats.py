"""Rank/association statistics (round 9 third wave): spearman_corr,
kruskal_wallis, theil_sen_trend, cramers_v_matrix — hand-computed
fixtures, tie handling, NULL/NaN contracts, and the guard raises."""

from __future__ import annotations

import datetime as dt
import math

import pytest
from pyspark.sql import functions as F

from big_data_project_datapipeline_spark.functions.quality import (
    cramers_v_matrix,
    kruskal_wallis,
    mann_kendall_trend,
    spearman_corr,
    theil_sen_trend,
)


# ---------------------------------------------------------------- spearman


def test_spearman_hand_computed_with_ties(spark):
    """Group a: x = (1,2,2,4,5), y = (2,1,5,4,4.5). Mid-ranks
    x → (1, 2.5, 2.5, 4, 5), y → (2, 1, 5, 3.5, 3.5)... wait y sorted:
    1,2,4,4.5,5 → ranks y=(2:2, 1:1, 5:5, 4:3, 4.5:4). No y ties.
    Pearson on (1,2.5,2.5,4,5) vs (2,1,5,3,4) = 0.410391 (hand moment
    arithmetic, matches the doubled-unit integer device exactly).
    Group b is strictly monotone → 1.0."""
    data = [
        ("a", 1.0, 2.0),
        ("a", 2.0, 1.0),
        ("a", 2.0, 5.0),
        ("a", 4.0, 4.0),
        ("a", 5.0, 4.5),
        ("b", 1.0, 1.0),
        ("b", 2.0, 2.0),
        ("b", 3.0, 3.0),
    ]
    df = spark.createDataFrame(data, ["g", "x", "y"])
    rows = {
        r["g"]: r
        for r in spearman_corr(df, "x", "y", ["g"]).collect()
    }
    assert rows["a"]["n"] == 5
    assert rows["a"]["spearman_rho"] == pytest.approx(0.410391, abs=1e-9)
    assert rows["b"]["spearman_rho"] == 1.0


def test_spearman_anti_monotone_is_minus_one(spark):
    df = spark.createDataFrame(
        [(float(i), float(10 - i)) for i in range(6)], ["x", "y"]
    )
    assert spearman_corr(df, "x", "y").first()["spearman_rho"] == -1.0


def test_spearman_null_nan_rows_drop_and_constant_is_null(spark):
    """NULL/NaN in EITHER column drops the row (the rank universe must
    be pairwise complete); an all-tied x column has zero rank variance
    → NULL rho, never NaN."""
    df = spark.createDataFrame(
        [
            ("a", 1.0, 1.0),
            ("a", 2.0, float("nan")),
            ("a", None, 3.0),
            ("a", 3.0, 2.0),
            ("c", 7.0, 1.0),
            ("c", 7.0, 2.0),
            ("c", 7.0, 3.0),
        ],
        ["g", "x", "y"],
    )
    rows = {r["g"]: r for r in spearman_corr(df, "x", "y", ["g"]).collect()}
    assert rows["a"]["n"] == 2  # two clean rows survive
    assert rows["a"]["spearman_rho"] == 1.0
    assert rows["c"]["spearman_rho"] is None


# ---------------------------------------------------------- kruskal-wallis


def test_kruskal_wallis_hand_computed(spark):
    """x=(1,3,5), y=(2,2,6), z=(4,7); pooled mid-ranks
    1→1, 2→2.5 (tie pair), 3→4, 4→5, 5→6, 6→7, 7→8.
    R_x=11, R_y=12, R_z=13; H = 12/(8·9)·(121/3+144/3+169/2) − 27
    = 1.805556; tie term Σ(t³−t) = 6 → divisor 1 − 6/504 and
    H_corr = 1.827309 (hand arithmetic)."""
    kw = [
        ("x", 1.0),
        ("x", 3.0),
        ("x", 5.0),
        ("y", 2.0),
        ("y", 2.0),
        ("y", 6.0),
        ("z", 4.0),
        ("z", 7.0),
    ]
    r = kruskal_wallis(
        spark.createDataFrame(kw, ["lvl", "v"]), "v", "lvl"
    ).first()
    assert r["n"] == 8 and r["n_levels"] == 3 and r["dof"] == 2
    assert r["h"] == pytest.approx(1.805556, abs=1e-9)
    assert r["h_tie_corrected"] == pytest.approx(1.827309, abs=1e-9)


def test_kruskal_wallis_all_tied_emits_null_corrected(spark):
    """Every value identical: the tie-correction divisor is 0 → the
    corrected stat is NULL (0/0 would otherwise surface as NaN), and
    the uncorrected H collapses to 0 exactly."""
    df = spark.createDataFrame(
        [("a", 5.0), ("a", 5.0), ("b", 5.0), ("b", 5.0)], ["lvl", "v"]
    )
    r = kruskal_wallis(df, "v", "lvl").first()
    assert r["h"] == 0.0
    assert r["h_tie_corrected"] is None


def test_kruskal_wallis_single_level_h_zero(spark):
    """One level: its rank sum is the total N(N+1)/2, so H is
    identically 0 with dof 0 — the no-information case, not an
    error."""
    df = spark.createDataFrame(
        [("only", float(i)) for i in range(1, 6)], ["lvl", "v"]
    )
    r = kruskal_wallis(df, "v", "lvl").first()
    assert r["n_levels"] == 1 and r["dof"] == 0
    assert r["h"] == 0.0


def test_kruskal_wallis_grouped_and_null_levels_drop(spark):
    """Outer group_cols partition independent tests; NULL between
    levels drop (they are unlabeled, not a level)."""
    df = spark.createDataFrame(
        [
            ("g1", "x", 1.0),
            ("g1", "x", 2.0),
            ("g1", "y", 3.0),
            ("g1", "y", 4.0),
            ("g1", None, 99.0),
            ("g2", "x", 1.0),
            ("g2", "y", 1.0),
        ],
        ["g", "lvl", "v"],
    )
    rows = {
        r["g"]: r
        for r in kruskal_wallis(df, "v", "lvl", ["g"]).collect()
    }
    assert rows["g1"]["n"] == 4  # the NULL-level row is gone
    # g1 has no ties: ranks x={1,2}, y={3,4}; H = 12/20·(9/2+49/2)−15
    # = 12/20·29 − 15 = 2.4
    assert rows["g1"]["h"] == pytest.approx(2.4, abs=1e-9)
    assert rows["g2"]["n"] == 2


# -------------------------------------------------------------- theil-sen


def test_theil_sen_outlier_day_does_not_move_median(spark):
    """Daily means (1,2,10,4) on days 0-3: the 6 pairwise slopes sort
    to (-6, 1, 1, 1, 4.5, 8) → median 1.0 — the wild day-2 value moves
    an OLS slope but not the slope median. The single-day group b
    stays in the output with n_pairs=0 and NULL slope."""
    ts = [
        ("a", dt.datetime(2024, 1, 1, 3), 1.0),
        ("a", dt.datetime(2024, 1, 2, 5), 2.0),
        ("a", dt.datetime(2024, 1, 3, 7), 10.0),
        ("a", dt.datetime(2024, 1, 4, 9), 4.0),
        ("b", dt.datetime(2024, 1, 1), 5.0),
    ]
    df = spark.createDataFrame(ts, ["g", "ts", "v"])
    rows = {
        r["g"]: r
        for r in theil_sen_trend(df, "ts", "v", ["g"]).collect()
    }
    assert rows["a"]["n_days"] == 4 and rows["a"]["n_pairs"] == 6
    assert rows["a"]["slope_per_day"] == 1.0
    assert rows["b"]["n_pairs"] == 0
    assert rows["b"]["slope_per_day"] is None


def test_theil_sen_intraday_rows_collapse_to_daily_mean(spark):
    """Two rows on the same day average before the pair build: days
    (0: mean 2.0, 1: 5.0) → slope 3.0 from ONE pair."""
    df = spark.createDataFrame(
        [
            (dt.datetime(2024, 1, 1, 1), 1.0),
            (dt.datetime(2024, 1, 1, 23), 3.0),
            (dt.datetime(2024, 1, 2, 12), 5.0),
        ],
        ["ts", "v"],
    )
    r = theil_sen_trend(df, "ts", "v").first()
    assert r["n_days"] == 2 and r["n_pairs"] == 1
    assert r["slope_per_day"] == 3.0


def test_theil_sen_max_points_guard_raises(spark):
    df = spark.createDataFrame(
        [(dt.datetime(2024, 1, 1) + dt.timedelta(days=i), float(i)) for i in range(5)],
        ["ts", "v"],
    )
    with pytest.raises(ValueError, match="max_points"):
        theil_sen_trend(df, "ts", "v", max_points=3)


# -------------------------------------------------------------- cramers v


def test_cramers_v_hand_computed_2x2(spark):
    """Table [[2,1],[1,2]], n=6: χ² = n(ad−bc)²/(R₁R₂C₁C₂) =
    6·9/81 = 0.666667, V = sqrt(χ²/(n·1)) = 0.333333."""
    cv = [("r", "u"), ("r", "u"), ("r", "w"), ("s", "w"), ("s", "w"), ("s", "u")]
    r = cramers_v_matrix(
        spark.createDataFrame(cv, ["p", "q"]), ["p", "q"]
    ).first()
    assert (r["col_x"], r["col_y"]) == ("p", "q")
    assert r["n"] == 6 and r["dof"] == 1
    assert r["chi2"] == pytest.approx(2.0 / 3.0, abs=1e-6)
    assert r["cramers_v"] == pytest.approx(1.0 / 3.0, abs=1e-6)


def test_cramers_v_perfect_association_is_one(spark):
    df = spark.createDataFrame(
        [("a", "A"), ("a", "A"), ("b", "B"), ("b", "B"), ("c", "C")],
        ["p", "q"],
    )
    r = cramers_v_matrix(df, ["p", "q"]).first()
    assert r["cramers_v"] == 1.0
    # χ² for perfect association = n·min(r−1,c−1) = 5·2
    assert r["chi2"] == pytest.approx(10.0, abs=1e-6)


def test_cramers_v_null_is_a_level_and_single_level_is_null(spark):
    """NULLs become the '__NULL__' sentinel level (they carry
    association signal; a bare NULL key would fall out of the totals
    joins); a constant column has min(r−1,c−1)=0 → NULL V."""
    df = spark.createDataFrame(
        [("a", None), ("a", None), ("b", "w"), ("b", "w")],
        ["p", "q"],
    ).withColumn("const", F.lit("k"))
    out = {
        (r["col_x"], r["col_y"]): r
        for r in cramers_v_matrix(df, ["p", "q", "const"]).collect()
    }
    pq = out[("p", "q")]
    assert pq["c_levels"] == 2  # NULL counted as a level
    assert pq["cramers_v"] == 1.0  # p determines q (incl. the NULLs)
    assert out[("p", "const")]["cramers_v"] is None
    assert out[("p", "const")]["dof"] == 0


def test_cramers_v_three_column_matrix_has_three_pairs(spark):
    df = spark.createDataFrame(
        [("a", "x", "1"), ("b", "y", "2")], ["c1", "c2", "c3"]
    )
    pairs = {
        (r["col_x"], r["col_y"])
        for r in cramers_v_matrix(df, ["c1", "c2", "c3"]).collect()
    }
    assert pairs == {("c1", "c2"), ("c1", "c3"), ("c2", "c3")}
    with pytest.raises(ValueError, match=">= 2"):
        cramers_v_matrix(df, ["c1"])


def test_spearman_matches_pearson_identity_on_permutation(spark):
    """Sanity cross-check: for a tie-free permutation, Spearman via
    the moment device equals 1 − 6Σd²/(n(n²−1)) (the shortcut is valid
    exactly when no ties exist)."""
    xs = [1.0, 2.0, 3.0, 4.0, 5.0, 6.0]
    ys = [3.0, 1.0, 4.0, 2.0, 6.0, 5.0]
    df = spark.createDataFrame(list(zip(xs, ys)), ["x", "y"])
    got = spearman_corr(df, "x", "y").first()["spearman_rho"]
    rx = {v: i + 1 for i, v in enumerate(sorted(xs))}
    ry = {v: i + 1 for i, v in enumerate(sorted(ys))}
    d2 = sum((rx[a] - ry[b]) ** 2 for a, b in zip(xs, ys))
    n = len(xs)
    expect = 1.0 - 6.0 * d2 / (n * (n * n - 1))
    # the operator rounds at the surface to 6 decimals
    assert got == round(expect, 6)


# ------------------------------------------------------------ mann-kendall


def test_mann_kendall_hand_computed_with_tie(spark):
    """Days 0-4, values (1,2,2,5,4): the 10 pair signs sum to S=7
    (one tied pair contributes 0, one discordant −1); tie term
    Σt(t−1)(2t+5)=2·1·9=18 → Var=(5·4·15−18)/18=15.666667;
    z=(7−1)/sqrt(Var)=1.515873, tau=7/10. Single-day group b emits
    S=0 with NULL tau/z."""
    import datetime as dt

    vals = [1.0, 2.0, 2.0, 5.0, 4.0]
    rows = [
        ("a", dt.datetime(2024, 1, 1) + dt.timedelta(days=i), v)
        for i, v in enumerate(vals)
    ]
    rows.append(("b", dt.datetime(2024, 1, 1), 9.0))
    df = spark.createDataFrame(rows, ["g", "ts", "v"])
    out = {
        r["g"]: r
        for r in mann_kendall_trend(df, "ts", "v", ["g"]).collect()
    }
    a = out["a"]
    assert (a["n_days"], a["n_pairs"], a["s_stat"]) == (5, 10, 7)
    assert a["var_s"] == pytest.approx(15.666667, abs=1e-9)
    assert a["tau"] == 0.7
    assert a["z"] == pytest.approx(1.515873, abs=1e-9)
    b = out["b"]
    assert (b["n_pairs"], b["s_stat"], b["var_s"]) == (0, 0, 0.0)
    assert b["tau"] is None and b["z"] is None


def test_mann_kendall_constant_series_zero_s_null_z(spark):
    """All days tie: S=0 and the tie term cancels the variance
    exactly (Var=0) → z is NULL, tau is 0.0 (pairs exist)."""
    import datetime as dt

    df = spark.createDataFrame(
        [
            (dt.datetime(2024, 1, 1) + dt.timedelta(days=i), 5.0)
            for i in range(3)
        ],
        ["ts", "v"],
    )
    r = mann_kendall_trend(df, "ts", "v").first()
    assert (r["s_stat"], r["var_s"], r["tau"]) == (0, 0.0, 0.0)
    assert r["z"] is None


def test_mann_kendall_decreasing_uses_plus_one_correction(spark):
    """Strictly decreasing 4-day series: S=−6, Var=4·3·13/18=8.666667,
    z=(S+1)/sqrt(Var) — the continuity correction flips sign with S."""
    import datetime as dt
    import math

    df = spark.createDataFrame(
        [
            (dt.datetime(2024, 1, 1) + dt.timedelta(days=i), float(10 - i))
            for i in range(4)
        ],
        ["ts", "v"],
    )
    r = mann_kendall_trend(df, "ts", "v").first()
    assert r["s_stat"] == -6
    assert r["z"] == pytest.approx(
        round(-5.0 / math.sqrt(26.0 / 3.0), 6), abs=1e-9
    )
    assert r["tau"] == -1.0


def test_mann_kendall_shares_max_points_guard(spark):
    import datetime as dt

    df = spark.createDataFrame(
        [
            (dt.datetime(2024, 1, 1) + dt.timedelta(days=i), float(i))
            for i in range(5)
        ],
        ["ts", "v"],
    )
    with pytest.raises(ValueError, match="mann_kendall_trend"):
        mann_kendall_trend(df, "ts", "v", max_points=3)


# ----------------------------------------------------------- logistic irls


def _py_logistic_replica(data, iters):
    """Independent pure-Python replica of the exact quantized
    algorithm (floor-based 9-digit sigmoid clamp and scaled-long term
    folds, adjugate solve, round-9 β re-entry) — the operator must
    match it to the last rounded digit, which is what the DuckDB twin
    also pins."""
    b = [0.0, 0.0, 0.0]
    for _ in range(iters):
        acc = {k: 0.0 for k in (
            "g0", "g1", "g2", "h00", "h01", "h02", "h11", "h12", "h22"
        )}
        for x1, x2, y in data:
            eta = b[0] + b[1] * x1 + b[2] * x2
            raw = 1 / (1 + math.exp(-eta))
            p = min(max(math.floor(raw * 1e9 + 0.5) / 1e9, 1e-9), 1 - 1e-9)
            w = p * (1 - p)
            r = y - p
            for k, v in (
                ("g0", r), ("g1", x1 * r), ("g2", x2 * r),
                ("h00", w), ("h01", w * x1), ("h02", w * x2),
                ("h11", w * x1 * x1), ("h12", w * x1 * x2),
                ("h22", w * x2 * x2),
            ):
                sgn = (v > 0) - (v < 0)
                acc[k] += sgn * math.floor(abs(v) * 1e9 + 0.5)
        m = {k: v / 1e9 for k, v in acc.items()}
        det = (
            m["h00"] * (m["h11"] * m["h22"] - m["h12"] * m["h12"])
            - m["h01"] * (m["h01"] * m["h22"] - m["h02"] * m["h12"])
            + m["h02"] * (m["h01"] * m["h12"] - m["h02"] * m["h11"])
        )
        a00 = m["h11"] * m["h22"] - m["h12"] * m["h12"]
        a01 = m["h02"] * m["h12"] - m["h01"] * m["h22"]
        a02 = m["h01"] * m["h12"] - m["h02"] * m["h11"]
        a11 = m["h00"] * m["h22"] - m["h02"] * m["h02"]
        a12 = m["h01"] * m["h02"] - m["h00"] * m["h12"]
        a22 = m["h00"] * m["h11"] - m["h01"] * m["h01"]
        if abs(det) > 1e-12:
            b = [
                round(b[0] + (a00 * m["g0"] + a01 * m["g1"] + a02 * m["g2"]) / det, 9),
                round(b[1] + (a01 * m["g0"] + a11 * m["g1"] + a12 * m["g2"]) / det, 9),
                round(b[2] + (a02 * m["g0"] + a12 * m["g1"] + a22 * m["g2"]) / det, 9),
            ]
    return b


def test_logistic_irls_matches_replica_and_recovers_signal(spark):
    """400 rows from a known model (β = 0.5, 1.2, −0.8): three Newton
    steps must (a) equal the independent Python replica of the
    quantized algorithm to the rounded digit, and (b) land near the
    generating coefficients — the fit is real, not just
    reproducible."""
    import random

    from big_data_project_datapipeline_spark.functions.quality import (
        logistic_irls,
    )

    random.seed(7)
    data = []
    for _ in range(400):
        x1 = random.uniform(-2, 2)
        x2 = random.uniform(-2, 2)
        p = 1 / (1 + math.exp(-(0.5 + 1.2 * x1 - 0.8 * x2)))
        data.append((x1, x2, 1.0 if random.random() < p else 0.0))
    df = spark.createDataFrame(
        [("g", *row) for row in data], ["g", "x1", "x2", "y"]
    )
    r = logistic_irls(
        df, F.col("y") == 1.0, "x1", "x2", ["g"], n_iters=3
    ).first()
    want = _py_logistic_replica(data, 3)
    assert (r["beta0"], r["beta1"], r["beta2"]) == tuple(
        round(v, 6) for v in want
    )
    assert abs(r["beta0"] - 0.5) < 0.35
    assert abs(r["beta1"] - 1.2) < 0.35
    assert abs(r["beta2"] + 0.8) < 0.35
    assert 0.0 < r["avg_logloss"] < math.log(2.0)  # beats the null model
    assert r["n"] == 400 and r["n_pos"] == sum(int(y) for *_, y in data)


def test_logistic_irls_singular_group_freezes_beta(spark):
    """A group whose features are constant has a singular Hessian in
    the x directions (det ~ 0 at every step): β freezes at 0 instead
    of emitting inf/NaN, and the output row survives."""
    from big_data_project_datapipeline_spark.functions.quality import (
        logistic_irls,
    )

    df = spark.createDataFrame(
        [("s", 1.0, 1.0, 1.0), ("s", 1.0, 1.0, 0.0)],
        ["g", "x1", "x2", "y"],
    )
    r = logistic_irls(
        df, F.col("y") == 1.0, "x1", "x2", ["g"], n_iters=3
    ).first()
    assert (r["beta0"], r["beta1"], r["beta2"]) == (0.0, 0.0, 0.0)
    assert r["avg_logloss"] == pytest.approx(round(math.log(2.0), 6), abs=1e-9)


def test_logistic_irls_null_nan_feature_rows_drop(spark):
    from big_data_project_datapipeline_spark.functions.quality import (
        logistic_irls,
    )

    df = spark.createDataFrame(
        [
            ("g", 1.0, 1.0, 1.0),
            ("g", None, 1.0, 0.0),
            ("g", 1.0, float("nan"), 0.0),
            ("g", -1.0, 0.5, 0.0),
        ],
        ["g", "x1", "x2", "y"],
    )
    r = logistic_irls(
        df, F.col("y") == 1.0, "x1", "x2", ["g"], n_iters=2
    ).first()
    assert r["n"] == 2 and r["n_pos"] == 1


@pytest.mark.parametrize("fit", ["logistic_irls", "huber_irls"])
def test_irls_step_snapshots_release_with_result(spark, fit):
    """The per-step localCheckpoint snapshots ride on the result:
    release_caches frees every one of them (blocking), instead of
    leaving their blocks to ContextCleaner GC across runs."""
    from big_data_project_datapipeline_spark.functions import quality
    from big_data_project_datapipeline_spark.operators.caching import (
        release_caches,
    )

    def ids():
        it = spark.sparkContext._jsc.sc().getPersistentRDDs().toList().iterator()
        out = set()
        while it.hasNext():
            out.add(it.next()._1())
        return out

    df = spark.createDataFrame(
        [("g", float(i), float(i % 3), float(i % 2)) for i in range(12)],
        ["g", "x1", "x2", "y"],
    )
    before = ids()
    if fit == "logistic_irls":
        out = quality.logistic_irls(
            df, F.col("y") == 1.0, "x1", "x2", ["g"], n_iters=3
        )
    else:
        out = quality.huber_irls(df, "y", "x1", "x2", ["g"], n_reweights=2)
    assert out.count() == 1
    mine = ids() - before
    assert len(mine) >= 3, mine  # one snapshot per step
    release_caches(out)
    assert not ids() & mine


# ------------------------------------------------------------- ar(2) (q217)


def test_ar2_daily_recovers_exact_recurrence(spark):
    """Days 0-6 follow v_t = 2 + 0.5·v_{t−1} + 0.2·v_{t−2} exactly
    (every value representable in 4 decimals, so the decimal moment
    cast is exact): the closed-form fit recovers the generating
    coefficients with R² = 1. Intraday rows on day 0 average to the
    daily mean first."""
    vals = [4.0, 6.0, 5.8, 6.1, 6.21, 6.325, 6.4045]
    rows = []
    for i, v in enumerate(vals):
        if i == 0:
            # two intraday rows averaging to 4.0
            rows.append(("e", dt.datetime(2024, 1, 1, 2), 3.0))
            rows.append(("e", dt.datetime(2024, 1, 1, 20), 5.0))
        else:
            rows.append(
                ("e", dt.datetime(2024, 1, 1) + dt.timedelta(days=i), v)
            )
    df = spark.createDataFrame(rows, ["event_type", "ts", "value"])

    from big_data_project_datapipeline_spark.functions.quality import (
        grouped_ols2,
    )
    from pyspark.sql import Window

    vc = F.col("value")
    daily = (
        df.filter(vc.isNotNull() & ~F.isnan(vc))
        .groupBy(
            "event_type",
            F.datediff(
                F.to_date(F.col("ts")), F.lit("1970-01-01").cast("date")
            ).alias("__d"),
        )
        .agg(
            (
                F.signum(
                    F.sum(vc.cast("decimal(28,8)")).cast("double")
                    / F.count(F.lit(1)).cast("double")
                )
                * F.floor(
                    F.abs(
                        F.sum(vc.cast("decimal(28,8)")).cast("double")
                        / F.count(F.lit(1)).cast("double")
                    )
                    * F.lit(1e4)
                    + F.lit(0.5)
                )
                / F.lit(1e4)
            ).alias("__v")
        )
    )
    w = Window.partitionBy("event_type").orderBy("__d")
    wide = daily.select(
        "event_type",
        "__v",
        F.lag("__v", 1).over(w).alias("__l1"),
        F.lag("__v", 2).over(w).alias("__l2"),
    )
    r = grouped_ols2(wide, "__v", "__l1", "__l2", ["event_type"]).first()
    assert r["n"] == 5  # 7 days − 2 lag-dropped
    assert r["b0"] == pytest.approx(2.0, abs=1e-6)
    assert r["b1"] == pytest.approx(0.5, abs=1e-6)
    assert r["b2"] == pytest.approx(0.2, abs=1e-6)
    assert r["r2"] == pytest.approx(1.0, abs=1e-6)


# ------------------------------------------------------------ huber (q219)


def test_huber_caps_outlier_influence_where_ols_breaks(spark):
    """36 rows on the exact plane y = 1 + 2·x1 + 3·x2 plus one wild
    outlier (y=500): OLS is destroyed (b1 goes negative); two Huber
    reweights recover the plane to within a few percent."""
    from big_data_project_datapipeline_spark.functions.quality import (
        grouped_ols2,
        huber_irls,
    )

    rows = [
        ("g", float(x1), float(x2), 1.0 + 2.0 * x1 + 3.0 * x2)
        for x1 in range(6)
        for x2 in range(6)
    ]
    rows.append(("g", 2.0, 2.0, 500.0))
    df = spark.createDataFrame(rows, ["g", "x1", "x2", "y"])
    ols = grouped_ols2(df, "y", "x1", "x2", ["g"]).first()
    hub = huber_irls(df, "y", "x1", "x2", ["g"], n_reweights=2).first()
    assert abs(ols["b1"] - 2.0) > 1.5  # OLS ruined by one row
    assert hub["n"] == 37
    assert abs(hub["b1"] - 2.0) < 0.1
    assert abs(hub["b2"] - 3.0) < 0.1
    assert hub["scale"] > 0.0


def test_huber_zero_mad_freezes_ols_fit(spark):
    """Every row exactly on the plane: OLS residuals are 0, the
    preliminary MAD is 0, and the degenerate-scale guard keeps full
    weights — the reweighted fit equals the exact OLS plane instead
    of dividing by a zero scale."""
    from big_data_project_datapipeline_spark.functions.quality import (
        huber_irls,
    )

    rows = [
        ("g", float(x1), float(x2), 1.0 + 2.0 * x1 + 3.0 * x2)
        for x1 in range(4)
        for x2 in range(4)
    ]
    df = spark.createDataFrame(rows, ["g", "x1", "x2", "y"])
    r = huber_irls(df, "y", "x1", "x2", ["g"], n_reweights=2).first()
    assert r["scale"] == 0.0
    assert r["b0"] == pytest.approx(1.0, abs=1e-6)
    assert r["b1"] == pytest.approx(2.0, abs=1e-6)
    assert r["b2"] == pytest.approx(3.0, abs=1e-6)


def test_huber_null_nan_rows_drop(spark):
    from big_data_project_datapipeline_spark.functions.quality import (
        huber_irls,
    )

    rows = [
        ("g", float(i), float(i % 3), 1.0 + 2.0 * i + 3.0 * (i % 3))
        for i in range(8)
    ]
    rows.append(("g", None, 1.0, 5.0))
    rows.append(("g", 1.0, float("nan"), 5.0))
    df = spark.createDataFrame(rows, ["g", "x1", "x2", "y"])
    assert huber_irls(df, "y", "x1", "x2", ["g"]).first()["n"] == 8


# ------------------------- huber sketch-scale path (round-10, 100 TB)


def test_huber_sketch_scale_within_bin_width_bound(spark):
    """The mergeable histogram frozen-scale path: on an odd-n fixture
    (exact median == nearest-rank element, no interpolation gap) the
    sketch scale must sit within 1.4826x the two stacked bin-width
    bounds of the exact scale — the |err| <= bin width contract of the
    lower-edge estimator, once for the residual median and once for
    the MAD."""
    import math

    from big_data_project_datapipeline_spark.functions.quality import (
        huber_irls,
    )

    rows = [
        ("g", float(x1), float(x2), 1.0 + 2.0 * x1 + 3.0 * x2
         + 0.1 * math.sin(7.0 * x1 + x2))
        for x1 in range(7)
        for x2 in range(5)
    ]
    rows.append(("g", 2.0, 2.0, 400.0))  # 36 rows: odd after clean
    df = spark.createDataFrame(rows, ["g", "x1", "x2", "y"])
    exact = huber_irls(df, "y", "x1", "x2", ["g"], n_reweights=2).first()
    sk = huber_irls(
        df, "y", "x1", "x2", ["g"], n_reweights=2,
        scale_estimator="sketch", scale_bins=64,
    ).first()
    # residual range is dominated by the outlier (~400); each median
    # carries <= range/64 of estimator error, MAD additionally absorbs
    # the median's shift
    resid_range = 450.0
    bound = 1.4826 * 3.0 * (resid_range / 64.0)
    assert abs(sk["scale"] - exact["scale"]) <= bound
    # and the sketch-path fit still rejects the outlier like exact
    assert abs(sk["b1"] - 2.0) < 0.1
    assert abs(sk["b2"] - 3.0) < 0.1


def test_huber_sketch_scale_exact_on_zero_width_groups(spark):
    """All residuals identical (perfect plane): the histogram
    degenerates to one zero-width bin and the sketch path reproduces
    the exact path bit-for-bit (scale 0, frozen OLS plane)."""
    from big_data_project_datapipeline_spark.functions.quality import (
        huber_irls,
    )

    rows = [
        ("g", float(x1), float(x2), 1.0 + 2.0 * x1 + 3.0 * x2)
        for x1 in range(4)
        for x2 in range(4)
    ]
    df = spark.createDataFrame(rows, ["g", "x1", "x2", "y"])
    ex = huber_irls(df, "y", "x1", "x2", ["g"], n_reweights=2).first()
    sk = huber_irls(
        df, "y", "x1", "x2", ["g"], n_reweights=2,
        scale_estimator="sketch",
    ).first()
    assert (sk["scale"], sk["b0"], sk["b1"], sk["b2"]) == (
        ex["scale"], ex["b0"], ex["b1"], ex["b2"],
    )


def test_huber_sketch_plan_has_no_percentile_buffer(spark):
    """The point of the flag: the sketch path's physical plan must
    contain NO percentile aggregate (the non-mergeable per-group value
    buffer), while the exact path's does."""
    from big_data_project_datapipeline_spark.functions.quality import (
        huber_irls,
    )

    rows = [("g", float(i), float(i % 3), float(i)) for i in range(9)]
    df = spark.createDataFrame(rows, ["g", "x1", "x2", "y"])
    # lineage_cap=False: the r12 per-pass localCheckpoint truncates the
    # final frame's lineage to an ExistingRDD leaf, so plan inspection
    # needs the pure-lineage tree.
    exact_plan = (
        huber_irls(df, "y", "x1", "x2", ["g"], lineage_cap=False)
        ._jdf.queryExecution().executedPlan().toString()
    )
    sketch_plan = (
        huber_irls(
            df, "y", "x1", "x2", ["g"], scale_estimator="sketch",
            lineage_cap=False,
        )
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "percentile" in exact_plan
    assert "percentile" not in sketch_plan


def test_huber_bad_scale_estimator_raises(spark):
    import pytest as _pytest

    from big_data_project_datapipeline_spark.functions.quality import (
        huber_irls,
    )

    df = spark.createDataFrame([("g", 1.0, 1.0, 1.0)], ["g", "x1", "x2", "y"])
    with _pytest.raises(ValueError, match="scale_estimator"):
        huber_irls(df, "y", "x1", "x2", ["g"], scale_estimator="nope")


# --------------------------------------- kendall tau-b (q223, round-10)


def _tau_events(spark, rows):
    return spark.createDataFrame(rows, "g string, ts timestamp, value double")


def test_kendall_tau_hand_computed(spark):
    """4-day series with one x-tie pair, one y-tie pair, C=1, D=3:
    tau_b = (1-3)/(sqrt(5)*sqrt(5)) = -0.4 exactly."""
    from datetime import datetime as DT

    from big_data_project_datapipeline_spark.functions.quality import (
        kendall_tau_daily,
    )

    rows = []
    for day, vals in [
        (1, [0.5, 1.5]),        # v=1.0 m=2
        (2, [2.0, 2.0]),        # v=2.0 m=2  (y-tie vs d1)
        (3, [1.0, 2.0, 3.0]),   # v=2.0 m=3  (x-tie vs d2)
        (4, [3.0]),             # v=3.0 m=1
    ]:
        for v in vals:
            rows.append(("g", DT(2024, 1, day, 12, 0), v))
    out = kendall_tau_daily(_tau_events(spark, rows), "ts", "value", ["g"])
    r = out.first()
    assert (
        r["n_days"], r["n_pairs"], r["concordant"], r["discordant"],
        r["ties_x"], r["ties_y"], r["ties_xy"],
    ) == (4, 6, 1, 3, 1, 1, 0)
    assert r["tau_b"] == pytest.approx(-0.4, abs=1e-9)


def test_kendall_tau_constant_series_null(spark):
    """All daily means equal: the x tie factor is 0 and tau is NULL
    (no ordinal signal), never a division error."""
    from datetime import datetime as DT

    from big_data_project_datapipeline_spark.functions.quality import (
        kendall_tau_daily,
    )

    rows = [
        ("g", DT(2024, 1, d, 1), 5.0) for d in range(1, 4)
    ] + [("g", DT(2024, 1, 3, 2), 5.0)]
    r = kendall_tau_daily(
        _tau_events(spark, rows), "ts", "value", ["g"]
    ).first()
    assert r["tau_b"] is None
    assert r["ties_x"] + r["ties_xy"] == r["n_pairs"]


def test_kendall_tau_single_day_group(spark):
    from datetime import datetime as DT

    from big_data_project_datapipeline_spark.functions.quality import (
        kendall_tau_daily,
    )

    rows = [("solo", DT(2024, 2, 1), 1.0)]
    r = kendall_tau_daily(
        _tau_events(spark, rows), "ts", "value", ["g"]
    ).first()
    # single-day groups survive with zero pairs and NULL tau
    assert r["n_days"] == 1 and r["n_pairs"] == 0 and r["tau_b"] is None


def test_kendall_tau_max_points_witness_raises(spark):
    from datetime import datetime as DT

    from big_data_project_datapipeline_spark.functions.quality import (
        kendall_tau_daily,
    )

    rows = [("g", DT(2024, 1, d), float(d)) for d in range(1, 6)]
    with pytest.raises(ValueError, match="max_points"):
        kendall_tau_daily(
            _tau_events(spark, rows), "ts", "value", ["g"], max_points=3
        )


def test_kendall_tau_ungrouped_no_cartesian(spark):
    from datetime import datetime as DT

    from big_data_project_datapipeline_spark.functions.quality import (
        kendall_tau_daily,
    )

    rows = [("g", DT(2024, 1, d), float(d % 3)) for d in range(1, 8)]
    out = kendall_tau_daily(_tau_events(spark, rows), "ts", "value")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert out.first()["n_pairs"] == 21


def test_theil_sen_and_mk_ungrouped_no_cartesian(spark):
    """Round-10 regression pin for the latent ungrouped
    CartesianProduct: a literal constant join key folds out of the
    equi-condition; the pmod(day, 1) key does not. Values must be
    unchanged by the key swap."""
    from datetime import datetime as DT

    from big_data_project_datapipeline_spark.functions.quality import (
        mann_kendall_trend,
        theil_sen_trend,
    )

    rows = [("g", DT(2024, 1, d), float(d)) for d in range(1, 8)]
    df = spark.createDataFrame(rows, "g string, ts timestamp, value double")
    ts = theil_sen_trend(df, "ts", "value")
    mk = mann_kendall_trend(df, "ts", "value")
    for out in (ts, mk):
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
    assert ts.first()["slope_per_day"] == pytest.approx(1.0, abs=1e-9)
    assert mk.first()["s_stat"] == 21  # strictly increasing: all +1


# ------------------------------------------------ BH FDR (q224, round-10)


def _hyp(spark, rows):
    return spark.createDataFrame(rows, "h string, p double")


def test_fdr_bh_textbook_stepup(spark):
    """Classic BH: p = .01/.02/.03/.04/.20 at q=.05, m=5 — criticals
    are .01/.02/.03/.04/.05, k*=4, exactly the first four reject."""
    from big_data_project_datapipeline_spark.functions.quality import fdr_bh

    rows = [("a", 0.01), ("b", 0.02), ("c", 0.03), ("d", 0.04), ("e", 0.2)]
    out = {
        r["h"]: (r["p_rank"], r["rejected"])
        for r in fdr_bh(_hyp(spark, rows), "p", id_cols=["h"]).collect()
    }
    assert out == {
        "a": (1, True), "b": (2, True), "c": (3, True), "d": (4, True),
        "e": (5, False),
    }


def test_fdr_bh_stepup_rescues_middle_rank(spark):
    """The STEP-UP semantics: p = .001/.04/.041 at q=.05, m=3 —
    rank 2 fails its own critical (.04 > .0333) but rank 3 passes
    (.041 <= .05), so k*=3 and ALL THREE reject."""
    from big_data_project_datapipeline_spark.functions.quality import fdr_bh

    rows = [("a", 0.001), ("b", 0.04), ("c", 0.041)]
    out = fdr_bh(_hyp(spark, rows), "p", id_cols=["h"]).collect()
    assert all(r["rejected"] for r in out) and len(out) == 3


def test_fdr_bh_null_nan_hypotheses_drop_from_m(spark):
    from big_data_project_datapipeline_spark.functions.quality import fdr_bh

    rows = [("a", 0.01), ("b", None), ("c", float("nan")), ("d", 0.5)]
    out = fdr_bh(_hyp(spark, rows), "p", id_cols=["h"]).collect()
    assert len(out) == 2
    assert all(r["m_tests"] == 2 for r in out)


def test_fdr_bh_tie_ranks_broken_by_id(spark):
    from big_data_project_datapipeline_spark.functions.quality import fdr_bh

    rows = [("b", 0.03), ("a", 0.03), ("c", 0.01)]
    out = {
        r["h"]: r["p_rank"]
        for r in fdr_bh(_hyp(spark, rows), "p", id_cols=["h"]).collect()
    }
    assert out == {"c": 1, "a": 2, "b": 3}


def test_fdr_bh_nothing_rejects(spark):
    from big_data_project_datapipeline_spark.functions.quality import fdr_bh

    rows = [("a", 0.9), ("b", 0.95)]
    out = fdr_bh(_hyp(spark, rows), "p", id_cols=["h"]).collect()
    assert not any(r["rejected"] for r in out)
