"""Holt linear-trend forecast: hand-computed recurrence, linear-series
exactness, validation."""

import pytest

from rassengine_spark.operators.forecast import holt_forecast_micro


def test_linear_series_forecasts_exactly(spark):
    """A perfectly linear series is a fixed point of Holt: level tracks
    the line, trend equals the slope, forecasts continue it exactly."""
    rows = [("a", t, 10.0 + 2.0 * t) for t in range(6)]
    df = spark.createDataFrame(rows, "k string, t int, y double")
    out = {r.h: r for r in holt_forecast_micro(
        df, "k", "t", "y", horizons=3).collect()}
    # last observed y = 20 -> level 20M, trend 2M
    assert out[1].level_micro == 20_000_000
    assert out[1].trend_micro == 2_000_000
    for h in (1, 2, 3):
        assert out[h].forecast_micro == 20_000_000 + h * 2_000_000
    assert out[1].n_obs == 6


def test_hand_computed_step(spark):
    """y=[10, 12, 20]: init l=10M b=2M; step on 12M keeps (12M, 2M);
    step on 20M: l=floor((50*20M+50*14M)/100)=17M,
    b=floor((30*5M+70*2M)/100)=2.9M."""
    rows = [("a", 0, 10.0), ("a", 1, 12.0), ("a", 2, 20.0)]
    df = spark.createDataFrame(rows, "k string, t int, y double")
    r = holt_forecast_micro(df, "k", "t", "y", horizons=1).collect()[0]
    assert r.level_micro == 17_000_000
    assert r.trend_micro == 2_900_000
    assert r.forecast_micro == 19_900_000


def test_short_series_dropped_and_validation(spark):
    df = spark.createDataFrame([("a", 0, 1.0), ("b", 0, 1.0),
                                ("b", 1, 2.0)], "k string, t int, y double")
    got = holt_forecast_micro(df, "k", "t", "y", horizons=2).collect()
    assert {r.k for r in got} == {"b"}
    with pytest.raises(ValueError):
        holt_forecast_micro(df, "k", "t", "y", horizons=0)
    with pytest.raises(ValueError):
        holt_forecast_micro(df, "k", "t", "y", alpha_pct=0)


def test_negative_trend_floor_semantics(spark):
    """Declining series: trend goes negative; the floor division (not
    truncation) is pinned so both engines round identically."""
    rows = [("a", t, float(100 - 7 * t)) for t in range(5)]
    df = spark.createDataFrame(rows, "k string, t int, y double")
    r = holt_forecast_micro(df, "k", "t", "y", horizons=2).collect()[0]
    assert r.trend_micro == -7_000_000
    assert r.forecast_micro == r.level_micro + r.h * -7_000_000


def test_backtest_zero_error_on_linear(spark):
    """Holt is exact on a linear series -> every one-step forecast hits
    and the walk-forward MAE is zero."""
    from rassengine_spark.operators.forecast import holt_backtest_micro
    rows = [("a", t, 10.0 + 2.0 * t) for t in range(6)]
    df = spark.createDataFrame(rows, "k string, t int, y double")
    r = holt_backtest_micro(df, "k", "t", "y").collect()[0]
    assert r.sae_micro == 0 and r.mae_micro == 0
    assert r.n_steps == 4                 # errors start at the 3rd obs
    # naive persistence errs by the slope each step; Holt beats it
    assert r.naive_sae_micro == 4 * 2_000_000
    assert r.mase_ppm == 0


def test_backtest_hand_computed(spark):
    """y=[10,12,20]: init at the post-y2 state (12M, 2M) — the y2
    step's model error is zero by construction and is NOT counted; the
    only scored step is 20M: model forecast 14M -> err 6M, naive
    forecast 12M -> err 8M."""
    from rassengine_spark.operators.forecast import holt_backtest_micro
    rows = [("a", 0, 10.0), ("a", 1, 12.0), ("a", 2, 20.0)]
    df = spark.createDataFrame(rows, "k string, t int, y double")
    r = holt_backtest_micro(df, "k", "t", "y").collect()[0]
    assert r.sae_micro == 6_000_000
    assert r.mae_micro == 6_000_000
    assert r.n_steps == 1
    assert r.naive_sae_micro == 8_000_000
    assert r.mase_ppm == 750_000          # floor(6M * 1e6 / 8M)


def test_holt_state_fold_equals_oneshot(spark, tmp_path):
    """save -> append -> append replays the exact one-shot recurrence,
    covering warm, warm-up-wake, and brand-new-key paths."""
    from rassengine_spark.operators.forecast import (append_holt_buckets,
                                                     forecast_from_state,
                                                     holt_forecast_micro,
                                                     save_holt_state)
    rows = [("a", t, float(10 + 3 * t + (t % 2))) for t in range(9)]
    rows += [("w", 0, 5.0)]                      # warm-up: 1 obs at save
    rows += [("w", t, 5.0 + t) for t in range(1, 6)]
    rows += [("f", t, 50.0 - 2.0 * t) for t in range(4, 9)]  # new at fold
    df = spark.createDataFrame(rows, "k string, t int, y double")
    path = str(tmp_path / "holt")

    save_holt_state(df.filter("t < 1"), "k", "t", "y", path)
    append_holt_buckets(spark, df.filter("t >= 1 AND t < 5"),
                        "k", "t", "y", path)
    append_holt_buckets(spark, df.filter("t >= 5"), "k", "t", "y", path)

    got = sorted(map(tuple, forecast_from_state(
        spark, path, horizons=3).collect()))
    want = sorted(map(tuple, holt_forecast_micro(
        df, "k", "t", "y", horizons=3).collect()))
    assert got == want


def test_holt_state_out_of_order_rejected(spark, tmp_path):
    from rassengine_spark.operators.forecast import (append_holt_buckets,
                                                     save_holt_state)
    df = spark.createDataFrame([("a", 0, 1.0), ("a", 1, 2.0)],
                               "k string, t int, y double")
    path = str(tmp_path / "holt")
    save_holt_state(df, "k", "t", "y", path)
    stale = spark.createDataFrame([("a", 1, 9.0)],
                                  "k string, t int, y double")
    with pytest.raises(ValueError):
        append_holt_buckets(spark, stale, "k", "t", "y", path)


def test_backtest_constant_series_null_mase(spark):
    from rassengine_spark.operators.forecast import holt_backtest_micro
    rows = [("a", t, 7.0) for t in range(5)]
    df = spark.createDataFrame(rows, "k string, t int, y double")
    r = holt_backtest_micro(df, "k", "t", "y").collect()[0]
    assert r.naive_sae_micro == 0 and r.mase_ppm is None
    assert r.sae_micro == 0
    assert r.n_steps == 3


def test_seasonal_strength_detects_weekly_pattern(spark):
    """A strong period-7 pattern: same-weekday diffs are zero, lag-1
    diffs are large -> strength_ppm == 0; an i.i.d.-ish series has
    strength near 1e6."""
    from rassengine_spark.operators.forecast import seasonal_strength_micro
    weekly = [("w", t, float(10 + 30 * (t % 7))) for t in range(28)]
    flat = [("f", t, float(10 + (t % 2))) for t in range(28)]
    df = spark.createDataFrame(weekly + flat, "k string, t int, y double")
    got = {r.k: r for r in seasonal_strength_micro(
        df, "k", "t", "y", period=7).collect()}
    assert got["w"].strength_ppm == 0
    assert got["w"].n_lagp == 21
    # alternating series: lag-7 diff == lag-1 diff pattern-wise
    assert got["f"].strength_ppm is not None
    with pytest.raises(ValueError):
        seasonal_strength_micro(df, "k", "t", "y", period=1)


def test_seasonal_strength_constant_null(spark):
    from rassengine_spark.operators.forecast import seasonal_strength_micro
    df = spark.createDataFrame([("c", t, 5.0) for t in range(10)],
                               "k string, t int, y double")
    r = seasonal_strength_micro(df, "k", "t", "y").collect()[0]
    assert r.mean_abs_diff1_micro == 0 and r.strength_ppm is None
