"""Time-series forecasting: Holt's linear-trend double exponential
smoothing (Holt 1957, public method) in exact integer micro-units — the
forecasting member of the events-analytics family (EWMA smooths,
volume-anomaly flags, THIS extrapolates).

Engine-exactness (the pagerank_micro convention): the recurrence

    l_t = (a·y_t + (100-a)·(l_{t-1} + b_{t-1})) / 100
    b_t = (g·(l_t - l_{t-1}) + (100-g)·b_{t-1}) / 100
    init: l_1 = y_1,  b_1 = y_2 - y_1   (classic two-point init,
                                         recurrence runs from t = 2)
    forecast: f_h = l_n + h·b_n

runs entirely on BIGINT micro-units with percent-integer smoothing
weights; the division is an explicit floor (computed through doubles,
exact for |x| < 2^53 — micro-unit daily volumes sit far below that), so
every step is bit-identical in any engine and the SQL oracle replays
the same recurrence as a recursive CTE.

Shape at 100 TB: the heavy lift is the (series, bucket) hash-aggregate
that builds daily volumes — one shuffle with map-side combine. The
recurrence itself folds each series' bounded bucket array (days × 8
bytes) inside one row; series are independent rows, so a million series
parallelize trivially and nothing ever sorts globally.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

MICRO = 1_000_000


def _floordiv100(x: Column) -> Column:
    # exact for |x| < 2^53; floor (not truncate) so negative trends
    # round identically in both engines
    return F.floor(x.cast("double") / 100.0).cast("long")


def _obs_micro(series: DataFrame, key_col: str, t_col: str,
               y_col: str) -> DataFrame:
    """(k, t, y) with y in round(y*1e6) micro-units — the shared prep of
    every entry point (ONE definition so the oracle-exactness cast can
    never drift between them; review finding)."""
    ym = F.round(F.col(y_col).cast("double") * MICRO, 0).cast("long")
    return series.select(F.col(key_col).alias("k"),
                         F.col(t_col).alias("t"), ym.alias("y"))


def _holt_step(a: int, g: int):
    """The (l, b) update closure — the single definition of the
    recurrence all four fold sites share. Extra accumulator fields in
    the struct pass through untouched only if the caller re-packs them;
    plain (l, b) callers use this directly."""
    def step(acc, x):
        l_new = _floordiv100(a * x["y"] + (100 - a) * (acc["l"] + acc["b"]))
        b_new = _floordiv100(g * (l_new - acc["l"]) + (100 - g) * acc["b"])
        return F.struct(l_new.alias("l"), b_new.alias("b"))
    return step


def holt_forecast_micro(series: DataFrame, key_col: str, t_col: str,
                        y_col: str, horizons: int = 7,
                        alpha_pct: int = 50, beta_pct: int = 30
                        ) -> DataFrame:
    """(key, h, forecast_micro, level_micro, trend_micro, n_obs) for
    h = 1..horizons, from one observation row (key, t, y) per bucket
    per series. Buckets fold in t order; series with fewer than 2
    observations are dropped (no trend to estimate). ``y`` is cast to
    micro-units as round(y * 1e6)."""
    if not (0 < alpha_pct <= 100 and 0 < beta_pct <= 100):
        raise ValueError(f"alpha_pct/beta_pct must be in (0, 100], got "
                         f"{alpha_pct}/{beta_pct}")
    if horizons < 1:
        raise ValueError(f"horizons must be >= 1, got {horizons}")
    obs = _obs_micro(series, key_col, t_col, y_col)
    arr = (obs.groupBy("k")
           .agg(F.array_sort(F.collect_list(F.struct("t", "y")))
                .alias("a"),
                F.count(F.lit(1)).alias("n_obs"))
           .filter(F.col("n_obs") >= 2))

    init = F.struct(
        F.element_at(F.col("a"), 1)["y"].alias("l"),
        (F.element_at(F.col("a"), 2)["y"]
         - F.element_at(F.col("a"), 1)["y"]).alias("b"))
    state = F.aggregate(F.slice(F.col("a"), 2, F.size(F.col("a")) - 1),
                        init, _holt_step(alpha_pct, beta_pct))
    fitted = arr.select("k", "n_obs", state["l"].alias("level_micro"),
                        state["b"].alias("trend_micro"))
    hs = F.explode(F.sequence(F.lit(1), F.lit(horizons))).alias("h")
    return (fitted.select("k", "n_obs", "level_micro", "trend_micro", hs)
            .select(F.col("k").alias(key_col), F.col("h"),
                    (F.col("level_micro")
                     + F.col("h") * F.col("trend_micro"))
                    .alias("forecast_micro"),
                    "level_micro", "trend_micro", "n_obs"))


def holt_backtest_micro(series: DataFrame, key_col: str, t_col: str,
                        y_col: str, alpha_pct: int = 50,
                        beta_pct: int = 30) -> DataFrame:
    """(key, n_steps, sae_micro, mae_micro, naive_sae_micro, mase_ppm)
    — in-sample one-step-ahead backtest of the same recurrence: at each
    fold step the PRIOR state forecasts l+b, the absolute error against
    the incoming bucket accumulates (exact integer sum), THEN the state
    updates. The naive-1 baseline (predict the previous bucket)
    accumulates alongside, giving MASE (Hyndman & Koehler 2006) as
    floor(sae · 1e6 / naive_sae) ppm — under 1e6 means the model beats
    naive persistence; NULL when the naive error is zero (constant
    series). All integers, so the oracle replays it verbatim."""
    if not (0 < alpha_pct <= 100 and 0 < beta_pct <= 100):
        raise ValueError(f"alpha_pct/beta_pct must be in (0, 100], got "
                         f"{alpha_pct}/{beta_pct}")
    obs = _obs_micro(series, key_col, t_col, y_col)
    arr = (obs.groupBy("k")
           .agg(F.array_sort(F.collect_list(F.struct("t", "y")))
                .alias("a"),
                F.count(F.lit(1)).alias("n_obs"))
           .filter(F.col("n_obs") >= 3))

    base = _holt_step(alpha_pct, beta_pct)
    # errors accumulate from the THIRD observation: the step on y2 has
    # model error identically zero by construction (init targets y2
    # exactly, and that step is an exact identity to (y2, y2-y1) under
    # the floor division), so counting it would gift the model a free
    # zero the naive baseline doesn't get and bias MASE (review
    # finding). Init therefore starts AT the post-y2 state.
    init = F.struct(
        F.element_at(F.col("a"), 2)["y"].alias("l"),
        (F.element_at(F.col("a"), 2)["y"]
         - F.element_at(F.col("a"), 1)["y"]).alias("b"),
        F.lit(0).cast("long").alias("sae"),
        F.lit(0).cast("long").alias("nsae"),
        F.element_at(F.col("a"), 2)["y"].alias("py"))

    def step(acc, x):
        err = F.abs(x["y"] - (acc["l"] + acc["b"]))
        nerr = F.abs(x["y"] - acc["py"])
        nxt = base(acc, x)
        return F.struct(nxt["l"].alias("l"), nxt["b"].alias("b"),
                        (acc["sae"] + err).alias("sae"),
                        (acc["nsae"] + nerr).alias("nsae"),
                        x["y"].alias("py"))

    state = F.aggregate(F.slice(F.col("a"), 3, F.size(F.col("a")) - 2),
                        init, step)
    n_steps = (F.col("n_obs") - 2).cast("long")
    mase = F.when(state["nsae"] > 0,
                  F.floor((state["sae"] * 1_000_000).cast("double")
                          / state["nsae"].cast("double")).cast("long"))
    return arr.select(
        F.col("k").alias(key_col), n_steps.alias("n_steps"),
        state["sae"].alias("sae_micro"),
        F.floor(state["sae"].cast("double")
                / n_steps.cast("double")).cast("long").alias("mae_micro"),
        state["nsae"].alias("naive_sae_micro"),
        mase.alias("mase_ppm"))


# ------------------------------------------------------------------ store
# Persisted per-series Holt state — the forecasting tier's incremental
# form: state is (key, last_t, n_obs, l, b), O(|series|) rows, so folds
# rewrite it in place crash-safely (util.swap_commit_dir — the
# cluster-forest/DSIR pattern for small state tables). Because the
# recurrence is deterministic integer math and folds replay buckets in
# the same order with the same init, fold ≡ one-shot EXACTLY (the
# events_holt_fold entry shares the one-shot recursive-CTE oracle
# verbatim). CDC contract: buckets arrive append-only in t per series —
# an out-of-order bucket is a LOUD error, the same discipline as the
# SCD2 maintainer. Single writer; b stays NULL while a series has only
# one observation (warm-up), exactly reproducing the one-shot
# two-point init once the second bucket lands.

def _params_path(path: str) -> str:
    # named manifest.json like the other fold stores' completion
    # markers; written LAST by save_holt_state as the build-completion
    # marker
    import os
    return os.path.join(path, "manifest.json")


def _holt_state(series: DataFrame, key_col: str, t_col: str, y_col: str,
                alpha_pct: int, beta_pct: int) -> DataFrame:
    """One-shot state (k, last_t, n_obs, l, b) incl. 1-obs warm-ups."""
    obs = _obs_micro(series, key_col, t_col, y_col)
    arr = (obs.groupBy("k")
           .agg(F.array_sort(F.collect_list(F.struct("t", "y")))
                .alias("a"),
                F.count(F.lit(1)).alias("n_obs"),
                F.max("t").alias("last_t")))
    init = F.struct(
        F.element_at(F.col("a"), 1)["y"].alias("l"),
        (F.element_at(F.col("a"), 2)["y"]
         - F.element_at(F.col("a"), 1)["y"]).alias("b"))
    state = F.aggregate(F.slice(F.col("a"), 2, F.size(F.col("a")) - 1),
                        init, _holt_step(alpha_pct, beta_pct))
    return arr.select(
        "k", "last_t", "n_obs",
        F.when(F.col("n_obs") >= 2, state["l"])
         .otherwise(F.element_at(F.col("a"), 1)["y"]).alias("l"),
        F.when(F.col("n_obs") >= 2, state["b"])
         .otherwise(F.lit(None).cast("long")).alias("b"))


def save_holt_state(series: DataFrame, key_col: str, t_col: str,
                    y_col: str, path: str, alpha_pct: int = 50,
                    beta_pct: int = 30) -> None:
    import json
    import os
    os.makedirs(path, exist_ok=True)
    st = _holt_state(series, key_col, t_col, y_col, alpha_pct, beta_pct)
    st.repartition(1).write.mode("overwrite") \
        .parquet(os.path.join(path, "data"))
    with open(_params_path(path), "w") as f:
        json.dump({"alpha_pct": alpha_pct, "beta_pct": beta_pct,
                   "key_col": key_col}, f)


def append_holt_buckets(spark, new_series: DataFrame, key_col: str,
                        t_col: str, y_col: str, path: str,
                        skip_stale: bool = False) -> None:
    """Fold new buckets through the recurrence from the stored state.
    Every new bucket must be strictly later than its series' last_t
    (append-only CDC contract — violations raise). With
    ``skip_stale=True`` stale buckets are DROPPED instead: the replay
    semantics a batch-replaying maintainer needs — a crash between the
    state swap and its own commit marker replays the whole batch, whose
    buckets are then all at-or-before last_t and fold to a no-op
    (without this, the replayed batch would raise forever)."""
    import json
    import os

    from ..util import heal_swapped_dir, swap_commit_dir
    with open(_params_path(path)) as f:
        params = json.load(f)
    a, g = params["alpha_pct"], params["beta_pct"]
    data_p = os.path.join(path, "data")
    heal_swapped_dir(data_p)
    state = spark.read.parquet(data_p).localCheckpoint(eager=True)

    # one pass: the staleness probe + both fold reads run off the
    # checkpointed batch, not re-reads of the input (counter-store rule)
    obs = _obs_micro(new_series, key_col, t_col, y_col) \
        .localCheckpoint(eager=True)
    stale = (obs.join(state.select("k", "last_t"), "k")
             .filter(F.col("t") <= F.col("last_t")))
    if skip_stale:
        obs = (obs.join(state.select("k", "last_t"), "k", "left")
               .filter(F.col("last_t").isNull()
                       | (F.col("t") > F.col("last_t")))
               .select("k", "t", "y"))
    else:
        late = stale.count()
        if late:
            raise ValueError(
                f"{late} new bucket(s) at or before their series' "
                "last_t — the Holt store is append-only in t "
                "(SCD2-style CDC contract); rebuild with "
                "save_holt_state for corrections, or pass "
                "skip_stale=True for replay-tolerant maintenance")
    new = (obs.groupBy("k")
           .agg(F.array_sort(F.collect_list(F.struct("t", "y")))
                .alias("na"),
                F.count(F.lit(1)).alias("n_new"),
                F.max("t").alias("new_last_t")))
    j = state.join(new, "k", "full")
    step = _holt_step(a, g)

    # three fold shapes, all replaying the one-shot order exactly:
    # warm state: fold every new bucket from (l, b);
    # 1-obs warm-up: b init = first_new - l, fold ALL new buckets
    #   (the one-shot recurrence also folds y2);
    # brand-new key: delegate to the one-shot state over its buckets.
    warm = F.aggregate(
        F.col("na"), F.struct(F.col("l"), F.col("b")), step)
    wake = F.aggregate(
        F.col("na"),
        F.struct(F.col("l"),
                 (F.element_at(F.col("na"), 1)["y"] - F.col("l"))
                 .alias("b")), step)
    fresh_l = F.element_at(F.col("na"), 1)["y"]
    fresh = F.aggregate(
        F.slice(F.col("na"), 2, F.size(F.col("na")) - 1),
        F.struct(fresh_l.alias("l"),
                 (F.element_at(F.col("na"), 2)["y"] - fresh_l)
                 .alias("b")), step)
    has_new = F.col("na").isNotNull()
    had_state = F.col("last_t").isNotNull()
    new_state = (
        F.when(~has_new,
               F.struct(F.col("l"), F.col("b")))
        .when(had_state & F.col("b").isNotNull(), warm)
        .when(had_state, wake)
        .when(F.col("n_new") >= 2, fresh)
        .otherwise(F.struct(fresh_l.alias("l"),
                            F.lit(None).cast("long").alias("b"))))
    folded = j.select(
        "k",
        F.greatest(F.coalesce(F.col("last_t"), F.col("new_last_t")),
                   F.coalesce(F.col("new_last_t"), F.col("last_t")))
        .alias("last_t"),
        (F.coalesce(F.col("n_obs"), F.lit(0))
         + F.coalesce(F.col("n_new"), F.lit(0))).alias("n_obs"),
        new_state["l"].alias("l"), new_state["b"].alias("b"))

    swap_commit_dir(
        lambda tmp: folded.repartition(1).write.mode("overwrite")
        .parquet(tmp), data_p)


def forecast_from_state(spark, path: str, horizons: int = 7,
                        key_col: str = "k") -> DataFrame:
    """Same output schema as `holt_forecast_micro`, served from state
    alone — series still in warm-up (b NULL) are dropped."""
    import os

    from ..util import heal_swapped_dir
    data_p = os.path.join(path, "data")
    heal_swapped_dir(data_p)
    st = spark.read.parquet(data_p).filter(F.col("b").isNotNull())
    hs = F.explode(F.sequence(F.lit(1), F.lit(horizons))).alias("h")
    return (st.select("k", "n_obs", F.col("l").alias("level_micro"),
                      F.col("b").alias("trend_micro"), hs)
            .select(F.col("k").alias(key_col), F.col("h"),
                    (F.col("level_micro")
                     + F.col("h") * F.col("trend_micro"))
                    .alias("forecast_micro"),
                    "level_micro", "trend_micro", "n_obs"))


def seasonal_strength_micro(series: DataFrame, key_col: str, t_col: str,
                            y_col: str, period: int = 7) -> DataFrame:
    """(key, n_lag1, n_lagp, mean_abs_diff1_micro, mean_abs_diffp_micro,
    strength_ppm) — weekly-seasonality screen: the mean absolute
    lag-``period`` difference over the mean absolute lag-1 difference,
    as exact floor-ppm. Under 1e6 means same-weekday volumes are closer
    than adjacent-day volumes — seasonal structure worth a seasonal
    model; NULL when the lag-1 differences vanish (constant series).
    ``t`` must be a numeric bucket index (epoch day) so the lags are
    plain equi-joins — two self-joins + one aggregate per series, no
    windows."""
    if period < 2:
        raise ValueError(f"period must be >= 2, got {period}")
    obs = _obs_micro(series, key_col, t_col, y_col) \
        .withColumn("t", F.col("t").cast("long"))

    def lag_err(lag: int, nm: str) -> DataFrame:
        cur, prev = obs.alias("c"), obs.alias("p")
        return (cur.join(prev, (F.col("c.k") == F.col("p.k"))
                         & (F.col("c.t") - lag == F.col("p.t")))
                .groupBy(F.col("c.k").alias("k"))
                .agg(F.sum(F.abs(F.col("c.y") - F.col("p.y")))
                     .alias(f"sae{nm}"),
                     F.count(F.lit(1)).alias(f"n{nm}")))
    e1 = lag_err(1, "1")
    ep = lag_err(period, "p")
    # both sides are per-series aggregates (|series| rows); broadcasting
    # one keeps the final combine a hash join instead of a sort-merge
    j = e1.join(F.broadcast(ep), "k")
    m1 = F.floor(F.col("sae1").cast("double")
                 / F.col("n1").cast("double")).cast("long")
    mp = F.floor(F.col("saep").cast("double")
                 / F.col("np").cast("double")).cast("long")
    strength = F.when(m1 > 0,
                      F.floor((mp * 1_000_000).cast("double")
                              / m1.cast("double")).cast("long"))
    return j.select(F.col("k").alias(key_col),
                    F.col("n1").alias("n_lag1"),
                    F.col("np").alias("n_lagp"),
                    m1.alias("mean_abs_diff1_micro"),
                    mp.alias("mean_abs_diffp_micro"),
                    strength.alias("strength_ppm"))
