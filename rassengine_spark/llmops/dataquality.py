"""Declarative data-quality checks and column profiling (Deequ-style).

A constraint suite compiles every row-level check over a table into ONE
aggregation pass: each check becomes a pair of conditional-aggregate
expressions inside a single ``agg()``, so a 100 TB scan computes every
completeness / range / predicate / uniqueness metric with map-side
partial aggregation and a single 1-row reduce — the same plan Amazon
Deequ's analyzer runner produces on Spark.  The wide 1-row result is
then unpivoted (``stack``) into the tall ``(check, metric, passed)``
report; the unpivot touches one row, never the data.

Cross-table checks (referential integrity, aggregate consistency) are
inherently join-shaped and run as their own passes; their reports union
onto the single-pass block.  All fractional metrics are integer
round-half-up — ``(2*num*10^d + den) div (2*den) / 10^d`` — so the
report hashes identically on any engine/partitioning: the ratio comes
from exact integer counts, so no floating-point rounding step can
differ between engines.

The reference engine validates payloads imperatively per-request
(app/main.py:2890-2933 upload checks); this table-level suite is the
batch/scale generalization of that surface, extending the
training-data-pipeline tier.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class Check:
    """One named metric over a table.

    ``num`` / ``den`` are *row-level* integer expressions; the suite sums
    both and reports ``metric = round_half_up(sum(num)/sum(den), d)``.
    ``min_metric`` sets the pass threshold (``passed = metric >=
    min_metric``).
    """

    name: str
    num: Column
    den: Column
    min_metric: float = 1.0


def completeness(col: str, min_metric: float = 1.0) -> Check:
    """Fraction of rows with a non-null ``col``."""
    return Check(f"completeness({col})", F.col(col).isNotNull().cast("long"),
                 F.lit(1).cast("long"), min_metric)


def satisfies(name: str, predicate: Column, min_metric: float = 1.0,
              where: Column | None = None) -> Check:
    """Fraction of rows (optionally restricted to ``where``) satisfying
    ``predicate``.  NULL predicate counts as failed, like Deequ."""
    den = F.lit(1) if where is None else where.cast("long")
    num = predicate if where is None else (predicate & where)
    return Check(name, F.coalesce(num.cast("long"), F.lit(0)),
                 den.cast("long"), min_metric)


_SCALE = 10_000  # 4-decimal report metrics


def _ratio(num: str, den: str) -> Column:
    """Integer half-up num/den at 4 decimals; NULL when den = 0. True
    integer `div` (not double-divide-then-cast, which can land one off a
    DuckDB `//` when correctly-rounded double division rounds up across
    the truncation boundary)."""
    return (F.when(F.col(den) > 0,
                   F.expr(f"({num} * {2 * _SCALE} + {den}) div (2 * {den})"))
            .cast("double") / _SCALE)


def check_suite(df: DataFrame, checks: list[Check],
                unique_cols: list[str] | None = None) -> DataFrame:
    """Run every check in ONE aggregation pass; returns the tall report
    ``(check string, metric double, passed boolean)``.

    ``unique_cols`` adds a ``uniqueness(col)`` metric per column —
    ``count_distinct(col)/count(col)`` — folded into the same ``agg()``
    (Spark plans multi-distinct via a single expand, still one scan).
    At 100 TB prefer the HLL sketch tier (operators/sketches.py) for
    ndv-ish monitoring; this exact form is the audit/oracle path.
    """
    aggs: list[Column] = []
    for i, c in enumerate(checks):
        aggs.append(F.sum(c.num).alias(f"n{i}"))
        aggs.append(F.sum(c.den).alias(f"d{i}"))
    unique_cols = unique_cols or []
    for j, col in enumerate(unique_cols):
        aggs.append(F.count_distinct(F.col(col)).alias(f"u{j}"))
        aggs.append(F.count(F.col(col)).alias(f"uc{j}"))
    wide = df.agg(*aggs)

    rows: list[Column] = []
    for i, c in enumerate(checks):
        m = _ratio(f"n{i}", f"d{i}")
        rows.append(F.struct(F.lit(c.name).alias("check"),
                             m.alias("metric"),
                             (m >= c.min_metric).alias("passed")))
    for j, col in enumerate(unique_cols):
        m = _ratio(f"u{j}", f"uc{j}")
        rows.append(F.struct(F.lit(f"uniqueness({col})").alias("check"),
                             m.alias("metric"),
                             (m >= F.lit(1.0)).alias("passed")))
    return (wide.select(F.explode(F.array(*rows)).alias("r"))
            .select("r.check", "r.metric", "r.passed"))


def referential_check(child: DataFrame, child_key: str,
                      parent: DataFrame, parent_key: str,
                      name: str | None = None,
                      min_metric: float = 1.0) -> DataFrame:
    """Fraction of child rows whose key exists in parent, as a 1-row
    report block.  Plan: distinct parent keys (pre-aggregated so the
    join input is keys-not-rows), left join, conditional count — a plain
    shuffled equi-join on the key at scale, broadcast when the parent
    key set is small.  NULL child keys count as violations (they
    reference nothing)."""
    name = name or f"referential({child_key}->{parent_key})"
    pk = parent.select(F.col(parent_key).alias("_pk")).distinct()
    hit = (child.select(F.col(child_key).alias("_ck"))
           .join(pk, F.col("_ck") == F.col("_pk"), "left")
           .agg(F.sum(F.col("_pk").isNotNull().cast("long")).alias("n"),
                F.count(F.lit(1)).alias("d")))
    m = _ratio("n", "d")
    return hit.select(F.lit(name).alias("check"), m.alias("metric"),
                      (m >= min_metric).alias("passed"))


def aggregate_agreement_check(child: DataFrame, key: str, measure: Column,
                              parent: DataFrame, parent_key: str,
                              parent_measure: str, tolerance: float,
                              name: str,
                              min_metric: float = 1.0) -> DataFrame:
    """Fraction of parent rows whose ``parent_measure`` agrees (within
    relative ``tolerance``) with the child-side ``sum(measure)`` grouped
    by key — e.g. orders.o_totalprice vs the lineitem charge sum.  Plan:
    child pre-aggregates to one row per key (map-side combine), then one
    equi-join with the parent; parents with no child rows count as
    disagreement.  The comparison itself uses exact doubles only inside
    a tolerance band, so partition-order float noise (~1 ulp) cannot
    flip it at any realistic tolerance."""
    agg = (child.groupBy(F.col(key).alias("_k"))
           .agg(F.sum(measure).alias("_s")))
    ok = (F.col("_s").isNotNull()
          & (F.abs(F.col(parent_measure) - F.col("_s"))
             <= tolerance * F.abs(F.col(parent_measure))))
    j = (parent.join(agg, F.col(parent_key) == F.col("_k"), "left")
         .agg(F.sum(ok.cast("long")).alias("n"),
              F.count(F.lit(1)).alias("d")))
    m = _ratio("n", "d")
    return j.select(F.lit(name).alias("check"), m.alias("metric"),
                    (m >= min_metric).alias("passed"))


# ---------------------------------------------------------------------------
# Incremental constraint metrics (manifest-LSM counter store)
# ---------------------------------------------------------------------------
#
# Row-level check metrics are ratios of ADDITIVE sums, so a 100 TB corpus
# audits incrementally: each ingest batch folds its (check, num/den)
# counters into the persisted store as one O(batch) delta — history is
# never rescanned, and the served report is EXACTLY the one-shot suite
# over the union (fold ≡ one-shot, the property every *_fold oracle
# stamps). Non-additive checks (uniqueness's count_distinct, the
# join-shaped referential/consistency passes) deliberately stay
# one-shot: folding them would need sketch-or-key state, which the
# HLL/cluster-store tiers already own.

def check_counters(df: DataFrame, checks: list[Check]) -> DataFrame:
    """The suite's single-pass aggregate emitted as ADDITIVE counter
    rows ``(check, kind in ('num','den'), cnt)`` — 2 rows per check,
    foldable by plain summation."""
    aggs: list[Column] = []
    for i, c in enumerate(checks):
        aggs.append(F.sum(c.num).alias(f"n{i}"))
        aggs.append(F.sum(c.den).alias(f"d{i}"))
    wide = df.agg(*aggs)
    rows: list[Column] = []
    for i, c in enumerate(checks):
        for kind, col in (("num", f"n{i}"), ("den", f"d{i}")):
            rows.append(F.struct(
                F.lit(c.name).alias("check"), F.lit(kind).alias("kind"),
                F.coalesce(F.col(col), F.lit(0)).cast("bigint")
                 .alias("cnt")))
    return (wide.select(F.explode(F.array(*rows)).alias("r"))
            .select("r.check", "r.kind", "r.cnt"))


def _check_thresholds(checks: list[Check]) -> dict:
    return {c.name: c.min_metric for c in checks}


def save_dq_counters(df: DataFrame, checks: list[Check], path: str,
                     buckets: int = 8) -> None:
    """Build the persisted DQ counter store; per-check pass thresholds
    land in the manifest so the report serves from the store alone."""
    from .counter_store import save_counters
    save_counters(check_counters(df, checks), ["check", "kind"], path,
                  buckets=buckets,
                  extra={"thresholds": _check_thresholds(checks)})


def append_dq_counters(batch_df: DataFrame, checks: list[Check],
                       path: str, delta_name: str | None = None) -> None:
    """Fold one batch's counters in (O(batch), history byte-untouched).
    The check set must match the store's — silently folding a different
    suite would corrupt every ratio."""
    from .counter_store import append_counters, load_counter_manifest
    saved = set(load_counter_manifest(path)["thresholds"])
    now = {c.name for c in checks}
    if saved != now:
        raise ValueError(
            f"check suite mismatch vs store manifest: only in store "
            f"{sorted(saved - now)}, only in batch {sorted(now - saved)}")
    append_counters(check_counters(batch_df, checks), path,
                    delta_name=delta_name)


def dq_report_from_counters(spark, path: str) -> DataFrame:
    """Serve the ``(check, metric, passed)`` report from the committed
    counter snapshot — identical to running ``check_suite`` over every
    row ever folded."""
    from .counter_store import load_counter_manifest, read_counters
    thr = load_counter_manifest(path)["thresholds"]
    c = read_counters(spark, path)
    wide = c.groupBy("check").agg(
        F.sum(F.when(F.col("kind") == "num", F.col("cnt")).otherwise(0))
         .alias("n"),
        F.sum(F.when(F.col("kind") == "den", F.col("cnt")).otherwise(0))
         .alias("d"))
    thr_map = F.create_map(
        *[x for k, v in sorted(thr.items())
          for x in (F.lit(k), F.lit(float(v)))])
    m = _ratio("n", "d")
    return wide.select("check", m.alias("metric"),
                       (m >= thr_map[F.col("check")]).alias("passed"))


def compact_dq_counters(spark, path: str) -> None:
    """Merge delta slivers into a new base version (crash-safe by
    manifest ordering; report byte-identical)."""
    from .counter_store import compact_counters
    compact_counters(spark, path)


# ---------------------------------------------------------------------------
# Incremental PSI drift (baseline + current bin counters in the store)
# ---------------------------------------------------------------------------
#
# The production shape of a drift gate: the BASELINE histogram is built
# once from the reference snapshot; every new ingest batch folds its
# (group, bin) counts into the 'cur' side as an O(batch) delta. The
# served PSI is exactly ``psi_drift`` over baseline ∪ all folded batches
# — fold ≡ one-shot, because the only state is additive bin counts.

def value_bin_counters(df: DataFrame, group_col: str, value_col: str,
                       side: str, lo: float, hi: float,
                       n_bins: int = 10) -> DataFrame:
    """Additive counter rows ``(g, bin, side, cnt)`` for one side
    ('base' or 'cur') — the same clamped fixed-width binning
    ``psi_drift`` uses, pre-aggregated so a fold is ≤ groups×bins
    rows."""
    if side not in ("base", "cur"):
        raise ValueError(f"side must be 'base' or 'cur', got {side!r}")
    width = (hi - lo) / n_bins
    b = F.least(F.lit(n_bins - 1), F.greatest(F.lit(0), F.floor(
        (F.col(value_col) - lo) / width)))
    return (df.select(F.col(group_col).alias("g"), b.alias("bin"),
                      F.lit(side).alias("side"))
            .groupBy("g", "bin", "side")
            .agg(F.count(F.lit(1)).cast("bigint").alias("cnt")))


def save_psi_counters(baseline_df: DataFrame, group_col: str,
                      value_col: str, path: str, lo: float, hi: float,
                      n_bins: int = 10, flag_at: float = 0.2,
                      buckets: int = 8) -> None:
    """Build the drift store from the reference snapshot; bin grid and
    flag threshold persist in the manifest so serving needs no
    parameters (a mismatched grid would silently shift every bin)."""
    from .counter_store import save_counters
    save_counters(
        value_bin_counters(baseline_df, group_col, value_col, "base",
                           lo, hi, n_bins),
        ["g", "bin", "side"], path, buckets=buckets,
        extra={"lo": lo, "hi": hi, "n_bins": n_bins, "flag_at": flag_at,
               "group_col": group_col, "value_col": value_col})


def append_psi_current(batch_df: DataFrame, path: str,
                       delta_name: str | None = None) -> None:
    """Fold one ingest batch into the 'cur' side (O(batch), history
    byte-untouched); grid comes from the manifest."""
    from .counter_store import append_counters, load_counter_manifest
    m = load_counter_manifest(path)
    append_counters(
        value_bin_counters(batch_df, m["group_col"], m["value_col"],
                           "cur", m["lo"], m["hi"], m["n_bins"]),
        path, delta_name=delta_name)


def psi_report_from_counters(spark, path: str) -> DataFrame:
    """Serve (group, psi, n_base, n_cur, drifted) from the committed
    counter snapshot — identical to ``psi_drift`` over baseline ∪ every
    folded batch (same integer-micro ln fold, same absent-bin
    reconstruction)."""
    from .counter_store import load_counter_manifest, read_counters
    m = load_counter_manifest(path)
    n_bins, flag_at = int(m["n_bins"]), float(m["flag_at"])
    c = read_counters(spark, path)
    binned = (c.groupBy("g", "bin")
              .agg(F.sum(F.when(F.col("side") == "base", F.col("cnt"))
                         .otherwise(0)).alias("_cb"),
                   F.sum(F.when(F.col("side") == "cur", F.col("cnt"))
                         .otherwise(0)).alias("_cc")))
    from pyspark.sql.window import Window
    w = Window.partitionBy("g")
    p = ((F.col("_cb") + 1).cast("double")
         / (F.sum("_cb").over(w) + n_bins).cast("double"))
    q = ((F.col("_cc") + 1).cast("double")
         / (F.sum("_cc").over(w) + n_bins).cast("double"))
    term_micro = F.round((p - q) * F.log(p / q) * 1_000_000, 0).cast("long")
    per_bin = binned.select("g", term_micro.alias("_tm"), "_cb", "_cc")
    agg = per_bin.groupBy(F.col("g")).agg(
        F.sum("_tm").alias("_sm"),
        F.sum("_cb").alias("n_base"), F.sum("_cc").alias("n_cur"),
        F.count(F.lit(1)).alias("_nbins_seen"))
    pa = (F.lit(1.0) / (F.col("n_base") + n_bins))
    qa = (F.lit(1.0) / (F.col("n_cur") + n_bins))
    absent_micro = (F.round((pa - qa) * F.log(pa / qa) * 1_000_000, 0)
                    .cast("long") * (n_bins - F.col("_nbins_seen")))
    psi = ((F.col("_sm") + absent_micro).cast("double") / 1_000_000)
    return agg.select(F.col("g").alias(m["group_col"]),
                      psi.alias("psi"), "n_base", "n_cur",
                      (psi > flag_at).alias("drifted"))


# ---------------------------------------------------------------------------
# Column profiler
# ---------------------------------------------------------------------------

def profile_columns(df: DataFrame, numeric_cols: list[str],
                    string_cols: list[str] | None = None) -> DataFrame:
    """Per-column profile in ONE scan: ``(col_name, n_rows, n_nulls,
    n_distinct, min_val, max_val, avg_val)``.

    Numeric min/max/avg are exact; the mean is integer-micro half-up
    (values scaled to micros as longs before summing, so the report is
    partition-order independent — F.avg on doubles is not).  String
    columns profile count/nulls/ndv with NULL numeric fields.  Exact
    ndv is the audit form; the scale path for routine monitoring is
    approx_count_distinct / the HLL sketch store, which this signature
    deliberately mirrors so callers can swap.
    """
    string_cols = string_cols or []
    aggs: list[Column] = [F.count(F.lit(1)).alias("_n")]
    for i, c in enumerate(numeric_cols):
        v = F.col(c)
        aggs += [
            F.sum(v.isNull().cast("long")).alias(f"nn{i}"),
            F.count_distinct(v).alias(f"nd{i}"),
            F.min(v).cast("double").alias(f"mn{i}"),
            F.max(v).cast("double").alias(f"mx{i}"),
            F.sum(F.round(v.cast("double") * 1_000_000, 0).cast("long"))
             .alias(f"sm{i}"),
            F.count(v).alias(f"cv{i}"),
        ]
    for j, c in enumerate(string_cols):
        v = F.col(c)
        aggs += [F.sum(v.isNull().cast("long")).alias(f"sn{j}"),
                 F.count_distinct(v).alias(f"sd{j}")]
    wide = df.agg(*aggs)

    rows: list[Column] = []
    for i, c in enumerate(numeric_cols):
        avg = (F.when(F.col(f"cv{i}") > 0,
                      F.expr(f"(sm{i} * 2 + cv{i}) div (2 * cv{i})"))
               .cast("double") / 1_000_000)
        rows.append(F.struct(
            F.lit(c).alias("col_name"), F.col("_n").alias("n_rows"),
            F.col(f"nn{i}").alias("n_nulls"),
            F.col(f"nd{i}").alias("n_distinct"),
            F.col(f"mn{i}").alias("min_val"), F.col(f"mx{i}").alias("max_val"),
            avg.alias("avg_val")))
    for j, c in enumerate(string_cols):
        rows.append(F.struct(
            F.lit(c).alias("col_name"), F.col("_n").alias("n_rows"),
            F.col(f"sn{j}").alias("n_nulls"),
            F.col(f"sd{j}").alias("n_distinct"),
            F.lit(None).cast("double").alias("min_val"),
            F.lit(None).cast("double").alias("max_val"),
            F.lit(None).cast("double").alias("avg_val")))
    return (wide.select(F.explode(F.array(*rows)).alias("r"))
            .select("r.col_name", "r.n_rows", "r.n_nulls", "r.n_distinct",
                    "r.min_val", "r.max_val", "r.avg_val"))


# ---------------------------------------------------------------------------
# Distribution drift (PSI)
# ---------------------------------------------------------------------------

def psi_drift(df: DataFrame, group_col: str, value_col: str,
              baseline: Column, lo: float, hi: float,
              n_bins: int = 10, flag_at: float = 0.2) -> DataFrame:
    """Population-Stability-Index drift per group between the rows where
    ``baseline`` is true (reference window) and the rest (current
    window): ``PSI = sum_bins (p_i - q_i) * ln(p_i / q_i)`` over
    ``n_bins`` fixed-width bins of ``value_col`` on [lo, hi) (clamped),
    add-one smoothed so empty bins never hit ln(0).

    Plan at 100 TB: one groupBy (group, bin) with two conditional sums
    (map-side combine collapses the scan to ≤ groups×bins rows), then a
    per-group fold of n_bins PSI terms.  Each term is rounded to integer
    micro-units BEFORE the cross-bin sum, so the fold is an
    order-independent integer sum — the transcendental ln stays out of
    the accumulation (the same rule the nDCG/BM25 tiers follow).

    Output: (group, psi, n_base, n_cur, drifted) — the standard feature
    monitoring gate (PSI > 0.2 ⇒ investigate).
    """
    width = (hi - lo) / n_bins
    b = F.least(F.lit(n_bins - 1), F.greatest(F.lit(0), F.floor(
        (F.col(value_col) - lo) / width))).alias("_bin")
    g = F.col(group_col).alias("_g")
    base = F.when(baseline, 1).otherwise(0)
    binned = (df.select(g, b, base.alias("_is_base"))
              .groupBy("_g", "_bin")
              .agg(F.sum("_is_base").alias("_cb"),
                   F.sum(1 - F.col("_is_base")).alias("_cc")))
    from pyspark.sql.window import Window
    w = Window.partitionBy("_g")
    p = ((F.col("_cb") + 1).cast("double")
         / (F.sum("_cb").over(w) + n_bins).cast("double"))
    q = ((F.col("_cc") + 1).cast("double")
         / (F.sum("_cc").over(w) + n_bins).cast("double"))
    term_micro = F.round((p - q) * F.log(p / q) * 1_000_000, 0).cast("long")
    per_bin = binned.select(
        "_g", term_micro.alias("_tm"),
        F.col("_cb").alias("_cb"), F.col("_cc").alias("_cc"))
    # NOTE: smoothing counts absent (group, bin) combinations as zero on
    # BOTH sides, which contributes a (1/(nb+B) - 1/(nc+B))*ln(...) term
    # only when the totals differ; with add-one smoothing and equal bin
    # grids the absent-bin term is the same for every absent bin, so we
    # reconstruct it exactly from the observed bin count.
    agg = per_bin.groupBy(F.col("_g").alias(group_col)).agg(
        F.sum("_tm").alias("_sm"),
        F.sum("_cb").alias("n_base"), F.sum("_cc").alias("n_cur"),
        F.count(F.lit(1)).alias("_nbins_seen"))
    pa = (F.lit(1.0) / (F.col("n_base") + n_bins))
    qa = (F.lit(1.0) / (F.col("n_cur") + n_bins))
    absent_micro = (F.round((pa - qa) * F.log(pa / qa) * 1_000_000, 0)
                    .cast("long") * (n_bins - F.col("_nbins_seen")))
    psi = ((F.col("_sm") + absent_micro).cast("double") / 1_000_000)
    return agg.select(group_col,
                      psi.alias("psi"), "n_base", "n_cur",
                      (psi > flag_at).alias("drifted"))


def embedding_centroid_drift(df: DataFrame, group_col: str,
                             current: Column, vec_col: str,
                             round_to: int = 6) -> DataFrame:
    """Embedding-space drift per group between a baseline window (rows
    where ``current`` is false) and the current window: cosine of the
    two per-group CENTROIDS plus the L2 distance between them — the
    representation-drift complement of the scalar PSI monitor (centroid
    shift is the standard first-order embedding drift statistic; a
    cosine well under 1.0 or a large shift says the feature extractor
    or the corpus moved).

    Determinism/scale contract:
    - per-dimension sums are integer micro-units (posexplode ->
      groupBy (group, window, dim) SUM of rounded-micro longs — one
      hash-aggregate with map-side combine; state = groups x 2 x dim
      rows regardless of corpus size);
    - the cross-dimension dot/norm folds run in dimension order via the
      repo's sorted-array fold, so the handful of double ops are
      bit-reproducible and oracle-checkable;
    - no collects, no windows — output is one row per group.

    Output: (group, n_base, n_cur, cos_centroid, l2_shift); groups
    missing either window are dropped (no drift to measure).
    """
    ex = df.select(
        F.col(group_col).alias("g"),
        F.when(current, F.lit(1)).otherwise(F.lit(0)).alias("cur"),
        F.posexplode(F.col(vec_col)).alias("pos", "v"))
    per = (ex.groupBy("g", "cur", "pos")
             .agg(F.sum(F.round(F.col("v").cast("double") * 1_000_000, 0)
                        .cast("long")).alias("sm"),
                  F.count(F.lit(1)).alias("n")))
    b = per.filter(F.col("cur") == 0).select(
        "g", "pos", F.col("sm").alias("smb"), F.col("n").alias("nb"))
    c = per.filter(F.col("cur") == 1).select(
        "g", "pos", F.col("sm").alias("smc"), F.col("n").alias("nc"))
    mb = (F.col("smb").cast("double") / F.col("nb").cast("double")) \
        / 1_000_000.0
    mc = (F.col("smc").cast("double") / F.col("nc").cast("double")) \
        / 1_000_000.0
    m = b.join(c, ["g", "pos"]).select(
        "g", "pos", mb.alias("mb"), mc.alias("mc"), "nb", "nc")
    arr = F.array_sort(F.collect_list(F.struct(
        F.col("pos").alias("p"), F.col("mb").alias("mb"),
        F.col("mc").alias("mc"))))
    agg = m.groupBy("g").agg(
        F.max("nb").alias("n_base"), F.max("nc").alias("n_cur"),
        arr.alias("_a"))

    def fold(term):
        return F.aggregate(F.col("_a"), F.lit(0.0),
                           lambda acc, x: acc + term(x))

    dot = fold(lambda x: x["mb"] * x["mc"])
    b2 = fold(lambda x: x["mb"] * x["mb"])
    c2 = fold(lambda x: x["mc"] * x["mc"])
    d2 = fold(lambda x: (x["mb"] - x["mc"]) * (x["mb"] - x["mc"]))
    return agg.select(
        F.col("g").alias(group_col), "n_base", "n_cur",
        F.round(dot / (F.sqrt(b2) * F.sqrt(c2)), round_to)
         .alias("cos_centroid"),
        F.round(F.sqrt(d2), round_to).alias("l2_shift"))


def k_anonymity_report(df: DataFrame, quasi_cols: list[str],
                       sensitive_col: str,
                       k_threshold: int = 10) -> DataFrame:
    """Re-identification risk audit before a data release (Sweeney 2002
    k-anonymity; Machanavajjhala 2007 l-diversity — public definitions):
    rows sharing a quasi-identifier combination form an equivalence
    class; k = the smallest class size (an attacker knowing the quasi
    values pins an individual to >= k candidates), l = the smallest
    number of DISTINCT sensitive values within any class (guards
    against "all k candidates share the secret").

    One-row summary, all exact integers (ppm fractions — the DQ-tier
    convention):

      (n_rows, n_classes, k_min, l_min, n_below_k, rows_below_k_ppm)

    where n_below_k / rows_below_k_ppm count classes (and their row
    share) smaller than ``k_threshold`` — the remediation worklist
    size.

    Plan at 100 TB: one hash-aggregate to (quasi..., size, distinct
    sensitive) — count_distinct rides the same agg via expand — then a
    1-row reduce over class-level metadata. No windows, no collects.
    """
    if not quasi_cols:
        raise ValueError("quasi_cols must be non-empty")
    if k_threshold < 1:
        raise ValueError(f"k_threshold must be >= 1, got {k_threshold}")
    cls = (df.groupBy(*quasi_cols)
           .agg(F.count(F.lit(1)).alias("_n"),
                F.countDistinct(F.col(sensitive_col)).alias("_l")))
    below = F.when(F.col("_n") < k_threshold, F.col("_n")) \
             .otherwise(F.lit(0))
    agg = cls.agg(
        F.sum("_n").alias("n_rows"),
        F.count(F.lit(1)).alias("n_classes"),
        F.min("_n").alias("k_min"),
        F.min("_l").alias("l_min"),
        F.sum(F.when(F.col("_n") < k_threshold, 1).otherwise(0))
         .alias("n_below_k"),
        F.sum(below).alias("_rows_below"))
    # exact BIGINT ppm via the explicit double floor-div (values far
    # below 2^53; CAST-of-double rounds in DuckDB but floor is floor)
    ppm = F.floor((F.col("_rows_below") * 1_000_000).cast("double")
                  / F.col("n_rows").cast("double")).cast("long")
    return agg.select(
        "n_rows", "n_classes", "k_min", "l_min", "n_below_k",
        ppm.alias("rows_below_k_ppm"))
