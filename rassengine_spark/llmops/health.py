"""Pipeline-health dashboard: ONE (metric, value, flagged) frame per
curation run, served from the persisted counter stores the batch folds
keep fresh — the single view a 100 TB curation pipeline is operated by.

Serving cost is O(store groups), independent of corpus size, for every
branch except the optional dup-rate scan (one hash-aggregate over
md5(text) digests). All values are exact integers, so the view is
engine-portable and oracle-checkable (driver entry
``pipeline_health_rollup``).

The reference has no composed health view — it is the operational layer
its OpenSearch cluster dashboards provide out of band (SURVEY §3);
here it is a first-class query over the engine's own stores.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def health_report(spark: SparkSession, dq_path: str, psi_path: str,
                  contam_path: str,
                  docs: DataFrame | None = None,
                  text_col: str = "text") -> DataFrame:
    """(metric, value, flagged) rows:

    - ``dq_row_checks_failed``   — row-level DQ checks below threshold
      (from the DQ counter store, ``llmops/dataquality.py``)
    - ``drifted_event_types``    — PSI groups over the flag threshold
      (from the PSI histogram store)
    - ``contaminated_eval_docs`` / ``eval_docs_checked`` — from the
      contamination counter store (``llmops/decontam.py``)
    - ``duplicate_docs`` / ``total_docs`` — exact dup rate over
      md5(text) digests; omitted when ``docs`` is None (store-only mode
      for an online dashboard that must not scan the corpus)
    """
    from . import decontam as DC
    from . import dataquality as DQ

    # every gate coalesces its sum to 0: a store that exists but has
    # folded no rows yet (a maintainer's empty init, a fresh baseline)
    # must read as "0 failures", not a null row in the dashboard
    dq_row = (DQ.dq_report_from_counters(spark, dq_path)
              .agg(F.coalesce(F.sum(F.when(~F.col("passed"), 1)
                                    .otherwise(0)), F.lit(0))
                   .cast("long").alias("value"))
              .select(F.lit("dq_row_checks_failed").alias("metric"),
                      "value", (F.col("value") > 0).alias("flagged")))
    psi_row = (DQ.psi_report_from_counters(spark, psi_path)
               .agg(F.coalesce(F.sum(F.col("drifted").cast("int")),
                               F.lit(0))
                    .cast("long").alias("value"))
               .select(F.lit("drifted_event_types").alias("metric"),
                       "value", (F.col("value") > 0).alias("flagged")))
    contam_rows = (
        DC.read_contamination_counters(spark, contam_path)
        .agg(F.coalesce(F.sum("n_contaminated"), F.lit(0))
             .cast("long").alias("c"),
             F.coalesce(F.sum("n_docs"), F.lit(0))
             .cast("long").alias("n"))
        .selectExpr("stack(2, 'contaminated_eval_docs', c, c > 0, "
                    "'eval_docs_checked', n, false) "
                    "AS (metric, value, flagged)"))
    out = dq_row.unionByName(psi_row).unionByName(contam_rows)
    if docs is not None:
        # dup rate over md5(text): the distinct aggregate shuffles
        # 32-byte digests instead of full documents (the 100 TB shape)
        dup_rows = (docs.agg(F.count(F.lit(1)).cast("long").alias("n"),
                             F.countDistinct(F.md5(F.col(text_col)))
                              .cast("long").alias("u"))
                    .selectExpr("stack(2, 'duplicate_docs', n - u, n > u, "
                                "'total_docs', n, false) "
                                "AS (metric, value, flagged)"))
        out = out.unionByName(dup_rows)
    return out


def health_store_paths(root: str) -> dict[str, str]:
    """Canonical store layout under one health root (the layout the
    store builder in ``__spark_entry__.py`` uses)."""
    return {"dq": os.path.join(root, "dq"),
            "psi": os.path.join(root, "psi"),
            "contam": os.path.join(root, "contam")}
