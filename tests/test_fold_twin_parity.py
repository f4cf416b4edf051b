"""Fold-twin parity: the 11 fold/compaction lifecycle entries whose
DuckDB oracle SQL is VERBATIM their batch twin's are pinned here by
direct value equality against that twin — fold output must equal batch
output row-for-row, a strictly stronger check than two identical oracle
rows. (An inherited r08 build commit retired these from the contract;
the optimization round re-registered all 12 — the optimization protocol
forbids declared queries disappearing — and kept this parity test as
extra coverage; the IVF compaction twin later left with the IVF store.)
FOLD_TWINS maps fold name -> batch twin name.
"""

import math
import os

import pytest

import __spark_entry__ as entry

SF_DIR = "/root/testdata/sf0.001"

# fold entry name -> its callable
RETIRED_CALLABLES = {
    "boilerplate_store_fold": entry._q_boilerplate_store_fold,
    "drift_psi_fold": entry._q_drift_psi_fold,
    "text_kn_fold": entry._q_text_kn_fold,
    "corpus_overlap_store_fold": entry._q_corpus_overlap_store_fold,
    "dedup_cluster_store_merge": entry._q_dedup_cluster_store,
    "decontam_from_store": entry._q_decontam_from_store,
    "decontam_report_fold": entry._q_decontam_report_fold,
    "split_dsir_weights_fold": entry._q_split_dsir_weights_fold,
    "events_holt_fold": entry._q_events_holt_fold,
    "bm25_store_compacted_ranked": entry._q_bm25_store_compacted,
    "sim_hnsw_compacted_recall": entry._q_sim_hnsw_compacted_recall,
}


def _canon_rows(df):
    """Order-insensitive canonical form: columns sorted by name, rows
    sorted by their string image, floats rounded to 9 significant-ish
    decimals (both twins compute in float64; the fold paths are designed
    bit-identical, but NaN != NaN needs normalizing)."""
    cols = sorted(df.columns)
    out = []
    for row in df.select(*cols).collect():
        vals = []
        for c in cols:
            v = row[c]
            if isinstance(v, float):
                v = "NaN" if math.isnan(v) else repr(round(v, 9))
            vals.append((c, str(v)))
        out.append(tuple(vals))
    return sorted(out)


def test_retired_map_is_consistent():
    """Every fold name is a registered contract entry whose callable is
    the one pinned here, and its batch twin is registered too."""
    qs = entry.queries()
    assert set(RETIRED_CALLABLES) == set(entry.FOLD_TWINS)
    for fold, survivor in entry.FOLD_TWINS.items():
        assert qs[fold] is RETIRED_CALLABLES[fold], fold
        assert survivor in qs, survivor


@pytest.mark.parametrize("retired", sorted(RETIRED_CALLABLES))
def test_fold_twin_matches_batch_twin(spark, retired):
    if not os.path.isdir(SF_DIR):
        pytest.skip(f"{SF_DIR} not present")
    survivor = entry.FOLD_TWINS[retired]
    fold_df = RETIRED_CALLABLES[retired](spark, SF_DIR)
    batch_df = entry.queries()[survivor](spark, SF_DIR)
    assert sorted(fold_df.columns) == sorted(batch_df.columns)
    assert _canon_rows(fold_df) == _canon_rows(batch_df), (
        f"{retired} diverged from {survivor}")
