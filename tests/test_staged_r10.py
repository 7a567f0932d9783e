"""Spark-vs-DuckDB differentials at sf0.001 and semantic invariants for
dedup/provenance, drift-audit, sketch-audit, text-distribution
queries (``queries/provenance.py``, ``queries/behavior.py``,
``queries/sketch_audits.py``, ``queries/textmix.py``)."""

from __future__ import annotations

from tests.conftest import oracle_diff


def test_effective_tokens_matches_oracle(spark):
    got = oracle_diff(spark, "q_effective_tokens")
    assert len(got) == 20, "one row per source"
    # discounting can only shrink: effective <= raw (in e6 units)
    assert (got.effective_tokens_e6 <= got.raw_tokens * 1_000_000).all()
    assert (got.retention_ppm <= 1_000_000).all()
    # planted near-dups exist, so SOME source lost mass...
    assert got.retention_ppm.min() < 1_000_000
    # ...but duplication is a minority of the corpus
    assert got.retention_ppm.max() > 900_000


def test_seasonal_residuals_matches_oracle(spark):
    got = oracle_diff(spark, "q_seasonal_residuals")
    assert len(got) == 5, "one row per event_type"
    assert (got.max_abs_resid <= got.sum_abs_resid).all()
    assert (got.n_resid >= 1).all()


def test_stream_counts_report_matches_oracle(spark):
    got = oracle_diff(spark, "q_stream_counts_report")
    assert (got.cnt >= 1).all()
    assert got.cnt.sum() == 1_000  # sf0.001 events rows — replay counted once


def test_stream_counts_compacted_matches_oracle(spark):
    import os

    got = oracle_diff(spark, "q_stream_counts_compacted")
    assert got.cnt.sum() == 1_000
    # the compacted fixture's log really is one folded batch
    from week4_musemotion_spark.queries.sketch_audits import (
        _compacted_count_store_fixture,
    )
    from tests.conftest import SF_SMOKE

    data = os.path.join(_compacted_count_store_fixture(spark, SF_SMOKE), "store", "counts")
    assert {n.split("-")[1] for n in os.listdir(data)} == {"c1"}


def test_lang_confusion_matches_oracle(spark):
    got = oracle_diff(spark, "q_lang_confusion")
    assert got.n_docs.sum() == 500
    # this synthetic corpus is exactly the pathology the audit hunts:
    # texts draw mostly English-marker vocabulary under non-en labels,
    # so the off-diagonal mass is LARGE (declared fr -> detected en is
    # the biggest cell after en/en).  Assert the structural facts, not
    # a clean diagonal: some agreement exists, disagreements exist,
    # and every 'und' cell is evidence-free by definition.
    diag = got[got.declared_lang == got.lang_pred].n_docs.sum()
    assert diag > 0
    assert (got.declared_lang != got.lang_pred).any()
    assert (got.loc[got.lang_pred == "und", "marker_hits"] == 0).all()


def test_winnow_recall_matches_oracle(spark):
    got = oracle_diff(spark, "q_winnow_recall")
    r = got.iloc[0]
    assert r.jaccard_pairs > 0
    assert r.caught_min <= r.caught_1 <= r.jaccard_pairs
    # the winnowing guarantee covers CONTIGUOUS runs >= w+k-1 = 11
    # tokens, and it is exactly sharp on this corpus: sf0.001 has
    # one Jaccard-0.8 pair (docs of 11 and 10 tokens) whose longest
    # shared contiguous run is 10 tokens — one short of the bound —
    # and that is precisely the single miss (27/28).  Assert the
    # measured floor, not perfect recall; a drop BELOW it means the
    # selection broke, not that the theory has exceptions.
    assert r.recall_1_ppm >= 950_000, r.recall_1_ppm
    assert r.jaccard_pairs - r.caught_1 <= 1
