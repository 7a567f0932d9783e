"""Spark-vs-DuckDB differentials at sf0.001 and semantic invariants for
curation queries (``queries/curation.py``)."""

from __future__ import annotations

from tests.conftest import oracle_diff


def test_self_repetition_runs_matches_oracle(spark):
    got = oracle_diff(spark, "q_self_repetition_runs")
    # the synthesized loop (doc_id % 5 == 0, block of 8 repeated)
    # guarantees positives; a future regenerated corpus could add
    # ORGANIC repeats (short degenerate docs stay in the occurrence
    # band by design), so pin the planted subset, not exclusivity
    assert len(got) == 100, len(got)  # top-100 cap reached
    assert (got.longest_repeat_tokens >= 7).all()  # >= n+1 by 2-gram min
    planted = got[got.doc_id % 5 == 0]
    assert len(planted) > 0
    # the planted cycle length is the 8-token block (shorter docs can
    # produce a shorter period when the doc itself is < 8 tokens)
    assert (planted.min_period <= 8).all()
    assert planted.min_period.max() == 8
    assert (got.n_runs >= 1).all()
