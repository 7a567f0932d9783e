"""Spark-vs-DuckDB differentials at sf0.001 and semantic invariants
for the retrieval-ranking queries (``queries/ranking.py``)."""

from __future__ import annotations

from tests.conftest import oracle_diff


#: truncated-RBO ceiling for identical top-20 lists at p=0.9:
#: 1 - 0.9^20 in ppm (exact bound, see _rbo_coeffs)
_RBO_CEIL_PPM = 878_423


def test_bm25_topk_matches_oracle(spark):
    got = oracle_diff(spark, "q_bm25_topk")
    assert 0 < len(got) <= 20
    assert (got.n_terms_hit >= 1).all() and (got.n_terms_hit <= 3).all()
    # scores strictly positive and sorted desc (doc_id tie-break)
    assert (got.score > 0).all()
    assert (got.score.diff().dropna() <= 0).all()


def test_bm25_saturates_vs_tfidf(spark):
    # the reason BM25 exists: per-term contribution saturates near
    # idf*(k1+1) instead of growing linearly with tf.  Verify on the
    # oracle scores: max score <= sum over terms of idf*(k1+1) (e3).
    # n_docs here matches the query's own count(*) over documents
    # (NOT distinct doc_ids of the token stream — zero-token docs
    # would silently shrink that and understate the cap).
    from tests.conftest import duckdb_oracle

    from week4_musemotion_spark.queries import ranking
    from week4_musemotion_spark.queries.registry import REGISTRY

    top = duckdb_oracle(REGISTRY["q_bm25_topk"].oracle)
    idf = duckdb_oracle(
        f"""
        WITH tok AS (SELECT doc_id, unnest(list_filter(string_split_regex(text, '\\s+'), w -> w != '')) AS term
                     FROM documents),
        n AS (SELECT count(*) AS nd FROM documents)
        SELECT term, (SELECT nd FROM n) * 1000 // count(DISTINCT doc_id) AS idf
        FROM tok WHERE term IN ({ranking._BM25_TERMS_SQL}) GROUP BY term
        """
    )
    cap = int(idf.idf.sum()) * (ranking._BM25_K1_E3 + 1000) // 1000
    assert (top.score <= cap).all(), (top.score.max(), cap)


def test_rank_overlap_rbo_matches_oracle(spark):
    got = oracle_diff(spark, "q_rank_overlap_rbo")
    r = got.iloc[0]
    assert r.n_bm25 <= 20 and r.n_tfidf <= 20
    assert r.overlap_topk <= min(r.n_bm25, r.n_tfidf)
    # RBO is bounded by the truncated ceiling and positive when the
    # rankings overlap at all (both scorers share the idf core, so
    # they must agree substantially)
    assert 0 < r.rbo_min_ppm <= _RBO_CEIL_PPM, r.rbo_min_ppm
    assert r.overlap_topk > 0


def test_rbo_coefficients_are_exact():
    # the integer table must reproduce the closed forms exactly:
    # sum(num_d * d) / D == 1 - p^K (identical rankings), and each
    # coefficient equals (1-p) p^(d-1)/d over the common denominator
    from fractions import Fraction

    from week4_musemotion_spark.queries.ranking import (
        _RBO_D,
        _RBO_K,
        _RBO_NUMS,
    )

    p = Fraction(9, 10)
    for d, n in enumerate(_RBO_NUMS, 1):
        assert Fraction(n, _RBO_D) == (1 - p) * p ** (d - 1) / d, d
    ident = sum(Fraction(n * d, _RBO_D) for d, n in enumerate(_RBO_NUMS, 1))
    assert ident == 1 - p**_RBO_K
    assert _RBO_CEIL_PPM == (ident * 1_000_000).__floor__()


def test_ndcg_eval_matches_oracle_and_bounds(spark):
    got = oracle_diff(spark, "q_ndcg_eval")
    r = got.iloc[0]
    assert r.k == 20
    # nDCG in (0, 1e6]; BM25 ranks by the same terms relevance
    # grades on, so the score must land in the strong half
    assert 0 < r.dcg_e9 <= r.idcg_e9
    assert 500_000 < r.ndcg_e6 <= 1_000_000, r.ndcg_e6


def test_ndcg_discount_table_is_the_log2_rounding():
    import math

    from week4_musemotion_spark.queries.ranking import _NDCG_K, _NDCG_W

    assert len(_NDCG_W) == _NDCG_K
    for i, w in enumerate(_NDCG_W, start=1):
        assert w == round(1_000_000_000 / math.log2(i + 1))
    assert all(a >= b for a, b in zip(_NDCG_W, _NDCG_W[1:]))  # monotone discounts
    assert _NDCG_W[0] == 1_000_000_000  # rank 1: no discount
