"""Retrieval ranking: exact fixed-point BM25 top-k, rank-biased overlap
between the BM25 and tf-idf rankings, and nDCG@20 of the BM25
ranking against a graded relevance oracle.  Every score is an
integer evaluated in the same order on both engines, so the DuckDB
oracles replay the rankings bit for bit."""

from __future__ import annotations

import math
from decimal import Decimal
from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from week4_musemotion_spark.functions.exact import dec, int_div_trunc
from week4_musemotion_spark.queries.registry import REGISTRY, query
from week4_musemotion_spark.sources.tables import load_table


# ---------------------------------------------------------------------------
# BM25 retrieval, exact fixed-point integers
# ---------------------------------------------------------------------------

#: BM25 constants in thousandths: k1 = 1.2, b = 0.75 — the standard
#: defaults, carried as integers so both engines evaluate identical
#: truncating divisions.
_BM25_K1_E3 = 1200
_BM25_B_E3 = 750
_BM25_TOPK = 20
_BM25_TERMS = ("dup", "join", "scan")
_BM25_TERMS_SQL = ", ".join(f"'{t}'" for t in _BM25_TERMS)


@query(
    "q_bm25_topk",
    covers=("X-BM25",),
    oracle=f"""
    WITH tok AS (
        SELECT doc_id,
               list_filter(string_split_regex(text, '\\s+'), w -> w != '') AS ts
        FROM documents
    ),
    dl AS (SELECT doc_id, len(ts) AS dl FROM tok),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(sum(len(ts)) AS BIGINT) AS total_tokens
          FROM tok),
    hits AS (SELECT doc_id, unnest(ts) AS term FROM tok),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM hits
           WHERE term IN ({_BM25_TERMS_SQL}) GROUP BY 1, 2),
    dfq AS (SELECT term, count(DISTINCT doc_id) AS df FROM hits
            WHERE term IN ({_BM25_TERMS_SQL}) GROUP BY term),
    scored AS (
        SELECT tf.doc_id, tf.term,
               -- HUGEINT: mirrors the Spark side's dec() widening so
               -- idf*tf*(k1+1) cannot overflow BIGINT at scale
               CAST((n.n_docs * 1000) // dfq.df AS HUGEINT) AS idf_int,
               (dl.dl * 1000 * n.n_docs) // n.total_tokens AS r_e3,
               tf.tf
        FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id) CROSS JOIN n
    ),
    contrib AS (
        SELECT doc_id,
               (idf_int * tf * ({_BM25_K1_E3} + 1000))
                 // (tf * 1000
                     + ({_BM25_K1_E3} * (1000 - {_BM25_B_E3}
                                         + ({_BM25_B_E3} * r_e3) // 1000)) // 1000)
                   AS c
        FROM scored
    )
    SELECT doc_id, CAST(sum(c) AS BIGINT) AS score,
           CAST(count(*) AS BIGINT) AS n_terms_hit
    FROM contrib GROUP BY doc_id
    ORDER BY score DESC, doc_id LIMIT {_BM25_TOPK}
    """,
)
def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-{_BM25_TOPK} retrieval in exact fixed-point integers:
    per (doc, term) contribution ``idf · tf·(k1+1) / (tf + k1·(1 − b
    + b·dl/avgdl))`` with k1 = 1.2, b = 0.75, every ratio carried in
    thousandths and every division truncating — both engines evaluate
    the identical nested integer expression, so the ranking (and the
    scores themselves) replay bit-for-bit.  This is the saturation +
    length-normalization upgrade over q_doc_search's raw tf·idf: a
    200-hit spam doc no longer drowns a 3-hit short doc (tf
    saturates at ~k1+1), and long documents pay their length.

    The idf is q_doc_search's integer rarity weight ``(N·1000) div
    df`` — log-free on purpose (libm log differs in the last ulp
    across engines; the integer weight is monotone in the same
    order).  Plan: term filter lands before the tf aggregate (only
    matching tokens shuffle), df/doclen/corpus stats broadcast back,
    top-k via TakeOrderedAndProject; the token stream never
    materializes beyond the scan stage."""
    from week4_musemotion_spark.functions.text import tokens

    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", tokens("text").alias("ts"))
    dl = tok.select("doc_id", F.size("ts").cast("long").alias("dl"))
    n = tok.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.size("ts")).cast("long").alias("total_tokens"),
    )
    hits = tok.select("doc_id", F.explode("ts").alias("term")).filter(
        F.col("term").isin(*_BM25_TERMS)
    )
    tf = hits.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfq = hits.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    scored = (
        tf.join(F.broadcast(dfq), "term")
        .join(dl, "doc_id")
        .join(F.broadcast(n))
        .select(
            "doc_id",
            int_div_trunc(F.col("n_docs") * 1000, F.col("df")).alias("idf_int"),
            int_div_trunc(
                F.col("dl") * 1000 * F.col("n_docs"), F.col("total_tokens")
            ).alias("r_e3"),
            "tf",
        )
    )
    norm_e3 = F.lit(1000 - _BM25_B_E3) + int_div_trunc(
        F.lit(_BM25_B_E3) * F.col("r_e3"), F.lit(1000)
    )
    denom_e3 = F.col("tf") * 1000 + int_div_trunc(F.lit(_BM25_K1_E3) * norm_e3, F.lit(1000))
    contrib = scored.select(
        "doc_id",
        int_div_trunc(
            dec(F.col("idf_int")) * F.col("tf") * (_BM25_K1_E3 + 1000), denom_e3
        ).alias("c"),
    )
    return (
        contrib.groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("score"),
            F.count(F.lit(1)).cast("long").alias("n_terms_hit"),
        )
        .orderBy(F.desc("score"), "doc_id")
        .limit(_BM25_TOPK)
    )

# ---------------------------------------------------------------------------
# Rank-biased overlap, exact integers
# ---------------------------------------------------------------------------

#: RBO depth and persistence: top-20 lists, p = 9/10 (the paper's
#: "a reader scans ~10 results" setting).
_RBO_K = 20
_RBO_P_NUM, _RBO_P_DEN = 9, 10


def _rbo_coeffs() -> tuple[list[int], int]:
    """Exact integer expansion of (1−p)·p^(d−1)/d for d = 1..K over
    the common denominator D = 10^K · lcm(1..K): RBO_min =
    Σ num_d · X_d / D where X_d is the overlap of the two depth-d
    prefixes.  Pure Python big-int arithmetic; the largest
    intermediate (Σ num_d · X_d · 10^6 ≈ 2·10^35) sits inside both
    decimal(38,0) and HUGEINT."""
    lcm = reduce(lambda a, b: a * b // math.gcd(a, b), range(1, _RBO_K + 1), 1)
    d_total = _RBO_P_DEN**_RBO_K * lcm
    nums = [
        (_RBO_P_DEN - _RBO_P_NUM)
        * _RBO_P_NUM ** (d - 1)
        * _RBO_P_DEN ** (_RBO_K - d)
        * (lcm // d)
        for d in range(1, _RBO_K + 1)
    ]
    return nums, d_total


_RBO_NUMS, _RBO_D = _rbo_coeffs()
#: SQL CASE mapping depth → exact coefficient (the SAME integer list
#: renders the Spark expression, so the two engines cannot drift).
_RBO_COEF_SQL = "CASE d " + " ".join(
    f"WHEN {d} THEN CAST('{n}' AS HUGEINT)" for d, n in enumerate(_RBO_NUMS, 1)
) + " END"


def _ranked_oracle(name: str) -> str:
    """Wrap a registered top-k oracle (ordered SELECT) with a
    row_number rank — deliberately NOT dense_rank: ties must map to
    DISTINCT depths or a depth-d prefix would hold more than d docs
    and overcount X_d past the RBO ceiling.  Nested WITH keeps the
    wrapped oracle's CTE names scoped."""
    return f"""SELECT doc_id,
               row_number() OVER (ORDER BY score DESC, doc_id) AS rnk
        FROM ({REGISTRY[name].oracle})"""


@query(
    "q_rank_overlap_rbo",
    covers=("X-RBO",),
    oracle=f"""
    WITH a AS ({_ranked_oracle("q_bm25_topk")}),
    b AS ({_ranked_oracle("q_doc_search")}),
    c AS (SELECT greatest(a.rnk, b.rnk) AS m FROM a JOIN b USING (doc_id)),
    g AS (SELECT unnest(range(1, {_RBO_K + 1})) AS d),
    x AS (
        SELECT g.d, count(c.m) AS xd
        FROM g LEFT JOIN c ON c.m <= g.d
        GROUP BY g.d
    ),
    s AS (SELECT sum({_RBO_COEF_SQL} * xd) AS num,
                 max(CASE WHEN d = {_RBO_K} THEN xd END) AS overlap_k
          FROM x)
    SELECT CAST((SELECT count(*) FROM a) AS BIGINT) AS n_bm25,
           CAST((SELECT count(*) FROM b) AS BIGINT) AS n_tfidf,
           CAST(overlap_k AS BIGINT) AS overlap_topk,
           CAST(coalesce(num, 0) * 1000000 // CAST('{_RBO_D}' AS HUGEINT) AS BIGINT)
               AS rbo_min_ppm
    FROM s
    """,
)
def q_rank_overlap_rbo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-biased overlap between BM25 and tf·idf top-20
    retrieval (p = 0.9, RBO_min over truncated lists): head-weighted
    agreement — swapping ranks 1 and 2 moves it far more than
    swapping 19 and 20, which plain overlap@k cannot see.  The
    geometric weights are pre-expanded to ONE integer coefficient
    table (Python big-ints over a common denominator) rendered into
    both engines, so the statistic is exact — no float powers, no
    engine log/pow.

    This is the regression monitor for retrieval changes: a scorer
    tweak that preserves the set but reshuffles the head shows up
    here first (identical rankings score 1−p^K ≈ 878 423 ppm — the
    truncated-RBO ceiling, NOT 10^6; the docstring number IS the
    sanity bound).

    Plan: both rankings are top-k TakeOrderedAndProject pipelines;
    the comparison is a ≤k×k join plus a 20-row grid —
    driver-free and constant-size beyond the two retrieval scans."""
    from week4_musemotion_spark.queries.pipeline_ops import q_doc_search

    # unpartitioned window = single partition by design: it ranks a
    # LIMIT-20 subtree (Spark's WindowExec warning is about unbounded
    # inputs; this one is constant-size at any corpus scale)
    wr = Window.orderBy(F.desc("score"), "doc_id")
    a = q_bm25_topk(spark, sf_dir).select("doc_id", F.row_number().over(wr).alias("ra"))
    b = q_doc_search(spark, sf_dir).select("doc_id", F.row_number().over(wr).alias("rb"))
    # ONE full-outer merge feeds both the prefix-overlap branch and
    # the list-size counts; localCheckpoint pins the <= 2k rows so
    # neither branch re-executes a retrieval pipeline (branch-reuse,
    # SCALING.md) — the query costs exactly two retrieval scans
    merged = a.join(b, "doc_id", "full_outer").select("ra", "rb").localCheckpoint(
        eager=False
    )
    c = merged.filter(F.col("ra").isNotNull() & F.col("rb").isNotNull()).select(
        F.greatest("ra", "rb").alias("m")
    )
    grid = spark.range(1, _RBO_K + 1).select(F.col("id").cast("int").alias("d"))
    x = (
        grid.join(c, c["m"] <= grid["d"], "left")
        .groupBy("d")
        .agg(F.count("m").alias("xd"))
    )
    coef = None
    for d, n in enumerate(_RBO_NUMS, 1):
        lit = F.lit(Decimal(n))
        coef = F.when(F.col("d") == d, lit) if coef is None else coef.when(F.col("d") == d, lit)
    s = x.agg(
        F.coalesce(F.sum(dec(coef) * F.col("xd")), F.lit(0)).alias("num"),
        F.max(F.when(F.col("d") == _RBO_K, F.col("xd"))).alias("overlap_k"),
    )
    counts = merged.agg(
        F.count("ra").alias("n_bm25"), F.count("rb").alias("n_tfidf")
    )
    return (
        s.crossJoin(counts)  # 1-row × 1-row
        .select(
            F.col("n_bm25").cast("long"),
            F.col("n_tfidf").cast("long"),
            F.col("overlap_k").cast("long").alias("overlap_topk"),
            int_div_trunc(dec(F.col("num")) * 1_000_000, F.lit(Decimal(_RBO_D))).alias(
                "rbo_min_ppm"
            ),
        )
    )

#: Evaluation depth and the e9 discount table w_i = round(1e9 /
#: log2(i+1)), i = 1..K — Python-precomputed ONCE and rendered into
#: both engines, so no libm log ever runs engine-side (last-ulp log
#: differences are exactly the class of divergence the integer
#: discipline exists to avoid).
_NDCG_K = 20
_NDCG_W = tuple(round(1_000_000_000 / math.log2(i + 1)) for i in range(1, _NDCG_K + 1))


@query(
    "q_ndcg_eval",
    covers=("X-NDCG",),
    oracle=f"""
    WITH r AS ({_ranked_oracle("q_bm25_topk")}),
    tok2 AS (
        SELECT doc_id, unnest(list_filter(string_split_regex(text, '\\s+'), w -> w != '')) AS term
        FROM documents
    ),
    rel AS (
        SELECT doc_id, CAST(count(DISTINCT term) AS BIGINT) AS rel
        FROM tok2 WHERE term IN ({_BM25_TERMS_SQL}) GROUP BY doc_id
    ),
    w AS (SELECT unnest(range(1, {_NDCG_K + 1})) AS rnk,
                 unnest([{", ".join(map(str, _NDCG_W))}]) AS w),
    dcg AS (
        SELECT sum(COALESCE(rel.rel, 0) * w.w) AS dcg
        FROM r JOIN w ON w.rnk = r.rnk LEFT JOIN rel ON rel.doc_id = r.doc_id
    ),
    ideal AS (
        SELECT rel, row_number() OVER (ORDER BY rel DESC, doc_id) AS rnk FROM rel
    ),
    idcg AS (SELECT sum(rel * w.w) AS idcg FROM ideal JOIN w ON w.rnk = ideal.rnk)
    SELECT CAST({_NDCG_K} AS BIGINT) AS k,
           CAST(dcg.dcg AS BIGINT) AS dcg_e9,
           CAST(idcg.idcg AS BIGINT) AS idcg_e9,
           CAST(CASE WHEN idcg.idcg > 0
                     THEN CAST(dcg.dcg AS HUGEINT) * 1000000 // idcg.idcg END AS BIGINT)
               AS ndcg_e6
    FROM dcg CROSS JOIN idcg
    """,
)
def q_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nDCG@20 of the engine's BM25 ranking, exact to the e6 digit:
    graded relevance = distinct query terms contained (0..3 — crude
    but DETERMINISTIC, which is what an engine-eval needs; swap in
    human labels at will), discounts from the precomputed e9 table,
    ideal ranking = corpus docs by (rel desc, doc_id).  The ranking
    under evaluation is the REGISTERED q_bm25_topk — builder on the
    Spark side, its oracle wrapped as a CTE on the DuckDB side — so
    the eval can never drift from the thing it evaluates.

    Scale shape: the ranking is top-k (tiny); relevance is one
    term-filtered aggregate (only matching tokens shuffle, same
    prune as BM25 itself); the ideal ranking sorts |rel>0 docs| ≤
    df(terms) rows.  Everything after the scans is joins of ≤ k-row
    and ≤ df-row frames."""
    from week4_musemotion_spark.functions.text import tokens

    bm = REGISTRY["q_bm25_topk"].builder(spark, sf_dir)
    r = bm.select(
        "doc_id",
        F.row_number().over(Window.orderBy(F.desc("score"), "doc_id")).alias("rnk"),
    )
    d = load_table(spark, sf_dir, "documents")
    rel = (
        d.select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
        .filter(F.col("term").isin(*_BM25_TERMS))
        .groupBy("doc_id")
        .agg(F.countDistinct("term").cast("long").alias("rel"))
    ).localCheckpoint(eager=False)  # feeds DCG and the ideal ranking
    wtab = spark.createDataFrame(
        [(i + 1, w) for i, w in enumerate(_NDCG_W)], "rnk int, w long"
    )
    dcg = (
        r.join(F.broadcast(wtab), "rnk")
        .join(rel, "doc_id", "left")
        .agg(F.sum(F.coalesce(F.col("rel"), F.lit(0)) * F.col("w")).alias("dcg"))
    )
    # Only ranks 1..K carry nonzero nDCG weight (the wtab join drops
    # the rest), so take the top K FIRST — orderBy().limit() compiles
    # to a distributed TakeOrderedAndProject, leaving the one
    # single-partition row_number frame constant-size (K rows) at any
    # corpus scale instead of df(terms)-dependent.
    ideal = (
        rel.orderBy(F.desc("rel"), "doc_id")
        .limit(_NDCG_K)
        .select(
            "rel",
            F.row_number().over(Window.orderBy(F.desc("rel"), "doc_id")).alias("rnk"),
        )
    )
    idcg = ideal.join(F.broadcast(wtab), "rnk").agg(
        F.sum(F.col("rel") * F.col("w")).alias("idcg")
    )
    return (
        dcg.crossJoin(idcg)
        .select(
            F.lit(_NDCG_K).cast("long").alias("k"),
            F.col("dcg").cast("long").alias("dcg_e9"),
            F.col("idcg").cast("long").alias("idcg_e9"),
            F.when(
                F.col("idcg") > 0,
                int_div_trunc(dec(F.col("dcg")) * 1_000_000, F.col("idcg")),
            ).alias("ndcg_e6"),
        )
    )
