"""Embedding compression and approximate nearest-neighbour quality:
product quantization (code histogram, asymmetric-distance top-k,
distortion, code collisions), PCA whitening, random-projection
distortion, and the recall of the LSH and IVF searches against the
exact brute-force top-k.

Queries whose answer depends on a fitted model or an eigensolve
(``q_pq_adc_knn``, ``q_embedding_whiten``, ``q_ann_recall_report``)
are checked rows-only; the others replay seeded codebooks and
projections in their DuckDB oracles."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from week4_musemotion_spark.functions.exact import int_div_trunc, ratio_e4
from week4_musemotion_spark.queries.extensions import EMBED_DUP_THRESHOLD, _COSINE_SQL_FRAG
from week4_musemotion_spark.queries.registry import query
from week4_musemotion_spark.sources.tables import load_table


@query("q_embedding_whiten", covers=("X-EMBED-WHITEN",), oracle=None)
def q_embedding_whiten(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA-whitened 8-component projection of the embedding corpus
    (``operators/linalg.pca_fit`` + ``pca_project(whiten=True)``) —
    the standard pre-conditioning step before SemDeDup / clustering /
    ANN when raw dimensions are correlated.  Rows-only like the ANNs:
    the d x d eigensolve is not SQL-expressible; the moment
    accumulation feeding it IS oracle-checked (q_embedding_gram) and
    the projection semantics are pinned against a full numpy
    recompute in tests/test_linalg.py.

    Output contract: the projection is emitted exploded to scalar
    columns ``(vec_id, comp_idx, proj_e6)`` — driver-facing results
    must be scalar-typed even under the rows-only check (the driver's
    canonicalizer pandas-sorts every column and cannot hash Python
    lists; this query's array<double> output was round 7's one red
    driver row)."""
    from week4_musemotion_spark.operators.linalg import pca_fit, pca_project

    emb = load_table(spark, sf_dir, "embeddings")
    model = pca_fit(emb, "embedding", k=8)
    proj = pca_project(emb, model, "embedding", out_col="proj", whiten=True)
    return proj.select(
        "vec_id",
        F.posexplode("proj").alias("comp_idx", "p"),
    ).select(
        "vec_id",
        F.col("comp_idx").cast("int").alias("comp_idx"),
        F.round(F.col("p") * F.lit(1000000.0)).cast("long").alias("proj_e6"),
    )


@query("q_ann_recall_report", covers=("X-ANN-RECALL",), oracle=None)
def q_ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality report: per query vector and method (hyperplane-
    LSH, one-shot IVF), the hit count against the EXACT brute-force
    top-3 and the recall in e4 fixed-point — the acceptance gate an
    ANN config must pass before it replaces exact search in a
    pipeline.  Rows-only like the ANNs themselves (bucket recall is
    not SQL-expressible), but run-to-run deterministic: hyperplanes
    derive from md5, IVF seeds by lowest ids, and the exact baseline
    breaks ties by neighbor id.

    Scale: all three searches share the broadcast-queries/Arrow-
    corpus plan; the report joins three tiny (n_queries x k) frames."""
    from week4_musemotion_spark.operators.similarity import (
        knn_brute_force,
        knn_ivf,
        knn_lsh,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    k = 3
    # pin: the exact baseline feeds FOUR branches (a semi join and a
    # spine per method) — unpinned, the brute-force scan re-executes
    # per branch (the q_winnow_recall lesson; see the verify skill)
    exact = (
        knn_brute_force(emb, queries, k=k)
        .select("query_id", "neighbor_id")
        .localCheckpoint(eager=False)
    )
    reports = []
    for method, res in (
        ("lsh", knn_lsh(emb, queries, k=k)),
        ("ivf", knn_ivf(emb, queries, k=k)),
    ):
        hits = (
            res.select("query_id", "neighbor_id")
            .join(exact, ["query_id", "neighbor_id"], "semi")
            .groupBy("query_id")
            .agg(F.count(F.lit(1)).cast("long").alias("n_hits"))
        )
        reports.append(
            exact.select("query_id")
            .distinct()
            .join(hits, "query_id", "left")
            .select(
                F.lit(method).alias("method"),
                "query_id",
                F.coalesce(F.col("n_hits"), F.lit(0).cast("long")).alias("n_hits"),
                ratio_e4(
                    F.coalesce(F.col("n_hits"), F.lit(0)).cast("long"), F.lit(k)
                ).alias("recall_e4"),
            )
        )
    out = reports[0]
    for r in reports[1:]:
        out = out.unionByName(r)
    return out


# ---------------------------------------------------------------------------
# Johnson-Lindenstrauss projection distortion audit
# ---------------------------------------------------------------------------

#: JL target-dim grid — NESTED prefixes of one projection at the grid
#: maximum (operators/linalg.rp_signs rows are seed-deterministic, so
#: the t=8 matrix is the first 8 rows of the t=32 one): ONE corpus
#: pass serves the whole grid via array slices.
_RP_GRID = (32, 16, 8)
_RP_IN_DIM = 64
_RP_SEED = 6


def _rp_cos_sql(a: str, b: str) -> str:
    """Guarded cosine over projected (DOUBLE) slices — same fold
    order as the Spark side's cosine_similarity, NULL on zero norm
    (DuckDB would otherwise emit IEEE inf where Spark guards)."""
    na = f"sqrt(list_sum(list_transform({a}, x -> x * x)))"
    nb = f"sqrt(list_sum(list_transform({b}, x -> x * x)))"
    d = (
        f"list_sum(list_transform(range(1, len({a}) + 1),"
        f" i -> {a}[i] * {b}[i]))"
    )
    return f"CASE WHEN {na} * {nb} > 0 THEN {d} / ({na} * {nb}) END"


def _rp_block_sql(t: int) -> str:
    ratio = (
        f"CAST(floor((list_sum(list_transform(y[1:{t}], v -> v * v))"
        f" / (CAST({t} AS DOUBLE) * nx2)) * 1000000 + 0.5) AS BIGINT)"
    )
    return f"""err_{t} AS (
        SELECT abs(CAST(floor(({_rp_cos_sql('sa', 'sb')}) * 1000000 + 0.5) AS BIGINT)
                   - cosine_e6) AS aerr
        FROM (SELECT ya[1:{t}] AS sa, yb[1:{t}] AS sb, cosine_e6 FROM pj)
    ),
    perr_{t} AS (
        SELECT CAST(count(*) AS BIGINT) AS n_pairs,
               CAST(COALESCE(CAST(sum(aerr) AS HUGEINT), 0)
                    // greatest(count(*), 1) AS BIGINT) AS mean_abs_err_e6,
               CAST(COALESCE(max(aerr), 0) AS BIGINT) AS max_abs_err_e6
        FROM err_{t}
    ),
    nr_{t} AS (
        SELECT CAST(count(*) AS BIGINT) AS n_vecs,
               CAST(CAST(sum(ratio_e6) AS HUGEINT) // count(*) AS BIGINT)
                   AS mean_norm_ratio_e6,
               CAST(min(ratio_e6) AS BIGINT) AS min_norm_ratio_e6,
               CAST(max(ratio_e6) AS BIGINT) AS max_norm_ratio_e6
        FROM (SELECT {ratio} AS ratio_e6 FROM proj WHERE nx2 > 0)
    ),
    block_{t} AS (
        SELECT CAST({t} AS BIGINT) AS t, p.n_pairs, p.mean_abs_err_e6,
               p.max_abs_err_e6, n.n_vecs, n.mean_norm_ratio_e6,
               n.min_norm_ratio_e6, n.max_norm_ratio_e6
        FROM perr_{t} p, nr_{t} n
    )"""


def _rp_oracle_sql() -> str:
    from week4_musemotion_spark.operators.linalg import rp_signs, rp_signs_sql

    signs = rp_signs(_RP_IN_DIM, max(_RP_GRID), _RP_SEED)
    blocks = ",\n    ".join(_rp_block_sql(t) for t in _RP_GRID)
    union = "\n    UNION ALL ".join(f"SELECT * FROM block_{t}" for t in _RP_GRID)
    return f"""
    WITH proj AS (
        SELECT vec_id,
               list_transform({rp_signs_sql(signs)},
                   row -> list_sum(list_transform(range(1, {_RP_IN_DIM + 1}),
                          i -> CAST(embedding[i] AS DOUBLE) * row[i]))) AS y,
               list_sum(list_transform(embedding,
                   x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS nx2
        FROM embeddings
    ),
    cosraw AS (
        SELECT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b,
               {_COSINE_SQL_FRAG.format(a="a.embedding", b="b.embedding")} AS cos
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    ),
    pe AS (
        SELECT vec_id_a, vec_id_b,
               CAST(floor(cos * 1000000 + 0.5) AS BIGINT) AS cosine_e6
        FROM cosraw WHERE cos >= {EMBED_DUP_THRESHOLD}
    ),
    pj AS (
        SELECT pe.cosine_e6, pa.y AS ya, pb.y AS yb
        FROM pe JOIN proj pa ON pa.vec_id = pe.vec_id_a
                JOIN proj pb ON pb.vec_id = pe.vec_id_b
    ),
    {blocks}
    {union}
    """


@query("q_rp_distortion", covers=("X-RP-DISTORTION",), oracle=_rp_oracle_sql())
def q_rp_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss projection distortion audit: ONE ±1
    sign projection (``operators/linalg.rp_project``, Achlioptas
    2003 / JL lemma) at the grid-max target dim, prefix-sliced to
    each candidate dim, scored two ways — (a) projected-vs-full
    cosine error over the exact near-dup pair set (the pairs a
    semantic dedup actually decides on) and (b) the per-vector norm
    preservation ratio |y_t|²/(t·|x|²), whose expectation is exactly
    1 under Rademacher signs.

    Answers, with data: "how far can I shrink the embedding dim
    before my dedup threshold starts misfiring?"  At 100 TB the
    projection is a pure codegen map (no shuffle, no Python) and
    every downstream cost — ANN scoring, LSH sketching, pair
    verification — scales by t/d; the grid costs one projection pass
    because the sign rows are nested (the fold-family one-pass
    contract, for dimensionality).  The oracle replays the sign
    matrix literal, every fold (left-to-right, bit-identical), the
    pair set, and the fixed-point encoding.
    """
    from week4_musemotion_spark.functions.vector import cosine_similarity
    from week4_musemotion_spark.operators.linalg import rp_project, rp_signs
    from week4_musemotion_spark.operators.similarity import cosine_e6, cosine_pairs

    emb = load_table(spark, sf_dir, "embeddings")
    signs = rp_signs(_RP_IN_DIM, max(_RP_GRID), _RP_SEED)
    nx2 = F.aggregate(
        F.transform("embedding", lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    # one projection pass serves the pair sides AND every grid dim —
    # pin it (lazy: each consumer is itself one narrow pass)
    proj = emb.select(
        "vec_id", rp_project("embedding", signs).alias("y"), nx2.alias("nx2")
    ).localCheckpoint(eager=False)
    # the near-dup pair set is tiny relative to the corpus — eager
    # pin, then hash-join the projected sides in
    # lazy: single consumer (pj) — materialized by the final job
    pairs = cosine_pairs(emb, EMBED_DUP_THRESHOLD).localCheckpoint(eager=False)
    pj = (
        pairs.join(
            proj.select(F.col("vec_id").alias("vec_id_a"), F.col("y").alias("ya")),
            "vec_id_a",
        )
        .join(
            proj.select(F.col("vec_id").alias("vec_id_b"), F.col("y").alias("yb")),
            "vec_id_b",
        )
        .select("cosine_e6", "ya", "yb")
        .localCheckpoint(eager=False)
    )
    # FUSED grid (optimization r12): the per-t formulation ran one
    # aggregation job over pj AND one over proj per grid dim — at 100
    # TB that is |grid| extra scans of the corpus-sized projection
    # checkpoint (and 2·|grid| AQE stages locally).  Every per-t
    # statistic is computed in ONE pass over each frame instead (same
    # expressions per t, byte-identical arithmetic), then the single
    # (1 x 8·|grid|)-column row is unpivoted driver-free via a
    # struct explode.  Oracle unchanged.
    perr_aggs, nr_aggs = [], []
    for t in _RP_GRID:
        aerr = F.abs(
            cosine_e6(cosine_similarity(F.slice("ya", 1, t), F.slice("yb", 1, t)))
            - F.col("cosine_e6")
        )
        perr_aggs += [
            int_div_trunc(
                F.coalesce(F.sum(aerr), F.lit(0)),
                F.greatest(F.count(F.lit(1)), F.lit(1)),
            ).alias(f"mean_abs_err_e6_{t}"),
            F.coalesce(F.max(aerr), F.lit(0)).cast("long").alias(f"max_abs_err_e6_{t}"),
        ]
        nyt = F.aggregate(
            F.transform(F.slice("y", 1, t), lambda v: v * v),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        ratio_e6 = cosine_e6(nyt / (F.lit(float(t)) * F.col("nx2")))
        nr_aggs += [
            int_div_trunc(F.sum(ratio_e6), F.count(F.lit(1))).alias(
                f"mean_norm_ratio_e6_{t}"
            ),
            F.min(ratio_e6).cast("long").alias(f"min_norm_ratio_e6_{t}"),
            F.max(ratio_e6).cast("long").alias(f"max_norm_ratio_e6_{t}"),
        ]
    perr = pj.agg(F.count(F.lit(1)).cast("long").alias("n_pairs"), *perr_aggs)
    nr = proj.filter(F.col("nx2") > 0).agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"), *nr_aggs
    )
    rows = F.array(
        *[
            F.struct(
                F.lit(t).cast("long").alias("t"),
                F.col("n_pairs"),
                F.col(f"mean_abs_err_e6_{t}").alias("mean_abs_err_e6"),
                F.col(f"max_abs_err_e6_{t}").alias("max_abs_err_e6"),
                F.col("n_vecs"),
                F.col(f"mean_norm_ratio_e6_{t}").alias("mean_norm_ratio_e6"),
                F.col(f"min_norm_ratio_e6_{t}").alias("min_norm_ratio_e6"),
                F.col(f"max_norm_ratio_e6_{t}").alias("max_norm_ratio_e6"),
            )
            for t in _RP_GRID
        ]
    )
    return (
        perr.crossJoin(nr)
        .select(F.explode(rows).alias("_r"))
        .select("_r.*")
    )


# ---------------------------------------------------------------------------
# Product quantization
# ---------------------------------------------------------------------------

#: PQ geometry for the 64-dim test embeddings: 4 subspaces x 16 dims,
#: 8 centroids each (32-bit codes).
_PQ_M, _PQ_K, _PQ_DSUB = 4, 8, 16


def _pq_seed_hist_sql() -> str:
    """DuckDB replay of the seed-codebook encode histogram: the
    centroid table is the k lowest-id vectors, distances are the
    sequential-fold float sums (list_sum over an ordered range — the
    same IEEE op sequence as the Spark expression's aggregate fold),
    and the argmin is the (dist, c) rank-1 row."""
    sq = (
        f"(CAST(e.embedding[g.j * {_PQ_DSUB} + i] AS DOUBLE)"
        f" - CAST(cent.embedding[g.j * {_PQ_DSUB} + i] AS DOUBLE))"
    )
    return f"""
    WITH cent AS (
        SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c, embedding
        FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT {_PQ_K})
    ),
    g AS (SELECT unnest(range(0, {_PQ_M})) AS j),
    d AS (
        SELECT e.vec_id, g.j, cent.c,
               list_sum(list_transform(range(1, {_PQ_DSUB + 1}), i -> {sq} * {sq})) AS dist
        FROM embeddings e CROSS JOIN g CROSS JOIN cent
    ),
    a AS (
        SELECT vec_id, j, c,
               row_number() OVER (PARTITION BY vec_id, j ORDER BY dist, c) AS rn
        FROM d
    )
    SELECT CAST(j AS INT) AS j, CAST(c AS INT) AS code,
           CAST(count(*) AS BIGINT) AS n_vecs
    FROM a WHERE rn = 1 GROUP BY 1, 2
    """


@query("q_pq_code_hist", covers=("X-PQ-CODES",), oracle=_pq_seed_hist_sql())
def q_pq_code_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization code-usage histogram under deterministic
    SEED codebooks (the k lowest-id vectors' subvectors): per
    (subspace, centroid), how many corpus vectors encode to it — the
    codebook-health table (a centroid with ~zero usage is wasted
    bits; one holding half the corpus means the subspace needs more
    centroids), here for the zero-training baseline every FITTED
    codebook must beat.  Fully value-oracled: the encode is lowered
    to Catalyst expressions with sequential-fold distances
    (``operators/pq.pq_encode_expr``), so the doubles — and therefore
    the argmin — replay bit-exactly in the DuckDB twin.

    Scale shape: one corpus scan, m×k distance expressions per row
    inside codegen, a (m × k)-row aggregate; the Lloyd-fitted
    production encode (numpy kernel, same argmin law) is
    q_pq_adc_knn's path and is pinned equal to this expression form
    on real data in tests/test_pq.py."""
    from week4_musemotion_spark.operators.pq import pq_encode_expr, seed_codebooks

    emb = load_table(spark, sf_dir, "embeddings")
    model = seed_codebooks(emb, m=_PQ_M, k=_PQ_K)
    return (
        pq_encode_expr(emb, model)
        .groupBy("j", "code")
        .agg(F.count(F.lit(1)).cast("long").alias("n_vecs"))
    )


@query("q_pq_adc_knn", covers=("X-PQ-ADC",), oracle=None)
def q_pq_adc_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ asymmetric-distance top-3 neighbors for the standard query
    set (vec_id < 5) under Lloyd-FITTED codebooks — the production
    memory-compressed ANN: 32-bit codes instead of 64 doubles per
    vector, distances by m table lookups.  Rows-only (k-means is not
    SQL-expressible); quality contracts live in tests/test_pq.py:
    fitted distortion must beat the seed baseline, and ADC recall@3
    against exact brute force is pinned.

    Scale shape: fit is m independent linear k-means runs (sample-
    fittable); encode one Arrow pass; search broadcasts (n_q × m × k)
    float tables and scans codes once — at 100 TB the codes table is
    ~250× smaller than the vectors it stands for."""
    from week4_musemotion_spark.operators.pq import adc_topk, pq_encode, pq_fit

    emb = load_table(spark, sf_dir, "embeddings")
    model = pq_fit(emb, m=_PQ_M, k=_PQ_K, iters=2)
    codes = pq_encode(emb, model)
    queries = emb.filter(F.col("vec_id") < 5)
    return adc_topk(codes, model, queries, k=3)


def _pq_seed_distortion_sql() -> str:
    """Per-subspace distortion totals under the seed codebooks: the
    min distance per (vector, subspace) is quantized to e6 PER ROW,
    so the per-subspace sum is an order-independent BIGINT."""
    sq = (
        f"(CAST(e.embedding[g.j * {_PQ_DSUB} + i] AS DOUBLE)"
        f" - CAST(cent.embedding[g.j * {_PQ_DSUB} + i] AS DOUBLE))"
    )
    return f"""
    WITH cent AS (
        SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c, embedding
        FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT {_PQ_K})
    ),
    g AS (SELECT unnest(range(0, {_PQ_M})) AS j),
    d AS (
        SELECT e.vec_id, g.j,
               min(list_sum(list_transform(range(1, {_PQ_DSUB + 1}), i -> {sq} * {sq}))) AS best
        FROM embeddings e CROSS JOIN g CROSS JOIN cent
        GROUP BY 1, 2
    )
    SELECT CAST(j AS INT) AS j,
           CAST(count(*) AS BIGINT) AS n_vecs,
           CAST(sum(CAST(floor(best * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS err_e6_total
    FROM d GROUP BY 1
    """


@query("q_pq_distortion", covers=("X-PQ-DISTORTION",), oracle=_pq_seed_distortion_sql())
def q_pq_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-subspace PQ reconstruction-error totals under the seed
    codebooks — the codebook-quality table (a subspace with an
    outsized error total needs more centroids or a rotation), here
    for the zero-training baseline so the number is value-oracled:
    each vector's min squared distance is quantized to an e6 integer
    PER ROW before summation, making the aggregate partition-order-
    independent on both engines.  The Lloyd-fitted model's distortion
    must land BELOW these totals (tests/test_pq.py pins it).

    Scale shape: identical to q_pq_code_hist — one scan, m×k fold
    expressions in codegen, an m-row aggregate."""
    from week4_musemotion_spark.operators.pq import pq_distortion_expr, seed_codebooks

    emb = load_table(spark, sf_dir, "embeddings")
    model = seed_codebooks(emb, m=_PQ_M, k=_PQ_K)
    return (
        pq_distortion_expr(emb, model)
        .groupBy("j")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vecs"),
            F.sum("err_e6").cast("long").alias("err_e6_total"),
        )
    )


@query(
    "q_pq_collisions",
    covers=("X-PQ-BLOCKING",),
    oracle=f"""
    WITH cent AS (
        SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c, embedding
        FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT {_PQ_K})
    ),
    g AS (SELECT unnest(range(0, {_PQ_M})) AS j),
    d AS (
        SELECT e.vec_id, g.j, cent.c,
               list_sum(list_transform(range(1, {_PQ_DSUB + 1}),
                   i -> (CAST(e.embedding[g.j * {_PQ_DSUB} + i] AS DOUBLE)
                         - CAST(cent.embedding[g.j * {_PQ_DSUB} + i] AS DOUBLE))
                      * (CAST(e.embedding[g.j * {_PQ_DSUB} + i] AS DOUBLE)
                         - CAST(cent.embedding[g.j * {_PQ_DSUB} + i] AS DOUBLE)))) AS dist
        FROM embeddings e CROSS JOIN g CROSS JOIN cent
    ),
    a AS (
        SELECT vec_id, j, c,
               row_number() OVER (PARTITION BY vec_id, j ORDER BY dist, c) AS rn
        FROM d
    ),
    sig AS (
        SELECT vec_id, string_agg(CAST(c AS VARCHAR), ':' ORDER BY j) AS code_key
        FROM a WHERE rn = 1 GROUP BY vec_id
    ),
    grp AS (SELECT code_key, count(*) AS gsize FROM sig GROUP BY 1)
    SELECT CAST(gsize AS BIGINT) AS group_size,
           CAST(count(*) AS BIGINT) AS n_groups,
           CAST(sum(gsize) AS BIGINT) AS n_vecs,
           CAST(sum(CAST(gsize AS HUGEINT) * (gsize - 1) / 2) AS BIGINT) AS n_pairs
    FROM grp GROUP BY gsize
    """,
)
def q_pq_collisions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-code collision blocking — the coarse semantic-dedup /
    candidate-generation move: vectors sharing ALL m codes land in
    one block, and only within-block pairs ever reach exact
    verification (the same blocking role MinHash bands play for
    text).  This table is the BLOCK SIZE distribution: n_pairs per
    size is the exact verification bill, and a giant block says the
    codebook is too coarse for blocking (add centroids or
    subspaces).  Fully value-oracled under the seed codebooks — the
    code key replays bit-exactly via the expression encode.

    Scale shape: encode (one scan, codegen) → hash aggregate on the
    m-code key → a |distinct sizes|-row distribution; never a pair
    materialization."""
    from week4_musemotion_spark.operators.pq import pq_encode_expr, seed_codebooks

    emb = load_table(spark, sf_dir, "embeddings")
    model = seed_codebooks(emb, m=_PQ_M, k=_PQ_K)
    sig = (
        pq_encode_expr(emb, model)
        .groupBy("vec_id")
        .agg(
            F.concat_ws(
                ":", F.transform(F.array_sort(F.collect_list(F.struct("j", "code"))), lambda s: s["code"].cast("string"))
            ).alias("code_key")
        )
    )
    grp = sig.groupBy("code_key").agg(F.count(F.lit(1)).alias("gsize"))
    from week4_musemotion_spark.functions.exact import dec

    return grp.groupBy(F.col("gsize").cast("long").alias("group_size")).agg(
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.sum("gsize").cast("long").alias("n_vecs"),
        F.sum(dec(F.col("gsize")) * (F.col("gsize") - 1) / 2).cast("long").alias("n_pairs"),
    )
