"""Semantic-similarity curation queries: incremental near-dup ingest,
SemDeDup-style cluster dedup, and source-centroid drift.

These extend the dedup/similarity families toward the operations a
continuously-ingesting training corpus runs nightly: only-the-new-
batch near-dup checks, embedding-space dedup inside coarse clusters,
and distribution drift between sources measured in embedding space.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from week4_musemotion_spark.queries.extensions import (
    _COSINE_SQL_FRAG,
    _closure_ctes,
    _jaccard_ctes,
    EMBED_DUP_THRESHOLD,
    JACCARD_THRESHOLD,
)
from week4_musemotion_spark.queries.registry import query
from week4_musemotion_spark.sources.tables import load_table

#: Number of coarse clusters for the SemDeDup pass (the k lowest
#: vec_ids seed the centroids — deterministic, no RNG k-means here;
#: operators/similarity.kmeans_fit provides the trained variant).
_SEM_K = 8


@query(
    "q_neardup_incremental",
    covers=("X-DEDUP-NEARDUP-INC",),
    oracle=f"""
    WITH {_jaccard_ctes(JACCARD_THRESHOLD)}
    SELECT doc_a, doc_b,
           CAST((2 * i * 10000 + (na + nb - i)) // (2 * (na + nb - i)) AS BIGINT)
               AS jaccard_e4
    FROM pairs
    WHERE (doc_a % 10 = 0) != (doc_b % 10 = 0)
    """,
)
def q_neardup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental NEAR-dup ingest gate: the day's batch (doc_id ≡ 0
    mod 10) is LSH-checked against the settled corpus (the rest) —
    candidates are generated only batch-side × corpus-side, so cost
    tracks the batch, not the corpus's internal pair density (the
    exact-dedup twin is q_dedup_incremental).  MinHash signatures +
    banded join + exact-Jaccard verification; the oracle is the
    brute-force cross-partition Jaccard, equal because verification
    removes LSH false positives and the banding margin (≈1-2e-6 miss
    at s=0.9) makes false negatives vanish.  Output orientation is
    normalized (doc_a = min id) to match the symmetric oracle."""
    from week4_musemotion_spark.operators.dedup import minhash_lsh_join

    d = load_table(spark, sf_dir, "documents")
    batch = d.filter(F.col("doc_id") % 10 == 0)
    corpus = d.filter(F.col("doc_id") % 10 != 0)
    out = minhash_lsh_join(batch, corpus, JACCARD_THRESHOLD)
    return out.select(
        F.least("doc_a", "doc_b").alias("doc_a"),
        F.greatest("doc_a", "doc_b").alias("doc_b"),
        "jaccard_e4",
    )


def _dot(a, b):
    """Sequential left-to-right float64 dot product of two array
    columns — the fold order DuckDB's list_sum replays, so identical
    inputs give bit-identical doubles."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


@query(
    "q_semantic_dedup",
    covers=("X-DEDUP-SEMANTIC",),
    oracle=f"""
    WITH cent AS (
        SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cidx, embedding AS cvec
        FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT {_SEM_K})
    ),
    scored AS (
        SELECT e.vec_id, e.embedding, c.cidx,
               {_COSINE_SQL_FRAG.format(a="e.embedding", b="c.cvec")} AS cos
        FROM embeddings e CROSS JOIN cent c
    ),
    assigned AS (
        SELECT vec_id, embedding, cidx AS cluster
        FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                           ORDER BY cos DESC, cidx ASC) AS rk
              FROM scored)
        WHERE rk = 1
    ),
    dup AS (
        SELECT DISTINCT b.vec_id
        FROM assigned a JOIN assigned b
          ON a.cluster = b.cluster AND a.vec_id < b.vec_id
        WHERE {_COSINE_SQL_FRAG.format(a="a.embedding", b="b.embedding")}
              >= {EMBED_DUP_THRESHOLD}
    )
    SELECT a.vec_id, CAST(a.cluster AS BIGINT) AS cluster,
           CAST(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS INTEGER) AS keep
    FROM assigned a LEFT JOIN dup d ON a.vec_id = d.vec_id
    """,
)
def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style embedding dedup: vectors are assigned to their
    nearest of k=8 deterministic coarse centroids (the k lowest
    vec_ids — the oracle-checkable stand-in for a trained k-means
    quantizer, see operators/similarity.kmeans_fit), then a vector is
    dropped when a LOWER-id vector in the SAME cluster has cosine ≥
    0.45 — pairwise work is confined to clusters, never global.

    Scale shape: the k×dim centroid table is a broadcast literal;
    assignment is per-row expression work (k sequential-fold dot
    products in codegen); the within-cluster pair join shuffles on
    the cluster id, and with k ∝ n (fixed expected cluster size, as
    SemDeDup prescribes) the pair stage is linear in n.  Keeps the
    earliest representative per semantic neighborhood; emits every
    vector with its cluster and keep/drop verdict so the decision
    itself is hash-audited."""
    emb = load_table(spark, sf_dir, "embeddings")
    return _sem_dedup_plan(emb, _SEM_K)


def _sem_dedup_plan(emb: DataFrame, k: int) -> DataFrame:
    """The deterministic (lowest-id-seeded, sequential-fold cosine)
    SemDeDup plan for a given centroid count — shared by the fixed-k
    oracle form and the k ∝ n scaled form."""
    # NOTE(optimization r12): spread(emb) was A/B'd here 4-ways
    # (pin/spread cross) and measured neutral-to-slightly-negative —
    # the broadcast crossJoin's scoring cost is already dominated by
    # the post-window self-join, so the extra exchange buys nothing.
    # Reverted per the round-11 "don't keep a shuffle that doesn't
    # win" discipline; the 3-consumer pin below is kept.
    norm = lambda c: F.sqrt(_dot(c, c))  # noqa: E731
    # norms are computed ONCE per vector (and once per centroid), not
    # inside the pair join: the array-lambda fold is interpreted (not
    # codegen), and recomputing two 64-step norm folds per candidate
    # pair tripled the pair stage's cost (12.4s -> ~4s at sf0.1).
    # Precomputation changes when sqrt(sum(x^2)) runs, not its value,
    # so oracle parity is untouched.
    embn = emb.withColumn("_nrm", norm(F.col("embedding")))
    cent = (
        embn.orderBy("vec_id")
        .limit(k)
        .select(
            (F.row_number().over(Window.orderBy("vec_id")) - 1).alias("cidx"),
            F.col("embedding").alias("cvec"),
            F.col("_nrm").alias("_cnrm"),
        )
    )
    scored = embn.crossJoin(F.broadcast(cent)).select(
        "vec_id",
        "embedding",
        "_nrm",
        "cidx",
        (_dot(F.col("embedding"), F.col("cvec")) / (F.col("_nrm") * F.col("_cnrm"))).alias("cos"),
    )
    rk = F.row_number().over(Window.partitionBy("vec_id").orderBy(F.col("cos").desc(), F.col("cidx").asc()))
    assigned = (
        scored.withColumn("rk", rk)
        .filter(F.col("rk") == 1)
        .select(
            "vec_id", "embedding", "_nrm", F.col("cidx").cast("long").alias("cluster")
        )
        # pinned: feeds both pair-join sides AND the final left join —
        # unpinned, the k-fold scoring + window rerun per branch
        .localCheckpoint(eager=False)
    )
    a, b = assigned.alias("a"), assigned.alias("b")
    pair_cos = _dot(F.col("a.embedding"), F.col("b.embedding")) / (
        F.col("a._nrm") * F.col("b._nrm")
    )
    dup = (
        a.join(b, (F.col("a.cluster") == F.col("b.cluster")) & (F.col("a.vec_id") < F.col("b.vec_id")))
        .filter(pair_cos >= EMBED_DUP_THRESHOLD)
        .select(F.col("b.vec_id").alias("vec_id"))
        .distinct()
        .withColumn("_dup", F.lit(1))
    )
    return (
        assigned.join(dup, "vec_id", "left")
        .select(
            "vec_id",
            "cluster",
            F.when(F.col("_dup").isNull(), 1).otherwise(0).cast("int").alias("keep"),
        )
    )


#: target expected cluster size for the k ∝ n scaled SemDeDup form —
#: the quantity that stays CONSTANT as the corpus grows.
_SEM_TARGET = 64


@query(
    "q_semantic_dedup_scaled",
    covers=("X-DEDUP-SEMANTIC-SCALED",),
    oracle=f"""
    WITH cent AS (
        SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cidx, embedding AS cvec
        FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id
              LIMIT (SELECT CAST(ceil(count(*) / {_SEM_TARGET}.0) AS BIGINT)
                     FROM embeddings))
    ),
    scored AS (
        SELECT e.vec_id, e.embedding, c.cidx,
               {_COSINE_SQL_FRAG.format(a="e.embedding", b="c.cvec")} AS cos
        FROM embeddings e CROSS JOIN cent c
    ),
    assigned AS (
        SELECT vec_id, embedding, cidx AS cluster
        FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                           ORDER BY cos DESC, cidx ASC) AS rk
              FROM scored)
        WHERE rk = 1
    ),
    dup AS (
        SELECT DISTINCT b.vec_id
        FROM assigned a JOIN assigned b
          ON a.cluster = b.cluster AND a.vec_id < b.vec_id
        WHERE {_COSINE_SQL_FRAG.format(a="a.embedding", b="b.embedding")}
              >= {EMBED_DUP_THRESHOLD}
    )
    SELECT a.vec_id, CAST(a.cluster AS BIGINT) AS cluster,
           CAST(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS INTEGER) AS keep
    FROM assigned a LEFT JOIN dup d ON a.vec_id = d.vec_id
    """,
)
def q_semantic_dedup_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup with the k ∝ n scale contract the fixed-k form lacks:
    k = ceil(n / 64) lowest-id centroids, so the EXPECTED CLUSTER SIZE
    stays constant as the corpus grows and the within-cluster pair
    stage is linear in n (SemDeDup's own prescription; with fixed k it
    grows ~quadratically).  Same deterministic seeding and
    sequential-fold cosine as q_semantic_dedup — this is the
    oracle-checkable twin of ``operators/similarity.semantic_dedup``,
    which swaps the seeds for a trained ``kmeans_fit`` quantizer and
    the pair join for per-cluster Arrow-batched numpy (rows-only
    territory: Lloyd iterations are not SQL-expressible).  The one
    driver-side scalar is n itself (a count, not data)."""
    import math

    from week4_musemotion_spark.sources.tables import exact_scan_rows

    emb = load_table(spark, sf_dir, "embeddings")
    n = exact_scan_rows(emb)
    if n is None:
        n = emb.count()
    k = max(1, math.ceil(n / _SEM_TARGET))
    return _sem_dedup_plan(emb, k)


@query(
    "q_source_centroid_sim",
    covers=("X-EMBED-DRIFT",),
    oracle="""
    WITH j AS (
        SELECT d.source, e.embedding
        FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
    ),
    comp AS (
        SELECT source,
               unnest(list_transform(range(1, len(embedding) + 1),
                      i -> {'dim': i,
                            'qx': CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000 + 0.5)
                                       AS BIGINT)})) AS u
        FROM j
    ),
    cent AS (
        SELECT source, u.dim AS dim, sum(u.qx) AS s
        FROM comp GROUP BY source, u.dim
    ),
    dots AS (
        SELECT a.source AS source_a, b.source AS source_b,
               sum(a.s * b.s) AS dot
        FROM cent a JOIN cent b ON a.dim = b.dim AND a.source < b.source
        GROUP BY 1, 2
    ),
    norms AS (SELECT source, sum(s * s) AS n2 FROM cent GROUP BY source)
    SELECT d.source_a, d.source_b,
           CAST(floor(CAST(d.dot AS DOUBLE)
                      / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE)))
                      * 1000000 + 0.5) AS BIGINT) AS cos_e6
    FROM dots d
    JOIN norms na ON d.source_a = na.source
    JOIN norms nb ON d.source_b = nb.source
    """,
)
def q_source_centroid_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding drift between sources: per-source centroid (mean
    direction) similarity matrix — the audit that shows which data
    sources occupy the same semantic region (redundant) and which are
    far apart (coverage).  Components are quantized to e6 integers
    FIRST, so the per-(source,dim) sums are exact integer aggregates
    (order-independent, engine-identical) and only the final
    dot/norm ratio touches floats — summation-order nondeterminism,
    the classic failure of naive float centroids, is designed out.

    Scale shape: posexplode to (source, dim) → one keyed integer agg
    (|sources|·dim rows), pairwise join on dim over that TINY frame —
    the fact table is scanned once; everything pairwise happens on
    aggregates.  Unnormalized sums stand in for means: cosine is
    scale-invariant, so dividing by counts would only add float
    noise."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    e = load_table(spark, sf_dir, "embeddings")
    j = d.join(e, d.doc_id == e.vec_id).select("source", "embedding")
    comp = j.select("source", F.posexplode("embedding").alias("dim0", "x")).select(
        "source",
        (F.col("dim0") + 1).alias("dim"),
        F.floor(F.col("x").cast("double") * 1_000_000 + F.lit(0.5)).cast("long").alias("qx"),
    )
    # cent (|sources|·dim rows) feeds THREE consumers (both join sides
    # + norms); pin it so the fact-table explode+agg runs once, not
    # three times (branch-reuse idiom — at 100 TB each re-execution is
    # a full corpus pass)
    cent = (
        comp.groupBy("source", "dim").agg(F.sum("qx").alias("s")).localCheckpoint(eager=False)
    )
    a, b = cent.alias("a"), cent.alias("b")
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    dots = (
        a.join(b, (F.col("a.dim") == F.col("b.dim")) & (F.col("a.source") < F.col("b.source")))
        .groupBy(F.col("a.source").alias("source_a"), F.col("b.source").alias("source_b"))
        .agg(F.sum(dec(F.col("a.s")) * dec(F.col("b.s"))).alias("dot"))
    )
    norms = cent.groupBy("source").agg(F.sum(dec(F.col("s")) * dec(F.col("s"))).alias("n2"))
    na, nb = norms.alias("na"), norms.alias("nb")
    return (
        dots.join(F.broadcast(na), F.col("source_a") == F.col("na.source"))
        .join(F.broadcast(nb), F.col("source_b") == F.col("nb.source"))
        .select(
            "source_a",
            "source_b",
            F.floor(
                F.col("dot").cast("double")
                / (F.sqrt(F.col("na.n2").cast("double")) * F.sqrt(F.col("nb.n2").cast("double")))
                * 1_000_000
                + F.lit(0.5)
            )
            .cast("long")
            .alias("cos_e6"),
        )
    )


@query(
    "q_dedup_cluster_keep",
    covers=("X-DEDUP-MATERIALIZE",),
    oracle=f"""
    WITH RECURSIVE {_closure_ctes(JACCARD_THRESHOLD)},
    drop_ids AS (SELECT doc_id FROM cl WHERE keep_id != doc_id)
    SELECT d.doc_id, d.source, d.lang
    FROM documents d LEFT JOIN drop_ids x ON d.doc_id = x.doc_id
    WHERE x.doc_id IS NULL
    """,
)
def q_dedup_cluster_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DELIVERABLE of near-dedup: the corpus with every non-
    representative near-dup-cluster member removed (cluster = conn.
    component of the Jaccard≥0.8 pair graph; representative = min
    doc_id, so transitively-linked A~B~C keep exactly one even when
    A~C itself fell below threshold).  Composes the pair generation
    (shingle equi-join here; MinHash-LSH at scale — identical output),
    the pointer-jumping component operator, and one anti-join back
    onto the corpus — the full gate→cluster→materialize pipeline as
    one lazy plan.  Oracle re-derives the closure with a recursive
    CTE and anti-joins independently."""
    from week4_musemotion_spark.operators.dedup import jaccard_pairs
    from week4_musemotion_spark.operators.graph import dedup_clusters

    d = load_table(spark, sf_dir, "documents")
    pairs = jaccard_pairs(d, JACCARD_THRESHOLD)
    clusters = dedup_clusters(pairs)
    drop = clusters.filter(F.col("keep_id") != F.col("doc_id")).select("doc_id")
    return d.join(drop, "doc_id", "left_anti").select("doc_id", "source", "lang")


@query(
    "q_media_dedup",
    covers=("X-MULTIMODAL-DEDUP",),
    oracle="""
    SELECT md5(text) AS payload_md5,
           CAST(min(doc_id) AS BIGINT) AS keep_id,
           CAST(count(*) AS BIGINT) AS dup_cnt,
           CAST(min(strlen(text)) AS BIGINT) AS n_bytes
    FROM documents
    WHERE text IS NOT NULL
    GROUP BY md5(text)
    """,
)
def q_media_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup over the BINARY modality: group opaque payloads by
    content hash, keep the lowest id — byte-identical media (the same
    image re-crawled under different ids) collapses without ever
    decoding, the first dedup pass every multimodal pipeline runs
    because it is free relative to perceptual hashing.  The payload
    rides operators/multimodal.attach_binary (utf-8 stub bytes here —
    md5 over binary is codec-agnostic, so the plumbing is exactly the
    production shape); one hash-keyed aggregate, 8-byte-comparable
    after hashing, linear at any scale."""
    from week4_musemotion_spark.operators.multimodal import attach_binary

    d = load_table(spark, sf_dir, "documents")
    media = attach_binary(d)
    return media.groupBy(F.md5(F.col("payload")).alias("payload_md5")).agg(
        F.min("doc_id").cast("long").alias("keep_id"),
        F.count(F.lit(1)).cast("long").alias("dup_cnt"),
        F.min(F.length("payload")).cast("long").alias("n_bytes"),
    )


@query(
    "q_dup_cluster_sizes",
    covers=("X-DEDUP-CLUSTER-DIST",),
    oracle=f"""
    WITH RECURSIVE {_closure_ctes(JACCARD_THRESHOLD)},
    csz AS (SELECT keep_id, count(*) AS csize FROM cl GROUP BY keep_id)
    SELECT CAST(csize AS BIGINT) AS cluster_size,
           CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(sum(csize) AS BIGINT) AS n_docs
    FROM csz GROUP BY csize
    """,
)
def q_dup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster SIZE distribution — the dedup report's
    headline table: mostly pairs means organic duplication, a few
    giant families means boilerplate/mirror domains (and a giant
    cluster is also the skew warning for the component computation
    itself).  Rides the same pairs→components plan as
    q_dedup_cluster_keep plus two tiny aggregates over the
    |clustered-docs| label table."""
    from week4_musemotion_spark.operators.dedup import jaccard_pairs
    from week4_musemotion_spark.operators.graph import dedup_clusters

    d = load_table(spark, sf_dir, "documents")
    clusters = dedup_clusters(jaccard_pairs(d, JACCARD_THRESHOLD))
    sz = clusters.groupBy("keep_id").agg(F.count(F.lit(1)).alias("csize"))
    return sz.groupBy(F.col("csize").cast("long").alias("cluster_size")).agg(
        F.count(F.lit(1)).cast("long").alias("n_clusters"),
        F.sum("csize").cast("long").alias("n_docs"),
    )


_NORM_SQL = (
    "sqrt(list_sum(list_transform({v}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
)


@query(
    "q_embedding_hygiene",
    covers=("X-EMBED-HYGIENE",),
    oracle=f"""
    WITH n AS (
        SELECT label,
               CAST(floor({_NORM_SQL.format(v="embedding")} * 1000000 + 0.5) AS BIGINT)
                   AS nrm_e6,
               len(embedding) AS dim
        FROM embeddings
    )
    SELECT CAST(label AS INTEGER) AS label,
           CAST(count(*) AS BIGINT) AS n_vecs,
           CAST(count(DISTINCT dim) AS BIGINT) AS n_dims_seen,
           CAST(count(*) FILTER (nrm_e6 = 0) AS BIGINT) AS n_zero_norm,
           CAST(count(*) FILTER (nrm_e6 < 500000) AS BIGINT) AS n_low_norm,
           CAST(min(nrm_e6) AS BIGINT) AS min_norm_e6,
           CAST(max(nrm_e6) AS BIGINT) AS max_norm_e6
    FROM n
    GROUP BY label
    """,
)
def q_embedding_hygiene(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector-column hygiene audit, the gate an embedding corpus runs
    BEFORE any indexing/dedup/ANN build: per label, the count of
    zero-norm vectors (no defined cosine — they silently vanish from
    every similarity op), low-norm vectors (< 0.5: quantization/
    truncation suspects), the norm range, and the number of DISTINCT
    dimensionalities seen (ragged arrays break every matrix kernel —
    must be 1).  Norms are sequential-fold float64 then e6-floored,
    the same numeric contract as the cosine family, so the audit
    hash-matches the oracle.

    Scale shape: one scan, per-row expression work, one tiny keyed
    agg — no shuffle beyond |labels| groups."""
    emb = load_table(spark, sf_dir, "embeddings")
    nrm_e6 = F.floor(F.sqrt(_dot(F.col("embedding"), F.col("embedding"))) * 1_000_000 + F.lit(0.5)).cast("long")
    n = emb.select(
        "label", nrm_e6.alias("nrm_e6"), F.size("embedding").alias("dim")
    )
    return n.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        F.countDistinct("dim").cast("long").alias("n_dims_seen"),
        F.count(F.when(F.col("nrm_e6") == 0, 1)).cast("long").alias("n_zero_norm"),
        F.count(F.when(F.col("nrm_e6") < 500_000, 1)).cast("long").alias("n_low_norm"),
        F.min("nrm_e6").alias("min_norm_e6"),
        F.max("nrm_e6").alias("max_norm_e6"),
    )


@query(
    "q_hard_negatives",
    covers=("X-HARD-NEGATIVES",),
    oracle=f"""
    WITH q AS (
        SELECT vec_id AS query_id, label AS qlabel, embedding AS qv
        FROM embeddings WHERE vec_id < 20
    ),
    scored AS (
        SELECT q.query_id, e.vec_id AS neighbor_id,
               {_COSINE_SQL_FRAG.format(a="qv", b="e.embedding")} AS cos
        FROM embeddings e CROSS JOIN q
        WHERE e.label <> q.qlabel AND e.vec_id <> q.query_id
    ),
    ranked AS (
        SELECT query_id, neighbor_id, cos,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, neighbor_id ASC) AS rank
        FROM scored
    )
    SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank,
           CAST(floor(cos * 1000000 + 0.5) AS BIGINT) AS cosine_e6
    FROM ranked WHERE rank <= 3
    """,
)
def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining (the contrastive-training data op): for
    each query vector (vec_id < 20), the 3 most-similar corpus vectors
    with a DIFFERENT label — the near-boundary negatives that carry
    the gradient signal random sampling misses.  Same broadcast-query
    / Arrow-batched-corpus / local-top-k-pre-prune plan as
    q_knn_cosine (``operators/similarity.hard_negatives``); the label
    inequality rides inside the batch kernel, so no candidate ever
    shuffles that the window would discard."""
    from week4_musemotion_spark.operators.similarity import hard_negatives

    emb = load_table(spark, sf_dir, "embeddings")
    return hard_negatives(emb, emb.filter(F.col("vec_id") < 20), k=3)


@query("q_semantic_dedup_trained", covers=("X-DEDUP-SEMANTIC-TRAINED",), oracle=None)
def q_semantic_dedup_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION SemDeDup path (``operators/similarity.
    semantic_dedup``): trained k-means quantizer (Lloyd iterations —
    not SQL-expressible, hence rows-only like the ANNs), k ∝ n
    (ceil(n/64)), Arrow-batched assignment, per-cluster numpy dedup.
    Emits one (vec_id, cluster, keep) verdict per vector, so the
    rows-only check still pins totality; the keep-rule semantics are
    pinned against a numpy recomputation in
    ``tests/test_similarity_quality.py`` and the oracle-checkable
    deterministic twin is q_semantic_dedup_scaled."""
    from week4_musemotion_spark.operators.similarity import semantic_dedup

    emb = load_table(spark, sf_dir, "embeddings")
    return semantic_dedup(emb, target_cluster_size=64, iters=1)


@query("q_semantic_dedup_ivf", covers=("X-DEDUP-SEMANTIC-IVF",), oracle=None)
def q_semantic_dedup_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup with the IVF-accelerated assignment stage
    (``semantic_dedup(assign="ivf")`` — ``operators/similarity.
    _assign_clusters_ivf``): vectors score ~√k coarse cells first and
    scan only the probed cells' centroids, cutting assignment from
    O(n·k·dim) to O(n·√k·dim) — the escalation the k ∝ n default
    needs at extreme n.  Approximate only at cell boundaries
    (agreement with the exact argmin ≥0.99 pinned in
    ``tests/test_similarity_quality.py``), hence rows-only like the
    ANNs; the exact twin q_semantic_dedup_scaled is the oracle shape.
    The rows-only check still pins totality (one verdict per
    vector)."""
    from week4_musemotion_spark.operators.similarity import semantic_dedup

    emb = load_table(spark, sf_dir, "embeddings")
    return semantic_dedup(emb, target_cluster_size=64, iters=1, assign="ivf")


@query("q_hard_negatives_lsh", covers=("X-HARDNEG-LSH",), oracle=None)
def q_hard_negatives_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining, LSH scale path (``operators/similarity.
    hard_negatives_lsh``): hyperplane-LSH bucketed candidate retrieval
    at k·oversample, label anti-match, exact rerank to top-k — never
    a corpus sweep, work scales with bucket occupancy.  Approximate by
    construction (bucket recall on top of the same-label crowd-out
    bound), hence rows-only; the exact twin q_hard_negatives is the
    oracle shape and the recall floor vs it is pinned in
    ``tests/test_similarity_quality.py``."""
    from week4_musemotion_spark.operators.similarity import hard_negatives_lsh

    emb = load_table(spark, sf_dir, "embeddings")
    return hard_negatives_lsh(emb, emb.filter(F.col("vec_id") < 20), k=3)


@query(
    "q_crossmodal_qa",
    covers=("X-CROSSMODAL-QA",),
    oracle=f"""
    WITH e AS (
        SELECT vec_id AS doc_id,
               CAST(floor({_NORM_SQL.format(v="embedding")} * 1000000 + 0.5) AS BIGINT)
                   AS nrm_e6,
               len(embedding) AS dim
        FROM embeddings
        WHERE vec_id % 7 != 3
    ),
    m AS (
        SELECT doc_id, strlen(text) AS payload_bytes
        FROM documents
        WHERE doc_id % 11 != 5 AND text IS NOT NULL
    )
    SELECT d.source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(e.doc_id) AS BIGINT) AS n_with_embedding,
           CAST(count(m.doc_id) AS BIGINT) AS n_with_media,
           CAST(count(*) FILTER (e.doc_id IS NOT NULL AND m.doc_id IS NOT NULL)
                AS BIGINT) AS n_complete,
           CAST(count(*) FILTER (e.nrm_e6 = 0) AS BIGINT) AS n_zero_norm,
           CAST(count(DISTINCT e.dim) AS BIGINT) AS n_dims_seen,
           CAST(count(*) FILTER (m.payload_bytes = 0) AS BIGINT) AS n_empty_media
    FROM documents d
    LEFT JOIN e ON d.doc_id = e.doc_id
    LEFT JOIN m ON d.doc_id = m.doc_id
    GROUP BY d.source
    """,
)
def q_crossmodal_qa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal completeness + hygiene audit — the join-QA gate a
    multimodal training pipeline runs before packing (text ⋈ embedding
    ⋈ media by document id): per source, how many documents have an
    embedding, how many have a media payload, how many are COMPLETE
    (all modalities present — only those can feed a contrastive
    text-image objective), plus the per-modality health signals from
    q_embedding_hygiene (zero-norm vectors, distinct dims — ragged
    arrays break every matrix kernel) and empty payloads.  Partial
    coverage is modeled deterministically (the embedding job missed
    vec_id ≡ 3 mod 7, the media fetch missed doc_id ≡ 5 mod 11) so
    every verdict class is exercised and oracle-pinned.

    Scale shape: ONE documents scan — the media modality is the
    documents table's own payload (``attach_binary`` semantics:
    payload = utf-8 bytes of text, NULL text ⇒ no media), so its
    flags are inlined as spine expressions instead of a corpus
    self-join — LEFT-joined once with the embeddings table on the id
    key (co-partitionable equi-join: at 100 TB both sides bucket by
    id, zero exchange), then one tiny |sources| agg."""
    d = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") % 7 != 3)
    e = emb.select(
        F.col("vec_id").alias("e_id"),
        F.floor(F.sqrt(_dot(F.col("embedding"), F.col("embedding"))) * 1_000_000 + F.lit(0.5))
        .cast("long")
        .alias("nrm_e6"),
        F.size("embedding").alias("dim"),
    )
    has_media = (F.col("doc_id") % 11 != 5) & F.col("text").isNotNull()
    spine = d.select(
        "doc_id",
        "source",
        has_media.alias("has_media"),
        F.when(has_media, F.length(F.encode(F.col("text"), "UTF-8"))).alias("payload_bytes"),
    )
    joined = spine.join(e, spine.doc_id == F.col("e_id"), "left")
    return joined.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.count("e_id").cast("long").alias("n_with_embedding"),
        F.count(F.when(F.col("has_media"), 1)).cast("long").alias("n_with_media"),
        F.count(F.when(F.col("e_id").isNotNull() & F.col("has_media"), 1))
        .cast("long")
        .alias("n_complete"),
        F.count(F.when(F.col("nrm_e6") == 0, 1)).cast("long").alias("n_zero_norm"),
        F.countDistinct("dim").cast("long").alias("n_dims_seen"),
        F.count(F.when(F.col("payload_bytes") == 0, 1)).cast("long").alias("n_empty_media"),
    )


@query(
    "q_embedding_gram",
    covers=("X-EMBED-GRAM",),
    oracle="""
    WITH q AS (
        SELECT list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)) AS qv
        FROM embeddings
    ),
    dim AS (SELECT max(len(qv)) AS d FROM q),
    idx AS (SELECT unnest(range(1, (SELECT d FROM dim) + 1)) AS i),
    pr AS (SELECT a.i AS i, b.i AS j FROM idx a JOIN idx b ON b.i >= a.i),
    m AS (
        SELECT p.i, p.j, sum(CAST(q.qv[p.i] AS HUGEINT) * q.qv[p.j]) AS sxy
        FROM q CROSS JOIN pr p GROUP BY p.i, p.j
    ),
    l AS (
        SELECT i.i, sum(CAST(q.qv[i.i] AS HUGEINT)) AS sx
        FROM q CROSS JOIN idx i GROUP BY i.i
    ),
    t AS (SELECT CAST(count(*) AS BIGINT) AS n FROM q)
    SELECT m.i, m.j, t.n,
           CAST(CAST(t.n AS HUGEINT) * m.sxy - li.sx * lj.sx AS VARCHAR) AS cov_num
    FROM m JOIN l li ON li.i = m.i JOIN l lj ON lj.i = m.j CROSS JOIN t
    """,
)
def q_embedding_gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact covariance numerator of the embedding corpus, one row
    per unordered dim pair: cov_num = n*sum(q_i*q_j) - sum(q_i)*
    sum(q_j) over e6-quantized values (n^2 x covariance, exact
    decimal(38,0) integers internally — partition order cannot
    perturb it, and a long would already wrap at 100 TB row counts;
    EMITTED as the integer's digit STRING because decimal output
    columns are driver-hash hostile: DuckDB's client renders
    DECIMAL(38,0) as float64, Spark as decimal.Decimal).  This is the
    sufficient-statistics audit behind the PCA/whitening operator
    (``operators/linalg.pca_fit``): the float eigensolve is not
    SQL-expressible, but its d^2 inputs are, so THIS is the query
    that proves the distributed moment accumulation cross-engine.

    Scale shape: one corpus scan; the Arrow-batched kernel emits
    O(d^2) exact partials per partition (d=64 -> 2145 rows), the
    combine is a groupBy over that O(partitions x d^2) frame, and
    the oracle's all-pairs unnest exists only DuckDB-side."""
    from week4_musemotion_spark.operators.linalg import gram_exact

    emb = load_table(spark, sf_dir, "embeddings")
    return gram_exact(emb, "embedding")


# ---------------------------------------------------------------------------
# Embedding-cosine threshold sweep
# ---------------------------------------------------------------------------

#: Cosine-threshold grid (e6 fixed-point), above the pair-generation
#: base EMBED_DUP_THRESHOLD so the grid compare runs on the ROUNDED
#: integer cosine — exact on both engines; 510000 sits above this
#: corpus' organic maximum (~0.51) and exercises the empty row.
_SEM_SWEEP = (450000, 470000, 490000, 510000)


@query(
    "q_semantic_threshold_sweep",
    covers=("X-SEM-THRESHOLD-SWEEP",),
    oracle="""
    WITH p AS (
        SELECT a.vec_id AS vec_id_a, a.embedding AS va,
               b.vec_id AS vec_id_b, b.embedding AS vb
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    ),
    s AS (
        SELECT vec_id_a, vec_id_b,
               {cos} AS cos
        FROM p
    ),
    pe AS (
        SELECT vec_id_a, vec_id_b,
               CAST(floor(cos * 1000000 + 0.5) AS BIGINT) AS cosine_e6
        FROM s WHERE cos >= {base}
    ),
    grid AS (SELECT CAST(unnest([{grid}]) AS BIGINT) AS thr_e6),
    q AS (
        SELECT g.thr_e6, p.vec_id_a, p.vec_id_b
        FROM grid g LEFT JOIN pe p ON p.cosine_e6 >= g.thr_e6
    ),
    dc AS (
        SELECT thr_e6, CAST(count(DISTINCT v) AS BIGINT) AS n_dup_vecs
        FROM (SELECT thr_e6, unnest([vec_id_a, vec_id_b]) AS v FROM q WHERE vec_id_a IS NOT NULL)
        GROUP BY thr_e6
    )
    SELECT n.thr_e6, n.n_pairs, COALESCE(dc.n_dup_vecs, 0) AS n_dup_vecs
    FROM (SELECT thr_e6, CAST(count(vec_id_a) AS BIGINT) AS n_pairs FROM q GROUP BY thr_e6) n
    LEFT JOIN dc ON dc.thr_e6 = n.thr_e6
    """.format(
        cos=_COSINE_SQL_FRAG.format(a="va", b="vb"),
        base=EMBED_DUP_THRESHOLD,
        grid=", ".join(map(str, _SEM_SWEEP)),
    ),
)
def q_semantic_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-threshold selection curve for embeddings: per
    candidate cosine threshold, the pair count and the vectors those
    pairs touch — the embedding-space twin of the Jaccard sweep
    (q_dedup_threshold_sweep), read before fixing the semantic-dedup
    cut (too low: distinct content merged; too high: paraphrase
    clusters survive).  Thresholds compare against the rounded-e6
    integer cosine, so the grid is exact on both engines; only the
    pair-generation base uses the float cosine, at the same
    engine-stable threshold q_dedup_embedding already pins.

    Scale: the pair table is computed ONCE (block-nested-loop here —
    the exact baseline; cosine_pairs_lsh at 100 TB feeds the same
    sweep) and the grid fan-out runs over that tiny frame."""
    from week4_musemotion_spark.operators.similarity import cosine_pairs
    from week4_musemotion_spark.queries.extensions import EMBED_DUP_THRESHOLD

    emb = load_table(spark, sf_dir, "embeddings")
    pairs = cosine_pairs(emb, EMBED_DUP_THRESHOLD).localCheckpoint(eager=False)
    # lazy: both grid aggregate branches share the checkpointed RDD
    # inside the one final job — the eager form paid a separate
    # blocking pair-build job first
    grid = spark.createDataFrame([(t,) for t in _SEM_SWEEP], "thr_e6 long")
    # broadcast-grid crossJoin, NOT a grid⋈pairs theta join (Catalyst
    # plans that as a task-exploding CartesianProduct — see
    # q_dedup_threshold_sweep); empty thresholds recovered by
    # left-joining the grid onto the aggregates
    hits = pairs.crossJoin(F.broadcast(grid)).filter(
        F.col("cosine_e6") >= F.col("thr_e6")
    )
    n_pairs = hits.groupBy("thr_e6").agg(F.count(F.lit(1)).cast("long").alias("np"))
    vecs = (
        hits.select("thr_e6", F.explode(F.array("vec_id_a", "vec_id_b")).alias("v"))
        .groupBy("thr_e6")
        .agg(F.countDistinct("v").cast("long").alias("nd"))
    )
    return (
        grid.join(n_pairs, "thr_e6", "left")
        .join(vecs, "thr_e6", "left")
        .select(
            "thr_e6",
            F.coalesce(F.col("np"), F.lit(0).cast("long")).alias("n_pairs"),
            F.coalesce(F.col("nd"), F.lit(0).cast("long")).alias("n_dup_vecs"),
        )
    )


@query(
    "q_embed_dispersion",
    covers=("X-DISPERSION",),
    oracle="""
    WITH q AS (
        SELECT label,
               list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)) AS qv
        FROM embeddings
    ),
    idx AS (SELECT unnest(range(1, (SELECT max(len(qv)) FROM q) + 1)) AS pos),
    per_dim AS (
        SELECT label, i.pos,
               sum(CAST(q.qv[i.pos] AS HUGEINT)) AS sd,
               sum(CAST(q.qv[i.pos] AS HUGEINT) * q.qv[i.pos]) AS s2p,
               count(*) AS np
        FROM q CROSS JOIN idx i GROUP BY label, i.pos
    ),
    g AS (
        SELECT label, sum(s2p) AS s2, sum(sd * sd) AS sumsq_d, max(np) AS n
        FROM per_dim GROUP BY label
    )
    SELECT label,
           CAST(n AS BIGINT) AS n,
           CAST(CAST(n AS HUGEINT) * (n - 1) // 2 AS VARCHAR) AS pairs,
           CAST(CAST(n AS HUGEINT) * s2 - sumsq_d AS VARCHAR) AS ssd,
           CAST(CASE WHEN n > 1 THEN (CAST(n AS HUGEINT) * s2 - sumsq_d)
                     // (CAST(n AS HUGEINT) * (n - 1) // 2 * 1000000)
                END AS BIGINT) AS msd_e6
    FROM g
    """,
)
def q_embed_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding-dispersion collapse audit: the exact sum
    of squared pairwise distances per group from the closed form
    n·Σ‖q‖² − Σ_d(Σq_d)² — ONE scan + two aggregates whose state is
    O(groups × dims), where the naive formulation is O(n²) pairs per
    group.  ``pairs`` and ``ssd`` are exact integers emitted as digit
    strings (both outgrow int64 at corpus scale); ``msd_e6`` is the
    mean squared distance a drift dashboard trends — a group near
    zero is embedding-collapsed (all-duplicate or degenerate encoder
    output).

    100 TB story: sufficient statistics, never pairs — the group
    state is ~dims rows of decimal accumulators, merge is addition,
    and the arithmetic is exact at 1e12 rows (decimal(38,0)
    accumulation, dec-before-product throughout — the round-12
    denominator fix keeps msd exact past 4.3M-row groups)."""
    from week4_musemotion_spark.operators.linalg import embedding_dispersion

    emb = load_table(spark, sf_dir, "embeddings")
    return embedding_dispersion(emb, vec_col="embedding", group_col="label")
