"""Dedup and provenance audits: how well the near-dup detectors work
on this corpus, what duplication costs, and where copied text came
from.

- Detector quality: MinHash signature agreement against exact
  Jaccard, the pair/doc counts across a threshold grid, the
  (bands, rows) tuner, and Cohen's kappa between SimHash and exact
  Jaccard (token and n-gram SimHash).
- Duplication cost: per-source character inflation,
  multiplicity-discounted effective tokens, and a cluster-aware
  train/val/test split that certifies zero straddling pairs.
- Copied text: duplicated-span coverage, winnowing fingerprints
  (density, candidate pairs, recall against exact Jaccard) and
  cross-document substring runs.
- Provenance: per-document source bitmasks, near-dup cluster purity
  and the quality bias of the documents a dedup pass drops.

Outputs are exact integers (``functions/exact.py``), so each DuckDB
oracle matches bit for bit."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from week4_musemotion_spark.functions.exact import dec, int_div_trunc, ratio_e4
from week4_musemotion_spark.functions.hashing import stable_hash64, stable_hash64_sql
from week4_musemotion_spark.operators.dedup import jaccard_pairs, simhash_pairs
from week4_musemotion_spark.queries.extensions import (
    JACCARD_THRESHOLD,
    _SIMHASH_MAX_HAMMING,
    _SIMHASH_PAIR_BITS,
    _STOPLIST as _STOPLIST_SQL,
    _closure_ctes,
    _jaccard_ctes,
    _quality_e4_sql,
    _shingle_expr,
    _simhash_sql,
)
from week4_musemotion_spark.queries.registry import query
from week4_musemotion_spark.sources.tables import load_table, spread


#: Portable-MinHash family size for the fidelity audit (md5-derived
#: seeds — engine-replayable, unlike the production xxhash64 family).
_FIDELITY_HASHES = 16

#: Pair domain for the sketch-quality audits: exact Jaccard >= 0.5
#: (this corpus: planted pairs >= 0.9, noise <= 0.07 — huge margin).
_FIDELITY_MIN_JACCARD = 0.5

#: Dedup-threshold grid (e4 fixed-point).
_SWEEP_THRESHOLDS = (5000, 6000, 7000, 8000, 9000)


@query(
    "q_minhash_fidelity",
    covers=("X-MINHASH-FIDELITY",),
    oracle=f"""
    WITH {_jaccard_ctes(_FIDELITY_MIN_JACCARD)},
    mh AS (
        -- the shared helper's ROW-VALUED seed form: same 'k:' prefix,
        -- same md5-prefix width, so Spark's stable_hash64(s, seed=k)
        -- replays bit-for-bit
        SELECT sh.doc_id, s.k,
               min({stable_hash64_sql("sh.shingle", seed_expr="s.k")}) AS mv
        FROM sh CROSS JOIN (SELECT unnest(range(0, {_FIDELITY_HASHES})) AS k) s
        GROUP BY sh.doc_id, s.k
    )
    SELECT p.doc_a, p.doc_b,
           CAST((2 * p.i * 10000 + (p.na + p.nb - p.i)) // (2 * (p.na + p.nb - p.i)) AS BIGINT) AS jaccard_e4,
           CAST(count(*) FILTER (WHERE a.mv = b.mv) AS BIGINT) AS sig_agree,
           CAST((2 * count(*) FILTER (WHERE a.mv = b.mv) * 10000 + {_FIDELITY_HASHES})
                // (2 * {_FIDELITY_HASHES}) AS BIGINT) AS est_e4
    FROM pairs p
    JOIN mh a ON a.doc_id = p.doc_a
    JOIN mh b ON b.doc_id = p.doc_b AND b.k = a.k
    GROUP BY p.doc_a, p.doc_b, p.i, p.na, p.nb
    """,
)
def q_minhash_fidelity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash sketch-quality audit: for every verified near-dup pair
    (exact 3-gram Jaccard >= 0.5), the exact Jaccard next to the
    16-seed MinHash signature agreement — measured on THIS corpus, so
    a config change (bands, rows, hash count) is judged by data
    rather than by the 1-(1-s^r)^b formula alone.  The hash family
    here is the md5-portable ``stable_hash64`` (seeded), which is
    what lets the oracle replay every signature bit-for-bit; the
    production family swaps in xxhash64 behind the same shape.

    Scale: pair domain comes from the shingle equi-join (never
    all-pairs); signatures are one grouped aggregate over the
    exploded shingle table (16 mins in a single shuffle)."""
    from week4_musemotion_spark.operators.dedup import _intersections, shingle_strings

    d = load_table(spark, sf_dir, "documents")
    shs = shingle_strings(d).distinct().persist()
    sh = shs.select("_id", F.col("s").alias("shingle"))
    pairs = (
        _intersections(None, sh)
        .filter(F.col("jac") >= _FIDELITY_MIN_JACCARD)
        .select("doc_a", "doc_b", "jaccard_e4")
        .localCheckpoint(eager=False)  # feeds the member prune AND the final join
    )
    # signatures only for documents that appear in a near-dup pair —
    # the pair set is tiny next to the corpus, so this broadcast
    # semi-join prunes ~all of the 16-seed hashing and its shuffle
    members = (
        pairs.select(F.col("doc_a").alias("_id"))
        .unionByName(pairs.select(F.col("doc_b").alias("_id")))
        .distinct()
    )
    sig = (
        shs.join(F.broadcast(members), "_id", "semi")
        .groupBy("_id")
        .agg(
            *[
                F.min(stable_hash64(F.col("s"), seed=k)).alias(f"mh_{k}")
                for k in range(_FIDELITY_HASHES)
            ]
        )
    )
    a = sig.select(F.col("_id").alias("doc_a"), *[F.col(f"mh_{k}").alias(f"a_{k}") for k in range(_FIDELITY_HASHES)])
    b = sig.select(F.col("_id").alias("doc_b"), *[F.col(f"mh_{k}").alias(f"b_{k}") for k in range(_FIDELITY_HASHES)])
    agree = sum(
        F.when(F.col(f"a_{k}") == F.col(f"b_{k}"), 1).otherwise(0)
        for k in range(_FIDELITY_HASHES)
    ).cast("long")
    return (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "jaccard_e4",
            agree.alias("sig_agree"),
            ratio_e4(agree, F.lit(_FIDELITY_HASHES)).alias("est_e4"),
        )
    )


@query(
    "q_dedup_threshold_sweep",
    covers=("X-DEDUP-THRESHOLD-SWEEP",),
    oracle=f"""
    WITH {_jaccard_ctes(_FIDELITY_MIN_JACCARD)},
    jac AS (
        SELECT doc_a, doc_b,
               CAST((2 * i * 10000 + (na + nb - i)) // (2 * (na + nb - i)) AS BIGINT) AS jaccard_e4
        FROM pairs
    ),
    grid AS (SELECT CAST(unnest([{", ".join(map(str, _SWEEP_THRESHOLDS))}]) AS BIGINT) AS thr_e4),
    q AS (
        SELECT g.thr_e4, j.doc_a, j.doc_b
        FROM grid g LEFT JOIN jac j ON j.jaccard_e4 >= g.thr_e4
    ),
    dc AS (
        SELECT thr_e4, CAST(count(DISTINCT d) AS BIGINT) AS n_dup_docs
        FROM (SELECT thr_e4, unnest([doc_a, doc_b]) AS d FROM q WHERE doc_a IS NOT NULL)
        GROUP BY thr_e4
    )
    SELECT p.thr_e4, p.n_pairs, COALESCE(dc.n_dup_docs, 0) AS n_dup_docs
    FROM (SELECT thr_e4, CAST(count(doc_a) AS BIGINT) AS n_pairs FROM q GROUP BY thr_e4) p
    LEFT JOIN dc ON dc.thr_e4 = p.thr_e4
    """,
)
def q_dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup threshold selection curve: for each candidate Jaccard
    threshold, how many pairs would be flagged and how many documents
    they touch — the table a curation team reads before fixing the
    dedup threshold (too low: real content removed; too high: planted
    near-dups survive).  Thresholds compare against the rounded-e4
    integer Jaccard, so the grid comparison is exact on both engines.

    Scale: the pair table is computed ONCE from the shingle equi-join
    (near-dup pairs — tiny relative to the corpus), checkpointed, and
    the grid fan-out runs over that tiny frame only."""
    from week4_musemotion_spark.operators.dedup import jaccard_pairs

    d = load_table(spark, sf_dir, "documents")
    # EAGER checkpoint: the pair table feeds two aggregation branches;
    # materializing the few-hundred-row table up front makes the
    # fan-out free
    pairs = (
        jaccard_pairs(d, _FIDELITY_MIN_JACCARD)
        .select("doc_a", "doc_b", "jaccard_e4")
        .localCheckpoint(eager=False)  # lazy: the grid fan-out's
        # final job materializes it once; both aggregate branches
        # share the same checkpointed RDD (one job saved per run)
    )
    grid = spark.createDataFrame(
        [(t,) for t in _SWEEP_THRESHOLDS], "thr_e4 long"
    )
    # crossJoin with the BROADCAST grid, never a grid⋈pairs theta
    # join: Catalyst plans that as a CartesianProduct whose task
    # count is left-partitions × right-partitions (measured ~10 s of
    # empty-task launches on 1.3k rows) — and at 100 TB the pair side
    # must stay distributed with the 5-row grid replicated anyway.
    # Empty thresholds are recovered by left-joining the grid back
    # onto the aggregates.
    hits = pairs.crossJoin(F.broadcast(grid)).filter(
        F.col("jaccard_e4") >= F.col("thr_e4")
    )
    n_pairs = hits.groupBy("thr_e4").agg(F.count(F.lit(1)).cast("long").alias("np"))
    docs = (
        hits.select("thr_e4", F.explode(F.array("doc_a", "doc_b")).alias("d"))
        .groupBy("thr_e4")
        .agg(F.countDistinct("d").cast("long").alias("nd"))
    )
    return (
        grid.join(n_pairs, "thr_e4", "left")
        .join(docs, "thr_e4", "left")
        .select(
            "thr_e4",
            F.coalesce(F.col("np"), F.lit(0).cast("long")).alias("n_pairs"),
            F.coalesce(F.col("nd"), F.lit(0).cast("long")).alias("n_dup_docs"),
        )
    )


@query(
    "q_dup_inflation",
    covers=("X-DUP-INFLATION",),
    oracle=f"""
    WITH RECURSIVE {_closure_ctes(0.8)},
    drop_ids AS (SELECT doc_id FROM cl WHERE keep_id != doc_id)
    SELECT d.source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(x.doc_id) AS BIGINT) AS n_dropped,
           CAST(sum(d.n_chars) AS BIGINT) AS chars_total,
           CAST(coalesce(sum(CASE WHEN x.doc_id IS NOT NULL THEN d.n_chars END), 0) AS BIGINT) AS chars_dropped,
           CAST((CAST(coalesce(sum(CASE WHEN x.doc_id IS NOT NULL THEN d.n_chars END), 0) AS HUGEINT) * 1000000)
                // sum(d.n_chars) AS BIGINT) AS drop_ppm
    FROM documents d LEFT JOIN drop_ids x ON d.doc_id = x.doc_id
    GROUP BY d.source
    """,
)
def q_dup_inflation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplication inflation per source: how many documents — and how
    many CHARACTERS, the cost that actually bills at training time —
    a near-dedup pass (Jaccard >= 0.8 clusters, keep lowest id) would
    remove.  The number a curation team reads to decide which sources
    pay for aggressive dedup: drop_ppm ~ 0 means dedup there is
    wasted compute; a hot source with 20% char inflation is the one
    inflating epoch cost.  Composes the pair->cluster->verdict chain
    (shingle equi-join + pointer-jumping CC) with one corpus
    aggregate; exact integer ppm, oracle re-derives the closure with
    a recursive CTE."""
    from week4_musemotion_spark.operators.dedup import jaccard_pairs
    from week4_musemotion_spark.operators.graph import dedup_clusters

    d = load_table(spark, sf_dir, "documents")
    drop = (
        dedup_clusters(jaccard_pairs(d, 0.8))
        .filter(F.col("keep_id") != F.col("doc_id"))
        .select("doc_id", F.lit(1).alias("is_drop"))
    )
    chars_dropped = F.coalesce(
        F.sum(F.when(F.col("is_drop") == 1, F.col("n_chars"))), F.lit(0)
    ).cast("long")
    return (
        d.join(F.broadcast(drop), "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.count("is_drop").cast("long").alias("n_dropped"),
            F.sum("n_chars").cast("long").alias("chars_total"),
            chars_dropped.alias("chars_dropped"),
            int_div_trunc(dec(chars_dropped) * 1_000_000, F.sum("n_chars")).alias(
                "drop_ppm"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Leakage-safe train/val/test split
# ---------------------------------------------------------------------------

#: Percent buckets for the split: [0,80) train, [80,90) val, rest test.
_SPLIT_TRAIN, _SPLIT_VAL = 80, 90


@query(
    "q_leakage_split",
    covers=("X-LEAKAGE-SPLIT",),
    oracle=f"""
    WITH RECURSIVE {{ctes}},
    e2 AS (
        SELECT doc_a AS u, doc_b AS v FROM pairs
        UNION
        SELECT doc_b AS u, doc_a AS v FROM pairs
    ),
    reach(u, v) AS (
        SELECT u, v FROM e2
        UNION
        SELECT r.u, e.v FROM reach r JOIN e2 e ON r.v = e.u
    ),
    lab AS (SELECT u AS doc_id, least(u, min(v)) AS keep_id FROM reach GROUP BY u),
    assign AS (
        SELECT d.doc_id, d.n_chars, COALESCE(l.keep_id, d.doc_id) AS rep
        FROM documents d LEFT JOIN lab l ON d.doc_id = l.doc_id
    ),
    sp AS (
        SELECT doc_id, n_chars, rep,
               CASE WHEN b < {_SPLIT_TRAIN} THEN 'train'
                    WHEN b < {_SPLIT_VAL} THEN 'val'
                    ELSE 'test' END AS split
        FROM (SELECT *, {{bucket}} % 100 AS b FROM assign)
    ),
    st AS (
        SELECT count(*) AS straddle_pairs
        FROM pairs p
        JOIN sp a ON p.doc_a = a.doc_id
        JOIN sp b ON p.doc_b = b.doc_id
        WHERE a.split != b.split
    )
    SELECT sp.split,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT rep) AS BIGINT) AS n_clusters,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           CAST(st.straddle_pairs AS BIGINT) AS straddle_pairs
    FROM sp CROSS JOIN st
    GROUP BY sp.split, st.straddle_pairs
    """.format(
        ctes=_jaccard_ctes(0.8),
        bucket=stable_hash64_sql("CAST(rep AS VARCHAR)"),
    ),
)
def q_leakage_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup-aware train/val/test split: hash-bucket WHOLE near-dup
    clusters (Jaccard >= 0.8 connected components; singletons are
    their own cluster) into 80/10/10 splits, so two near-duplicate
    documents can never land in different splits — the eval-set
    contamination that naive per-doc hashing bakes in (a train doc's
    near-copy in the test set is leakage that survives ordinary
    dedup-after-split).  ``straddle_pairs`` re-counts near-dup pairs
    crossing split boundaries: zero BY CONSTRUCTION, emitted as the
    split's self-certificate.

    Deterministic end to end: the bucket is the portable hash of the
    cluster representative, so the split is stable across runs,
    engines, and appends — new documents get their own buckets and
    existing docs keep theirs, EXCEPT docs whose cluster a new
    arrival merges with another (the representative re-keys; the
    stability boundary is pinned in
    ``tests/test_provenance_queries.py::test_leakage_split_stable_under_append...``).
    Scale: pair generation is the shingle
    equi-join (LSH at 100 TB), components are pointer-jumping CC,
    and the split itself is one hash + one keyed aggregate — no new
    shuffle beyond what dedup already paid."""
    from week4_musemotion_spark.operators.dedup import jaccard_pairs
    from week4_musemotion_spark.operators.graph import dedup_clusters
    from week4_musemotion_spark.queries.extensions import JACCARD_THRESHOLD

    d = load_table(spark, sf_dir, "documents")
    # pairs feed clusters AND the straddle certificate; clusters feed
    # the assignment — pin both (branch-reuse)
    pairs = jaccard_pairs(d, JACCARD_THRESHOLD).localCheckpoint(eager=False)
    clusters = dedup_clusters(pairs)
    b = F.pmod(stable_hash64(F.col("rep").cast("string")), 100)
    assign = (
        d.select("doc_id", "n_chars")
        .join(clusters, "doc_id", "left")
        .select(
            "doc_id",
            "n_chars",
            F.coalesce("keep_id", "doc_id").alias("rep"),
        )
        .withColumn(
            "split",
            F.when(b < _SPLIT_TRAIN, "train")
            .when(b < _SPLIT_VAL, "val")
            .otherwise("test"),
        )
        .localCheckpoint(eager=False)
    )
    agg = assign.groupBy("split").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.countDistinct("rep").cast("long").alias("n_clusters"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
    )
    sa = assign.select(F.col("doc_id").alias("doc_a"), F.col("split").alias("split_a"))
    sb = assign.select(F.col("doc_id").alias("doc_b"), F.col("split").alias("split_b"))
    straddle = (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(F.col("split_a") != F.col("split_b"))
        .agg(F.count(F.lit(1)).cast("long").alias("straddle_pairs"))
    )
    return agg.crossJoin(F.broadcast(straddle))

#: Span width for duplicated-span coverage: 8-token grams — long
#: enough that a shared gram implies copied text, short enough that
#: a copied paragraph contributes many positions.
_SPAN_N = 8


def _span_gram_sql() -> str:
    from week4_musemotion_spark.queries.extensions import _shingle_expr

    return f"""tok AS (SELECT doc_id, source, list_filter(string_split_regex(text, '\\s+'), w -> w != '') AS ts FROM documents),
    g AS (SELECT doc_id, source, unnest({_shingle_expr(_SPAN_N)}) AS s FROM tok WHERE len(ts) >= {_SPAN_N})"""


@query(
    "q_dup_span_coverage",
    covers=("X-DUP-SPAN-COVERAGE",),
    oracle=f"""
    WITH {_span_gram_sql()},
    hx AS (SELECT doc_id, source, {stable_hash64_sql('s')} AS h FROM g),
    gs AS (
        SELECT h, source, count(*) AS cnt, count(DISTINCT doc_id) AS nd_s
        FROM hx GROUP BY 1, 2
    ),
    w AS (SELECT *, sum(nd_s) OVER (PARTITION BY h) AS nd FROM gs)
    SELECT source,
           CAST(sum(cnt) AS BIGINT) AS n_spans,
           CAST(sum(CASE WHEN nd >= 2 THEN cnt ELSE 0 END) AS BIGINT) AS dup_spans,
           CAST(CAST(sum(CASE WHEN nd >= 2 THEN cnt ELSE 0 END) AS HUGEINT) * 1000000
                // CAST(sum(cnt) AS HUGEINT) AS BIGINT) AS coverage_ppm
    FROM w GROUP BY source
    """,
)
def q_dup_span_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated-span coverage per source: of all 8-token gram
    positions, how many carry a gram that also occurs in at least one
    OTHER document (corpus-wide, in ppm).  This is the signal behind
    exact-substring dedup (Lee et al. 2022): document-level near-dup
    scores miss the case where only a boilerplate paragraph repeats
    across otherwise-distinct pages, while span coverage surfaces
    exactly the share of text a substring-dedup pass would cut.

    Plan: one corpus explode → one shuffle of the gram stream keyed
    (hash, doc, source) — grams never travel, 8-byte keys do — whose
    groups are exactly one row per (gram, document), so the window
    over the gram hash counts ROWS to get distinct-docs-per-gram (no
    countDistinct expansion, which would cost an extra full-width
    exchange); a final |sources| aggregate emits exact integer ppm.
    Hash collisions could in principle glue two distinct grams
    (p ~ n²/2^61 — negligible), and the oracle uses the same hash,
    so both engines see the identical value."""
    from week4_musemotion_spark.functions.text import shingles, tokens
    from week4_musemotion_spark.sources.tables import spread

    # spread: parallelize explode+hash above a single-row-group scan
    d = spread(load_table(spark, sf_dir, "documents").select("doc_id", "source", "text"))
    g = d.select(
        "doc_id", "source", F.explode(shingles(tokens("text"), _SPAN_N)).alias("s")
    ).select("doc_id", "source", stable_hash64(F.col("s")).alias("h"))
    # one row per (gram, doc): cnt = occurrences of the gram in the doc
    gd = g.groupBy("h", "doc_id", "source").agg(F.count(F.lit(1)).alias("cnt"))
    w = gd.withColumn("nd", F.count(F.lit(1)).over(Window.partitionBy("h")))
    dup = F.sum(F.when(F.col("nd") >= 2, F.col("cnt")).otherwise(F.lit(0)))
    return w.groupBy("source").agg(
        F.sum("cnt").cast("long").alias("n_spans"),
        dup.cast("long").alias("dup_spans"),
        int_div_trunc(dec(dup) * 1_000_000, F.sum("cnt")).alias("coverage_ppm"),
    )

# ---------------------------------------------------------------------------
# Winnowing (Schleimer, Wilkerson, Aiken 2003 — "Winnowing: Local
# Algorithms for Document Fingerprinting", the MOSS fingerprinter)
# ---------------------------------------------------------------------------

#: k-gram size for winnowing: 4 tokens — the noise threshold (any
#: shared 4-token gram counts as a match candidate).
_WK = 4
#: Window size w: every window of 8 consecutive gram hashes selects
#: one fingerprint, guaranteeing detection of shared runs of at least
#: w + k - 1 = 11 tokens while keeping ~2/(w+1) of positions.
_WW = 8
#: Packed-key layout: key = (hash % 2^40) * 2^20 + (2^20 - 1 - pos).
#: min(key) over a window is then EXACTLY winnowing's base rule
#: ("select the minimum hash; if there is more than one, select the
#: rightmost" — robust winnowing additionally prefers the previous
#: window's pick, which a pure window-min deliberately does NOT do) —
#: the position complement makes larger positions compare smaller
#: within a tied hash — and both halves unpack with pure integer
#: shifts.  40 + 20 = 60 bits keeps the key inside the engines'
#: shared BIGINT range; positions are bounded by the 2^20-token
#: document contract (testdata max is ~1e3), and BOTH engines raise
#: on a violating document rather than silently corrupting keys.
_H40 = 1 << 40
_POSM = 1 << 20

#: Pair-report knobs: prints shared by more than _WP_MAXDF docs are
#: boilerplate (stop-print cutoff — bounds the equi-join fanout the
#: same way stop-grams bound q_substring_runs); pairs need >=
#: _WP_MIN_SHARED surviving shared prints to report.
_WP_MAXDF = 16
_WP_MIN_SHARED = 3
_WP_TOPK = 200


def _gram_sql(n: int, cols: str = "doc_id", prefix: str = "") -> str:
    """Shared oracle CTE chain ``{prefix}tok`` → ``{prefix}g``:
    whitespace tokens → positioned n-gram stream (DuckDB zips the two
    unnests in one SELECT — lockstep expansion, exactly Spark's
    posexplode).  ONE definition serves the winnowing, substring-run,
    and shingle-SimHash oracles so a tokenization fix cannot
    desynchronize them (the Spark twin is ``functions.text.tokens``/
    ``shingles``, already shared).  ``prefix`` namespaces the CTEs
    when composed with other chains that also tokenize (e.g.
    _jaccard_ctes' own ``tok``)."""
    return f"""{prefix}tok AS (SELECT {cols}, list_filter(string_split_regex(text, '\\s+'), w -> w != '') AS ts FROM documents),
    {prefix}g AS (SELECT {cols}, unnest({_shingle_expr(n)}) AS s,
                 unnest(range(0, len(ts) - {n - 1})) AS pos
          FROM {prefix}tok WHERE len(ts) >= {n})"""


def _winnow_sel_sql(prefix: str = "") -> str:
    """Shared oracle CTE chain: documents → gram stream with
    positions → packed keys → per-window min (``sel(doc_id, source,
    pos, selkey)``).  DuckDB zips the two unnests in one SELECT
    (lockstep expansion), which is exactly Spark's posexplode.
    ``prefix`` namespaces every CTE for composition with chains that
    also tokenize (forwarded to :func:`_gram_sql`)."""
    h = stable_hash64_sql("s")
    return f"""{_gram_sql(_WK, cols="doc_id, source", prefix=prefix)},
    {prefix}k AS (SELECT doc_id, source, pos,
                 ({h} % {_H40}) * {_POSM}
                 + ({_POSM - 1} - CASE WHEN pos < {_POSM} THEN pos
                                       ELSE error('winnow: document exceeds the 2^20-token contract') END) AS key
          FROM {prefix}g),
    {prefix}sel AS (SELECT doc_id, source, pos,
                   min(key) OVER (PARTITION BY doc_id ORDER BY pos
                                  ROWS BETWEEN {_WW - 1} PRECEDING AND CURRENT ROW) AS selkey
            FROM {prefix}k)"""


def _winnow_selected(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of :func:`_winnow_sel_sql`: one posexplode, one
    window-min — no argmin subquery, no position self-join.  The
    window partitions by (doc_id, source) so the per-doc aggregate
    downstream reuses the same hash partitioning (source is constant
    within a doc — same semantics, one Exchange total)."""
    d = spread(load_table(spark, sf_dir, "documents").select("doc_id", "source", "text"))
    from week4_musemotion_spark.functions.text import shingles, tokens

    g = d.select(
        "doc_id", "source", F.posexplode(shingles(tokens("text"), _WK)).alias("pos", "s")
    )
    # contract guard: a pos >= 2^20 would bleed the position
    # complement into the hash field, silently inverting the
    # tie-break — fail loudly instead (assert must ride the USED
    # expression or Catalyst prunes it; the oracle raises via the
    # matching CASE/error() in _winnow_sel_sql)
    pos_ok = F.assert_true(
        F.col("pos") < _POSM,
        F.lit("winnow: document exceeds the 2^20-token contract"),
    )
    key = (stable_hash64(F.col("s")) % F.lit(_H40)) * F.lit(_POSM) + (
        F.lit(_POSM - 1) - F.when(pos_ok.isNull(), F.col("pos"))
    )
    w = (
        Window.partitionBy("doc_id", "source")
        .orderBy("pos")
        .rowsBetween(-(_WW - 1), Window.currentRow)
    )
    return g.select("doc_id", "source", "pos", F.min(key).over(w).alias("selkey"))


@query(
    "q_winnow_density",
    covers=("X-WINNOW-DENSITY",),
    oracle=f"""
    WITH {_winnow_sel_sql()},
    pd AS (
        SELECT doc_id, source, max(pos) + 1 AS n_grams,
               count(DISTINCT CASE WHEN pos >= {_WW - 1} THEN selkey END) AS n_prints
        FROM sel GROUP BY 1, 2
    )
    SELECT source,
           CAST(sum(n_grams) AS BIGINT) AS n_grams,
           CAST(sum(n_prints) AS BIGINT) AS n_prints,
           CAST(CAST(sum(n_prints) AS HUGEINT) * 1000000
                // CAST(sum(n_grams) AS HUGEINT) AS BIGINT) AS density_ppm
    FROM pd GROUP BY source
    """,
)
def q_winnow_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint density per source: selected prints /
    gram positions, expected ≈ 2/(w+1) ≈ 222k ppm for w=8 (the paper's
    density bound for random hashes) — a drifting density flags a
    degenerate token distribution (e.g. boilerplate floods) before
    any pair join runs.

    Plan: posexplode → ONE window-min (packed key carries the
    rightmost-min tie-break) → per-doc aggregate on the SAME
    (doc_id, source) keys — Catalyst plans a single Exchange for
    window + both aggregates; prints never leave their doc partition.
    Windows shorter than w (pos < w-1) are warm-up rows, excluded
    exactly as the paper defines; docs shorter than k grams contribute
    nothing on either engine."""
    sel = _winnow_selected(spark, sf_dir)
    per_doc = sel.groupBy("doc_id", "source").agg(
        (F.max("pos") + 1).alias("n_grams"),
        F.countDistinct(
            F.when(F.col("pos") >= _WW - 1, F.col("selkey"))
        ).alias("n_prints"),
    )
    np_, ng = F.sum("n_prints"), F.sum("n_grams")
    return per_doc.groupBy("source").agg(
        ng.cast("long").alias("n_grams"),
        np_.cast("long").alias("n_prints"),
        int_div_trunc(dec(np_) * 1_000_000, ng).alias("density_ppm"),
    )


@query(
    "q_winnow_pairs",
    covers=("X-WINNOW-PAIRS",),
    oracle=f"""
    WITH {_winnow_sel_sql()},
    fp AS (SELECT DISTINCT doc_id, selkey >> 20 AS ph
           FROM sel WHERE pos >= {_WW - 1}),
    st AS (SELECT doc_id, ph,
                  count(*) OVER (PARTITION BY ph) AS nd,
                  count(*) OVER (PARTITION BY doc_id) AS nsz
           FROM fp),
    cap AS (SELECT * FROM st WHERE nd <= {_WP_MAXDF}),
    pr AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared,
               min(a.nsz) AS na, min(b.nsz) AS nb
        FROM cap a JOIN cap b ON a.ph = b.ph AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           CAST(shared AS BIGINT) AS shared_prints,
           CAST(na AS BIGINT) AS na_prints,
           CAST(nb AS BIGINT) AS nb_prints,
           CAST(shared * 1000000 // least(na, nb) AS BIGINT) AS containment_ppm
    FROM pr WHERE shared >= {_WP_MIN_SHARED}
    ORDER BY shared DESC, doc_a, doc_b LIMIT {_WP_TOPK}
    """,
)
def q_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-overlap pairs via shared winnowed fingerprints — the
    MOSS report: top pairs by shared print count with a
    containment score against the smaller doc's print set.

    Scale story: the join runs over the winnowed INDEX (~2/(w+1) ≈
    22% of gram positions, distinct-ed per doc), not the gram stream,
    and the stop-print cutoff (prints in > {_WP_MAXDF} docs are
    boilerplate) caps per-key fanout, so candidate volume tracks true
    overlap, never corpus².  The winnowing guarantee bounds recall
    BELOW the cutoff: any shared run of w+k-1 = 11 tokens shares at
    least one selected print on both sides (same hash, same local
    window content), so pairwise overlaps cannot evade the 8× index
    shrink.  The cutoff is a deliberate precision/size trade with a
    known blind spot: content replicated across MORE than
    {_WP_MAXDF} docs loses ALL its prints here — by design, because
    such mega-clusters are the exact-dedup layer's job
    (q_dedup_exact / q_provenance_bits catch byte-identical
    replication at any cluster size; MOSS drops high-df prints for
    the same reason).  LIMIT rides a total order (shared DESC,
    doc_a, doc_b)."""
    sel = _winnow_selected(spark, sf_dir)
    fp = (
        sel.filter(F.col("pos") >= _WW - 1)
        .select("doc_id", F.shiftright("selkey", 20).alias("ph"))
        .distinct()
    )
    st = fp.select(
        "doc_id",
        "ph",
        F.count(F.lit(1)).over(Window.partitionBy("ph")).alias("nd"),
        F.count(F.lit(1)).over(Window.partitionBy("doc_id")).alias("nsz"),
    )
    cap = st.filter(F.col("nd") <= _WP_MAXDF)
    a = cap.select(F.col("doc_id").alias("doc_a"), "ph", F.col("nsz").alias("nsa"))
    b = cap.select(F.col("doc_id").alias("doc_b"), "ph", F.col("nsz").alias("nsb"))
    pr = (
        a.join(b, "ph")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(
            F.count(F.lit(1)).alias("shared"),
            F.min("nsa").alias("na"),
            F.min("nsb").alias("nb"),
        )
        .filter(F.col("shared") >= _WP_MIN_SHARED)
    )
    return (
        pr.select(
            "doc_a",
            "doc_b",
            F.col("shared").cast("long").alias("shared_prints"),
            F.col("na").cast("long").alias("na_prints"),
            F.col("nb").cast("long").alias("nb_prints"),
            int_div_trunc(
                dec(F.col("shared")) * 1_000_000, F.least("na", "nb")
            ).alias("containment_ppm"),
        )
        .orderBy(F.desc("shared_prints"), "doc_a", "doc_b")
        .limit(_WP_TOPK)
    )


# ---------------------------------------------------------------------------
# Maximal duplicated-substring runs (exact-substring dedup signal —
# Lee et al. 2022, "Deduplicating Training Data Makes Language Models
# Better"; suffix-array substring dedup re-expressed as
# gram-anchored gaps-and-islands)
# ---------------------------------------------------------------------------

#: Gram anchor size for run detection (tokens): shared 8-grams imply
#: copied text on this vocabulary.
_RUN_N = 8
#: Stop-gram cutoff: grams occurring in more than this many docs are
#: template boilerplate; skipping them bounds the position join at
#: O(df² · positions) per gram — the standard suffix-dedup trick.
_RUN_MAXDF = 4
#: A "run" must chain at least this many consecutive aligned grams
#: (2 grams ⇒ ≥ n+1 = 9 copied tokens) — single-gram hits are noise.
_RUN_MIN_GRAMS = 2
_RUN_TOPK = 100


@query(
    "q_substring_runs",
    covers=("X-SUBSTRING-RUNS",),
    oracle=f"""
    WITH {_gram_sql(_RUN_N)},
    hx AS (SELECT doc_id, pos, {stable_hash64_sql("s")} AS h FROM g),
    df AS (SELECT h, count(DISTINCT doc_id) AS nd FROM hx GROUP BY h),
    keep AS (SELECT hx.* FROM hx JOIN df USING (h) WHERE df.nd BETWEEN 2 AND {_RUN_MAXDF}),
    mt AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.pos AS pa, a.pos - b.pos AS diag
        FROM keep a JOIN keep b ON a.h = b.h AND a.doc_id < b.doc_id
    ),
    isl AS (
        SELECT doc_a, doc_b, diag, pa,
               pa - row_number() OVER (PARTITION BY doc_a, doc_b, diag ORDER BY pa) AS grp
        FROM mt
    ),
    runs AS (
        SELECT doc_a, doc_b, count(*) AS grams, min(pa) AS start_a
        FROM isl GROUP BY doc_a, doc_b, diag, grp
        HAVING count(*) >= {_RUN_MIN_GRAMS}
    )
    SELECT doc_a, doc_b,
           CAST(max(grams) + {_RUN_N - 1} AS BIGINT) AS longest_run_tokens,
           CAST(count(*) AS BIGINT) AS n_runs,
           CAST(sum(grams) AS BIGINT) AS run_grams
    FROM runs GROUP BY doc_a, doc_b
    ORDER BY longest_run_tokens DESC, doc_a, doc_b LIMIT {_RUN_TOPK}
    """,
)
def q_substring_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal duplicated-substring runs between document pairs:
    aligned gram matches (same hash, same position diagonal)
    collapsed into maximal consecutive runs via gaps-and-islands
    (pos - row_number is constant exactly within a consecutive run),
    reported as exact token lengths (grams + n - 1).

    This is the per-pair signal of exact-substring dedup: a
    boilerplate paragraph repeated across otherwise-distinct pages
    shows up as one long run even when whole-doc Jaccard stays below
    every near-dup threshold.

    Plan shape: gram stream → doc-frequency filter (2 ≤ df ≤
    {_RUN_MAXDF}: unique grams can't match, high-df grams are
    template stop-grams — this caps join fanout) → position
    equi-join on the 8-byte hash → one window + two aggregates all
    keyed by (doc_a, doc_b[, diag]) — the window's partitioning is
    reused by both groupBys, so the run analysis costs one Exchange
    after the join.  Hash collisions gluing different grams appear
    with p ≈ n²/2^61 and the oracle hashes identically, so both
    engines agree bit-for-bit regardless."""
    from week4_musemotion_spark.functions.text import shingles, tokens

    d = spread(load_table(spark, sf_dir, "documents").select("doc_id", "text"))
    g = d.select("doc_id", F.posexplode(shingles(tokens("text"), _RUN_N)).alias("pos", "s"))
    hx = g.select("doc_id", "pos", stable_hash64(F.col("s")).alias("h"))
    wdf = Window.partitionBy("h")
    # distinct-docs-per-gram without countDistinct: dense_rank over
    # doc_id peaks at the distinct count; max over the partition
    # broadcasts it back to every row (same single Exchange on h).
    ranked = hx.withColumn(
        "dr", F.dense_rank().over(Window.partitionBy("h").orderBy("doc_id"))
    ).withColumn("nd", F.max("dr").over(wdf))
    keep = ranked.filter((F.col("nd") >= 2) & (F.col("nd") <= _RUN_MAXDF)).select(
        "doc_id", "pos", "h"
    )
    a = keep.select(F.col("doc_id").alias("doc_a"), F.col("pos").alias("pa"), "h")
    b = keep.select(F.col("doc_id").alias("doc_b"), F.col("pos").alias("pb"), "h")
    mt = (
        a.join(b, "h")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "pa", (F.col("pa") - F.col("pb")).alias("diag"))
    )
    wisl = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pa")
    isl = mt.withColumn("grp", F.col("pa") - F.row_number().over(wisl))
    runs = (
        isl.groupBy("doc_a", "doc_b", "diag", "grp")
        .agg(F.count(F.lit(1)).alias("grams"))
        .filter(F.col("grams") >= _RUN_MIN_GRAMS)
    )
    return (
        runs.groupBy("doc_a", "doc_b")
        .agg(
            (F.max("grams") + (_RUN_N - 1)).cast("long").alias("longest_run_tokens"),
            F.count(F.lit(1)).cast("long").alias("n_runs"),
            F.sum("grams").cast("long").alias("run_grams"),
        )
        .orderBy(F.desc("longest_run_tokens"), "doc_a", "doc_b")
        .limit(_RUN_TOPK)
    )


# ---------------------------------------------------------------------------
# Detector agreement (Cohen's kappa, exact integer ppm)
# ---------------------------------------------------------------------------

#: Kappa algebra over a `sim(doc_a, doc_b)` CTE + the Jaccard `pairs`
#: CTE — ONE definition shared by both agreement queries so the two
#: kappa lines can never disagree on the statistic itself.
_KAPPA_TAIL_SQL = """
    jac AS (SELECT doc_a, doc_b FROM pairs),
    u AS (
        SELECT coalesce(s.doc_a, j.doc_a) AS doc_a,
               CASE WHEN s.doc_a IS NOT NULL THEN 1 ELSE 0 END AS sf,
               CASE WHEN j.doc_a IS NOT NULL THEN 1 ELSE 0 END AS jf
        FROM sim s FULL OUTER JOIN jac j
          ON s.doc_a = j.doc_a AND s.doc_b = j.doc_b
    ),
    c AS (
        SELECT CAST(sum(sf * jf) AS HUGEINT) AS both_cnt,
               CAST(sum(sf * (1 - jf)) AS HUGEINT) AS only_sim,
               CAST(sum((1 - sf) * jf) AS HUGEINT) AS only_jac
        FROM u
    ),
    n AS (SELECT CAST(count(*) AS HUGEINT) AS nd FROM documents),
    k AS (
        SELECT nd, nd * (nd - 1) // 2 AS np, both_cnt, only_sim, only_jac,
               nd * (nd - 1) // 2 - both_cnt - only_sim - only_jac AS neither
        FROM c CROSS JOIN n
    ),
    k2 AS (
        SELECT *,
               np * (both_cnt + neither)
                 - ((both_cnt + only_sim) * (both_cnt + only_jac)
                    + (np - both_cnt - only_sim) * (np - both_cnt - only_jac)) AS num,
               np * np
                 - ((both_cnt + only_sim) * (both_cnt + only_jac)
                    + (np - both_cnt - only_sim) * (np - both_cnt - only_jac)) AS den
        FROM k
    )
    SELECT CAST(nd AS BIGINT) AS n_docs,
           CAST(np AS BIGINT) AS n_pairs,
           CAST(both_cnt AS BIGINT) AS both_dup,
           CAST(only_sim AS BIGINT) AS simhash_only,
           CAST(only_jac AS BIGINT) AS jaccard_only,
           CAST((both_cnt + neither) * 1000000 // np AS BIGINT) AS agree_ppm,
           CAST(CASE WHEN num >= 0 THEN (num * 1000000) // den
                     ELSE -((-num * 1000000) // den) END AS BIGINT) AS kappa_ppm
    FROM k2"""


def _kappa_report(docs: DataFrame, sim: DataFrame, jac: DataFrame) -> DataFrame:
    """Spark twin of :data:`_KAPPA_TAIL_SQL`: exact-integer Cohen's
    kappa (decimal(38,0) throughout) between two pair detectors over
    the full C(n,2) universe, negative-negative cell by subtraction —
    the pair universe never materializes."""
    sim = sim.select("doc_a", "doc_b", F.lit(1).alias("sf"))
    jac = jac.select("doc_a", "doc_b", F.lit(1).alias("jf"))
    u = sim.join(jac, ["doc_a", "doc_b"], "full_outer").select(
        F.coalesce("sf", F.lit(0)).alias("sf"), F.coalesce("jf", F.lit(0)).alias("jf")
    )
    c = u.agg(
        F.sum(F.col("sf") * F.col("jf")).alias("both_cnt"),
        F.sum(F.col("sf") * (1 - F.col("jf"))).alias("only_sim"),
        F.sum((1 - F.col("sf")) * F.col("jf")).alias("only_jac"),
    )
    n = docs.agg(F.count(F.lit(1)).alias("nd"))
    k = c.crossJoin(n)  # 1-row × 1-row

    nd, bo, os_, oj = dec(F.col("nd")), dec(F.col("both_cnt")), dec(F.col("only_sim")), dec(F.col("only_jac"))
    np_ = int_div_trunc(nd * (nd - 1), F.lit(2))
    npd = dec(np_)
    neither = npd - bo - os_ - oj
    pos_s, pos_j = bo + os_, bo + oj
    neg_s, neg_j = npd - pos_s, npd - pos_j
    num = npd * (bo + neither) - (pos_s * pos_j + neg_s * neg_j)
    den = npd * npd - (pos_s * pos_j + neg_s * neg_j)
    kmag = int_div_trunc(F.abs(num) * 1_000_000, den)
    return k.select(
        F.col("nd").cast("long").alias("n_docs"),
        np_.alias("n_pairs"),
        F.col("both_cnt").cast("long").alias("both_dup"),
        F.col("only_sim").cast("long").alias("simhash_only"),
        F.col("only_jac").cast("long").alias("jaccard_only"),
        int_div_trunc((bo + neither) * 1_000_000, npd).alias("agree_ppm"),
        F.when(num >= 0, kmag).otherwise(-kmag).cast("long").alias("kappa_ppm"),
    )


@query(
    "q_detector_agreement",
    covers=("X-DETECTOR-AGREEMENT",),
    oracle=f"""
    WITH sh2 AS ({_simhash_sql(_SIMHASH_PAIR_BITS)}),
    sim AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM sh2 a JOIN sh2 b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= {_SIMHASH_MAX_HAMMING}
    ),
    {_jaccard_ctes(JACCARD_THRESHOLD)},
    {_KAPPA_TAIL_SQL}
    """,
)
def q_detector_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between the engine's two independent near-dup
    detectors — 63-bit SimHash (Hamming ≤ 1) and exact 3-gram Jaccard
    (≥ 0.8) — over the full C(n,2) pair universe, in exact integer
    ppm (decimal(38,0) throughout: n_pairs² · 10^6 passes 2^63 well
    below warehouse scale, and a silent long wrap here would read as
    a detector-rot alarm).

    Chance-corrected agreement is the right monitor for paired
    detectors: raw agreement is ≈ 1 by construction (almost all pairs
    are negatives for both), so only kappa moves when one detector
    starts drifting.  The pair universe never materializes — the
    negative-negative cell is computed by subtraction from C(n,2).

    Baseline note: on this corpus kappa is small (~12k ppm) because
    the two detectors deliberately target different similarity bands
    — SimHash Hamming≤1 is a loose cosine band that fires on
    stopword-dominated pairs Jaccard 0.8 rejects — yet both_dup sits
    ~30× above the independence expectation, so kappa stays strictly
    positive.  The monitor thresholds on DRIFT of the whole
    confusion row (both/only_sim/only_jac/kappa), not on a large
    absolute kappa.

    Both detectors are already oracle-pinned individually
    (q_dedup_simhash_pairs, q_dedup_ngram_jaccard); this query pins
    their JOINT distribution."""
    docs = load_table(spark, sf_dir, "documents")
    return _kappa_report(
        docs,
        simhash_pairs(docs, _SIMHASH_MAX_HAMMING, bits=_SIMHASH_PAIR_BITS),
        jaccard_pairs(docs, JACCARD_THRESHOLD),
    )


# ---------------------------------------------------------------------------
# Shingle-space SimHash (feature-space fix the kappa monitor demanded)
# ---------------------------------------------------------------------------

#: SimHash over distinct word 3-grams — the SAME feature space the
#: Jaccard detector measures.  The unigram detector collapses on this
#: corpus (a small shared vocabulary correlates votes corpus-wide:
#: 611 firings vs Jaccard's 28, overlap 4, kappa 0.012); in shingle
#: space Hamming ≤ 4 of 63 bits fires almost exactly on the Jaccard
#: pair set (kappa ~0.9).  Banding: 5 bands of 13 bits, pigeonhole
#: recall intact.
_NG_SIMHASH_N = 3
_NG_SIMHASH_HAM = 4


def _simhash_ngram_sql(bits: int, n: int) -> str:
    """Oracle CTE chain ending in ``sig(doc_id, simhash)``: SimHash
    votes over per-doc DISTINCT shingle HASHES (the Spark side dedups
    on the same 60-bit portable hash, so the vote multiset is defined
    identically even under an md5 collision; group-by formulation —
    same sign rule as extensions._simhash_sql's list form)."""
    h = stable_hash64_sql("s")
    terms = " + ".join(
        f"CASE WHEN sum(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) > 0 "
        f"THEN CAST({1 << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END"
        for j in range(bits)
    )
    return f"""{_gram_sql(n, prefix="sh_")},
    hxs AS (SELECT DISTINCT doc_id, {h} AS h FROM sh_g),
    sig AS (SELECT doc_id, CAST({terms} AS BIGINT) AS simhash FROM hxs GROUP BY doc_id)"""


@query(
    "q_dedup_simhash_ngram",
    covers=("X-DEDUP-SIMHASH-NGRAM",),
    oracle=f"""
    WITH {_simhash_ngram_sql(_SIMHASH_PAIR_BITS, _NG_SIMHASH_N)}
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
    FROM sig a JOIN sig b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {_NG_SIMHASH_HAM}
    """,
)
def q_dedup_simhash_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs in SHINGLE feature space (distinct word
    3-grams, 63 bits, Hamming ≤ 4) — the detector the kappa monitor
    says to actually pair with n-gram Jaccard: same feature sets, so
    small Hamming distance tracks high shingle-Jaccard instead of
    unigram-vocabulary overlap (measured: every Hamming≤4 pair on
    this corpus is also a Jaccard≥0.8 pair).

    Plan: identical banded shape to q_dedup_simhash_pairs (pigeonhole
    over 5 bands of 13 bits — perfect recall, bucket equi-join, XOR
    verify), only the vote stream is the shingle explode.  Oracle is
    the exact quadratic scan over signatures."""
    return simhash_pairs(
        load_table(spark, sf_dir, "documents"),
        _NG_SIMHASH_HAM,
        bits=_SIMHASH_PAIR_BITS,
        ngram=_NG_SIMHASH_N,
    )


@query(
    "q_detector_agreement_ngram",
    covers=("X-DETECTOR-AGREEMENT-NGRAM",),
    oracle=f"""
    WITH {_simhash_ngram_sql(_SIMHASH_PAIR_BITS, _NG_SIMHASH_N)},
    sim AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM sig a JOIN sig b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= {_NG_SIMHASH_HAM}
    ),
    {_jaccard_ctes(JACCARD_THRESHOLD)},
    {_KAPPA_TAIL_SQL}
    """,
)
def q_detector_agreement_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between shingle-space SimHash (Hamming ≤ 4) and
    3-gram Jaccard (≥ 0.8) — the after picture to
    q_detector_agreement's before: moving SimHash into the feature
    space the Jaccard detector measures lifts kappa from ~0.012 to
    ~0.9 on this corpus (the pair of kappa lines is itself the
    monitor: a detector change that re-opens the gap is a
    regression).  Same exact-integer algebra, same shared
    _KAPPA_TAIL_SQL — the two agreement queries cannot drift apart on
    the statistic.

    Plan: both detectors measure the SAME word-3-gram feature space,
    so one tokenize+shingle pass feeds both — the distinct (_id, s)
    shingle table is built once and persisted; SimHash hashes it with
    the portable md5 family, Jaccard with xxhash64 (each detector's
    own dedup/distinct is unchanged, so both pair sets are
    bit-identical to their standalone queries)."""
    docs = load_table(spark, sf_dir, "documents")
    from week4_musemotion_spark.operators.dedup import shingle_strings

    shd = shingle_strings(docs).distinct().persist()
    return _kappa_report(
        docs,
        simhash_pairs(
            docs,
            _NG_SIMHASH_HAM,
            bits=_SIMHASH_PAIR_BITS,
            ngram=_NG_SIMHASH_N,
            shingles=shd,
        ),
        jaccard_pairs(docs, JACCARD_THRESHOLD, shingles=shd),
    )


# ---------------------------------------------------------------------------
# Provenance bitmasks
# ---------------------------------------------------------------------------


@query(
    "q_provenance_bits",
    covers=("X-PROVENANCE-BITS",),
    oracle=f"""
    WITH r AS (
        SELECT source,
               CAST(row_number() OVER (ORDER BY source) - 1 AS BIGINT) AS rk
        FROM (SELECT DISTINCT source FROM documents)
    ),
    g AS (
        SELECT {stable_hash64_sql("text")} AS h,
               (CAST(1 AS BIGINT) << r.rk) AS bitv
        FROM documents d JOIN r USING (source)
    ),
    g1 AS (SELECT h, bit_or(bitv) AS mask, count(*) AS ndocs FROM g GROUP BY h)
    SELECT mask,
           CAST(bit_count(mask) AS BIGINT) AS n_sources,
           CAST(count(*) AS BIGINT) AS n_groups,
           CAST(sum(ndocs) AS BIGINT) AS n_docs
    FROM g1 GROUP BY mask
    """,
)
def q_provenance_bits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-provenance bitmask per exact-content group: which
    EXACT combinations of sources ship byte-identical documents, how
    many groups and docs per combination.  Multi-bit masks are the
    cross-source contamination map (licensing/quota decisions need
    the combination, not just a source count — bit_count gives the
    count for free).

    Plan: sources get stable bit positions from a 20-row sorted
    rank (broadcast back), then ONE hash aggregate folds doc bits
    into group masks and a second tiny aggregate histograms the
    masks; bit_or is a map-side-combinable monoid, so the corpus
    shuffle carries one long per (content-hash, partition).  The
    mask stays in one BIGINT through |sources| ≤ 63 — beyond that,
    switch to a sorted source-set string (documented, not needed on
    this corpus's 20)."""
    d = load_table(spark, sf_dir, "documents")
    srcs = (
        d.select("source")
        .distinct()
        .withColumn("rk", F.row_number().over(Window.orderBy("source")) - 1)
    )
    # spread() before the md5-over-full-text hashing: a single-row-
    # group scan would otherwise compute every content hash in one
    # task (no-op on wide production scans)
    g = spread(d.select("source", "text")).join(F.broadcast(srcs), "source").select(
        stable_hash64(F.col("text")).alias("h"),
        F.expr("shiftleft(CAST(1 AS BIGINT), rk)").alias("bitv"),
    )
    g1 = g.groupBy("h").agg(
        F.bit_or("bitv").alias("mask"), F.count(F.lit(1)).alias("ndocs")
    )
    return g1.groupBy("mask").agg(
        F.bit_count("mask").cast("long").alias("n_sources"),
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.sum("ndocs").cast("long").alias("n_docs"),
    ).select("mask", "n_sources", "n_groups", "n_docs")


# ---------------------------------------------------------------------------
# Near-dup cluster forensics: source purity + quality bias
# ---------------------------------------------------------------------------

#: Recursive-CTE transitive closure over the Jaccard pair graph →
#: ``cl(doc_id, keep_id)`` — the shared fragment every dedup-cluster
#: oracle composes (extensions._closure_ctes).
_CLOSURE_SQL = _closure_ctes(JACCARD_THRESHOLD)


@query(
    "q_dup_cluster_purity",
    covers=("X-DUP-CLUSTER-PURITY",),
    oracle=f"""
    WITH RECURSIVE {_CLOSURE_SQL},
    mem AS (SELECT cl.keep_id, d.source
            FROM cl JOIN documents d USING (doc_id)),
    ps AS (SELECT keep_id, source, count(*) AS cnt FROM mem GROUP BY 1, 2),
    pc AS (SELECT keep_id,
                  CAST(sum(cnt) AS BIGINT) AS size,
                  CAST(count(*) AS BIGINT) AS n_sources,
                  max({{'c': cnt, 's': source}}) AS top
           FROM ps GROUP BY keep_id)
    SELECT keep_id AS cluster_id, size, n_sources,
           top.s AS majority_source,
           CAST(top.c * 1000000 // size AS BIGINT) AS purity_ppm
    FROM pc
    """,
)
def q_dup_cluster_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source purity per near-dup cluster: is duplication WITHIN a
    source (scraper re-crawl — fix the pipeline) or ACROSS sources
    (mirror sites / syndication — a licensing and quota question)?
    Reports cluster size, distinct sources, the majority source and
    its share in exact ppm.

    Plan: near-dup pairs (banded, never corpus²) → pointer-jumping
    connected components → ONE equi-join to recover sources → two
    nested aggregates (the second re-shuffles (keep_id, source) rows
    down to keep_id — hash partitioning on the pair does NOT satisfy
    keep_id clustering — but its input is already one row per
    cluster×source, negligible at any scale).  The majority source
    rides a struct-max
    (cnt, source) — lexicographic struct ordering in both engines,
    ties break to the larger source string deterministically.
    Oracle recomputes the closure with a recursive CTE, same as
    q_dedup_clusters'."""
    from week4_musemotion_spark.operators.graph import dedup_clusters

    docs = load_table(spark, sf_dir, "documents")
    clusters = dedup_clusters(jaccard_pairs(docs, JACCARD_THRESHOLD))
    mem = clusters.join(docs.select("doc_id", "source"), "doc_id")
    ps = mem.groupBy("keep_id", "source").agg(F.count(F.lit(1)).alias("cnt"))
    pc = ps.groupBy("keep_id").agg(
        F.sum("cnt").cast("long").alias("size"),
        F.count(F.lit(1)).cast("long").alias("n_sources"),
        F.max(F.struct(F.col("cnt").alias("c"), F.col("source").alias("s"))).alias("top"),
    )
    return pc.select(
        F.col("keep_id").alias("cluster_id"),
        "size",
        "n_sources",
        F.col("top.s").alias("majority_source"),
        int_div_trunc(dec(F.col("top.c")) * 1_000_000, F.col("size")).alias("purity_ppm"),
    )


@query(
    "q_dup_quality_bias",
    covers=("X-DUP-QUALITY-BIAS",),
    oracle=f"""
    WITH RECURSIVE {_CLOSURE_SQL},
    t AS (
        SELECT doc_id, source,
               list_filter(string_split_regex(text, '\\s+'), w -> w != '') AS ts
        FROM documents
    ),
    s9q AS (
        SELECT doc_id, source, len(ts) AS n_tokens,
               len(list_filter(ts, w -> w IN ({_STOPLIST_SQL}))) AS stop_cnt
        FROM t
    ),
    q AS (
        SELECT doc_id, source, n_tokens,
               {_quality_e4_sql("n_tokens", "stop_cnt")} AS quality_e4
        FROM s9q
    ),
    j AS (
        SELECT q.source, q.n_tokens, q.quality_e4,
               CASE WHEN cl.doc_id IS NOT NULL THEN 1 ELSE 0 END AS is_dup
        FROM q LEFT JOIN cl USING (doc_id)
    )
    SELECT source, CAST(is_dup AS BIGINT) AS is_dup,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(quality_e4) // count(*) AS BIGINT) AS mean_quality_e4,
           CAST(sum(n_tokens) // count(*) AS BIGINT) AS mean_tokens
    FROM j GROUP BY source, is_dup
    """,
)
def q_dup_quality_bias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality bias of near-dup membership, per source: mean quality
    score and length of documents inside vs outside near-dup
    clusters.  The question a dedup rollout must answer before
    deleting anything — if duplicated documents score systematically
    HIGHER than the rest of their source, a keep-one-per-cluster
    policy is deleting the best content and the keep rule should
    switch to keep-best (operators/dedup.keep_best exists for exactly
    that).

    Plan: quality features ride the corpus scan (quality_stats
    keep_cols — no join-back), cluster membership is ONE left join
    against the CC output, then a |sources|×2 aggregate.  Exact
    integer means (truncating division, both engines)."""
    from week4_musemotion_spark.operators.graph import dedup_clusters
    from week4_musemotion_spark.operators.textstats import quality_stats

    docs = load_table(spark, sf_dir, "documents")
    clusters = dedup_clusters(jaccard_pairs(docs, JACCARD_THRESHOLD))
    q = quality_stats(docs, keep_cols=("source",))
    j = q.join(clusters.select("doc_id", F.lit(1).alias("_m")), "doc_id", "left").select(
        "source",
        "n_tokens",
        "quality_e4",
        F.when(F.col("_m").isNotNull(), F.lit(1)).otherwise(F.lit(0)).cast("long").alias("is_dup"),
    )
    n = F.count(F.lit(1))
    return j.groupBy("source", "is_dup").agg(
        n.cast("long").alias("n_docs"),
        int_div_trunc(dec(F.sum("quality_e4")), n).alias("mean_quality_e4"),
        int_div_trunc(dec(F.sum("n_tokens")), n).alias("mean_tokens"),
    )

# ---------------------------------------------------------------------------
# Multiplicity-discounted corpus size
# ---------------------------------------------------------------------------


@query(
    "q_effective_tokens",
    covers=("X-EFFECTIVE-TOKENS",),
    oracle=f"""
    WITH RECURSIVE {_closure_ctes(JACCARD_THRESHOLD)},
    csz AS (SELECT keep_id, count(*) AS csize FROM cl GROUP BY keep_id),
    mem AS (SELECT cl.doc_id, csz.csize FROM cl JOIN csz USING (keep_id)),
    t AS (
        SELECT d.source,
               len(list_filter(string_split_regex(d.text, '\\s+'), w -> w != '')) AS n_tokens,
               coalesce(m.csize, 1) AS csize
        FROM documents d LEFT JOIN mem m USING (doc_id)
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS raw_tokens,
           CAST(sum(n_tokens * 1000000 // csize) AS BIGINT) AS effective_tokens_e6,
           CAST(CAST(sum(n_tokens * 1000000 // csize) AS HUGEINT) * 1000000
                // (CAST(sum(n_tokens) AS HUGEINT) * 1000000) AS BIGINT) AS retention_ppm
    FROM t GROUP BY source
    """,
)
def q_effective_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiplicity-discounted corpus size per source: every document
    contributes ``n_tokens / |its near-dup cluster|`` (singletons
    divide by 1), in exact millionths — the honest token budget for
    mixing weights.  Raw counts overstate syndicated sources; a
    hard keep-one dedup count understates sources whose duplicates
    are deliberate reprints; the discounted sum is the fixed point
    both converge to, and retention_ppm is the per-source "how much
    of it is really there" ratio.

    Plan: near-dup pairs (banded) → CC → cluster sizes joined back
    to members (two aggregates + one join on keep_id, all tiny) →
    ONE corpus scan left-joined to the membership table on doc_id —
    the token counting rides the scan projection; nothing quadratic
    anywhere.  Per-doc truncating division matches the oracle
    bit-for-bit (non-negative operands)."""
    docs = load_table(spark, sf_dir, "documents")
    from week4_musemotion_spark.functions.text import tokens

    clusters = jaccard_pairs(docs, JACCARD_THRESHOLD)
    from week4_musemotion_spark.operators.graph import dedup_clusters

    cl = dedup_clusters(clusters)
    csz = cl.groupBy("keep_id").agg(F.count(F.lit(1)).alias("csize"))
    mem = cl.join(csz, "keep_id").select("doc_id", "csize")
    t = (
        docs.select("doc_id", "source", F.size(tokens("text")).cast("long").alias("n_tokens"))
        .join(mem, "doc_id", "left")
        .select(
            "source",
            "n_tokens",
            F.coalesce("csize", F.lit(1)).alias("csize"),
        )
    )
    eff = F.sum(int_div_trunc(dec(F.col("n_tokens")) * 1_000_000, F.col("csize")))
    raw = F.sum("n_tokens")
    return t.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        raw.cast("long").alias("raw_tokens"),
        eff.cast("long").alias("effective_tokens_e6"),
        int_div_trunc(dec(eff) * 1_000_000, dec(raw) * 1_000_000).alias("retention_ppm"),
    )


# ---------------------------------------------------------------------------
# Winnowing recall vs exact Jaccard
# ---------------------------------------------------------------------------


@query(
    "q_winnow_recall",
    covers=("X-WINNOW-RECALL",),
    oracle=f"""
    WITH RECURSIVE {_jaccard_ctes(JACCARD_THRESHOLD)},
    jacp AS (SELECT doc_a, doc_b FROM pairs),
    {_winnow_sel_sql(prefix="w_")},
    fp AS (SELECT DISTINCT doc_id, selkey >> 20 AS ph
           FROM w_sel WHERE pos >= {_WW - 1}),
    wp AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
        FROM fp a JOIN fp b ON a.ph = b.ph AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    j AS (
        SELECT jacp.doc_a, coalesce(wp.shared, 0) AS shared
        FROM jacp LEFT JOIN wp USING (doc_a, doc_b)
    )
    SELECT CAST(count(*) AS BIGINT) AS jaccard_pairs,
           CAST(count(*) FILTER (shared >= 1) AS BIGINT) AS caught_1,
           CAST(count(*) FILTER (shared >= {_WP_MIN_SHARED}) AS BIGINT) AS caught_min,
           CAST(CAST(count(*) FILTER (shared >= 1) AS HUGEINT) * 1000000
                // greatest(count(*), 1) AS BIGINT) AS recall_1_ppm,
           CAST(min(shared) AS BIGINT) AS min_shared
    FROM j
    """,
)
def q_winnow_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall of the winnowed print index against the EXACT Jaccard
    detector: of all true near-dup pairs (3-gram Jaccard ≥ 0.8), how
    many share ≥1 winnowed print (the index would surface them) and
    how many clear the pair report's ≥{_WP_MIN_SHARED}-print bar —
    the certification query for trading the full gram stream for the
    2/(w+1) print index (ann_recall_report's role, played for the
    text side).  The winnowing guarantee predicts a catch whenever a
    shared CONTIGUOUS run is ≥ w+k−1 = 11 tokens — and it is exactly
    sharp here: sf0.001's single miss (27/28) is a Jaccard-0.8 pair
    of 11- and 10-token docs whose longest shared run is 10 tokens,
    one below the bound (verified by direct run enumeration).  A
    recall drop below the measured floor flags a broken selection;
    the boundary miss is the theory working as stated.

    Note this intentionally skips q_winnow_pairs' stop-print df
    cutoff: recall is a property of the INDEX, measured before
    precision filters.

    Plan: both pair sets are bucketed equi-joins (shingle buckets /
    print buckets), the comparison is one left join on the tiny true
    pair set, and the report is a single row."""
    docs = load_table(spark, sf_dir, "documents")
    # branch-reuse pins (SCALING.md): jac feeds the candidate set
    # (twice, via the union), the final left join, and the report —
    # and fp self-joins against itself; without lineage truncation
    # Catalyst re-plans the whole jaccard/winnow pipeline once per
    # branch (measured: 84 scans / 109 exchanges unpinned vs one
    # pipeline each pinned)
    jac = (
        jaccard_pairs(docs, JACCARD_THRESHOLD)
        .select("doc_a", "doc_b")
        .localCheckpoint(eager=False)
    )
    sel = _winnow_selected(spark, sf_dir)
    fp = (
        sel.filter(F.col("pos") >= _WW - 1)
        .select("doc_id", F.shiftright("selkey", 20).alias("ph"))
        .distinct()
    )
    # only prints of docs that appear in the (tiny) true pair set can
    # contribute a consumed row, so semi-join BEFORE the print
    # self-join — without it boilerplate prints fan out over the whole
    # corpus even though the left join reads only |jac| pairs (values
    # identical either way; the oracle keeps the unrestricted spec)
    cand = jac.select(F.col("doc_a").alias("doc_id")).union(
        jac.select(F.col("doc_b").alias("doc_id"))
    ).distinct()
    fp = fp.join(cand, "doc_id", "left_semi").localCheckpoint(eager=False)
    wp = (
        fp.select(F.col("doc_id").alias("doc_a"), "ph")
        .join(fp.select(F.col("doc_id").alias("doc_b"), "ph"), "ph")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    j = jac.join(wp, ["doc_a", "doc_b"], "left").select(
        F.coalesce("shared", F.lit(0)).alias("shared")
    )
    n = F.count(F.lit(1))
    # coalesce: a pair-free corpus must report 0, not NULL (the
    # oracle's count(*) FILTER yields 0 on empty input)
    caught1 = F.coalesce(F.sum(F.when(F.col("shared") >= 1, 1).otherwise(0)), F.lit(0))
    caught_min = F.coalesce(
        F.sum(F.when(F.col("shared") >= _WP_MIN_SHARED, 1).otherwise(0)), F.lit(0)
    )
    return j.agg(
        n.cast("long").alias("jaccard_pairs"),
        caught1.cast("long").alias("caught_1"),
        caught_min.cast("long").alias("caught_min"),
        int_div_trunc(dec(caught1) * 1_000_000, F.greatest(n, F.lit(1))).alias("recall_1_ppm"),
        F.min("shared").cast("long").alias("min_shared"),
    )


# ---------------------------------------------------------------------------
# MinHash-LSH banding tuner
# ---------------------------------------------------------------------------

#: Signature family size and the (bands, rows) grid it factors into.
_TUNE_HASHES = 16
_TUNE_CONFIGS = ((16, 1), (8, 2), (4, 4), (2, 8))

#: Pair domain (exact Jaccard >= this) and the "true dup" threshold
#: separating recall pairs from sub-threshold (false-positive proxy)
#: pairs — same constants as the MinHash fidelity audit.
_TUNE_MIN_JACCARD = 0.5
_TUNE_TRUE_E4 = 8000


@query(
    "q_band_tune",
    covers=("X-LSH-BAND-TUNE",),
    oracle=f"""
    WITH {_jaccard_ctes(_TUNE_MIN_JACCARD)},
    mh AS (
        SELECT sh.doc_id, s.k,
               min({stable_hash64_sql("sh.shingle", seed_expr="s.k")}) AS mv
        FROM sh CROSS JOIN (SELECT unnest(range(0, {_TUNE_HASHES})) AS k) s
        GROUP BY sh.doc_id, s.k
    ),
    jc AS (
        SELECT doc_a, doc_b,
               CAST((2 * i * 10000 + (na + nb - i)) // (2 * (na + nb - i)) AS BIGINT) AS jaccard_e4
        FROM pairs
    ),
    ag AS (
        SELECT j.doc_a, j.doc_b, a.k,
               CASE WHEN a.mv = b.mv THEN 1 ELSE 0 END AS eq
        FROM jc j
        JOIN mh a ON a.doc_id = j.doc_a
        JOIN mh b ON b.doc_id = j.doc_b AND b.k = a.k
    ),
    cfg AS (SELECT unnest([{", ".join(str(b) for b, _ in _TUNE_CONFIGS)}]) AS b,
                   unnest([{", ".join(str(r) for _, r in _TUNE_CONFIGS)}]) AS r),
    bh AS (
        SELECT doc_a, doc_b, cfg.b, cfg.r, ag.k // cfg.r AS band,
               min(eq) AS band_hit
        FROM ag CROSS JOIN cfg
        GROUP BY 1, 2, 3, 4, 5
    ),
    ph AS (SELECT doc_a, doc_b, b, r, max(band_hit) AS hit FROM bh GROUP BY 1, 2, 3, 4)
    SELECT CAST(ph.b AS BIGINT) AS bands, CAST(ph.r AS BIGINT) AS rows_per_band,
           CAST(count(*) FILTER (jaccard_e4 >= {_TUNE_TRUE_E4}) AS BIGINT) AS n_true,
           CAST(count(*) FILTER (jaccard_e4 >= {_TUNE_TRUE_E4} AND hit = 1) AS BIGINT) AS n_true_hit,
           CAST(count(*) FILTER (jaccard_e4 < {_TUNE_TRUE_E4}) AS BIGINT) AS n_sub,
           CAST(count(*) FILTER (jaccard_e4 < {_TUNE_TRUE_E4} AND hit = 1) AS BIGINT) AS n_sub_hit
    FROM ph JOIN jc ON jc.doc_a = ph.doc_a AND jc.doc_b = ph.doc_b
    GROUP BY 1, 2
    """,
)
def q_band_tune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH banding tuner: for each (bands, rows) factoring
    of the 16-seed portable signature family, the measured any-band-
    collision rate on true near-dup pairs (exact Jaccard >= 0.8 —
    recall) and on sub-threshold pairs (0.5 <= j < 0.8 — the false-
    positive pressure a config admits into verification).  This is
    the 1-(1-s^r)^b S-curve (Leskovec-Rajaraman-Ullman, MMDS ch. 3)
    evaluated on THIS corpus with the same signatures production
    banding uses, so a config choice is data, not formula: fewer
    rows per band = higher recall AND more sub-threshold candidates
    — the table shows both sides of that trade at once.

    Scale shape: the pair domain comes from the shingle equi-join
    (never all-pairs); signatures are one grouped aggregate over
    shingles pruned to pair members (broadcast semi-join); the band
    logic is pure column expressions over 16 columns — the config
    explode multiplies the PAIR table (tiny) by 4, never the
    corpus."""
    from week4_musemotion_spark.operators.dedup import _intersections, shingle_strings

    d = load_table(spark, sf_dir, "documents")
    shs = shingle_strings(d).distinct().persist()
    sh = shs.select("_id", F.col("s").alias("shingle"))
    pairs = (
        _intersections(None, sh)
        .filter(F.col("jac") >= _TUNE_MIN_JACCARD)
        .select("doc_a", "doc_b", "jaccard_e4")
        .localCheckpoint(eager=False)
    )
    members = (
        pairs.select(F.col("doc_a").alias("_id"))
        .unionByName(pairs.select(F.col("doc_b").alias("_id")))
        .distinct()
    )
    sig = (
        shs.join(F.broadcast(members), "_id", "semi")
        .groupBy("_id")
        .agg(
            *[
                F.min(stable_hash64(F.col("s"), seed=k)).alias(f"mh_{k}")
                for k in range((_TUNE_HASHES))
            ]
        )
    )
    a = sig.select(F.col("_id").alias("doc_a"), *[F.col(f"mh_{k}").alias(f"a_{k}") for k in range(_TUNE_HASHES)])
    b = sig.select(F.col("_id").alias("doc_b"), *[F.col(f"mh_{k}").alias(f"b_{k}") for k in range(_TUNE_HASHES)])

    def hit(bands: int, rows: int) -> F.Column:
        band_hits = []
        for band in range(bands):
            ks = range(band * rows, band * rows + rows)
            conj = None
            for k in ks:
                eq = F.col(f"a_{k}") == F.col(f"b_{k}")
                conj = eq if conj is None else (conj & eq)
            band_hits.append(conj)
        disj = band_hits[0]
        for bh in band_hits[1:]:
            disj = disj | bh
        return disj

    cfg = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(bnd).alias("bands"),
                    F.lit(r).alias("rows_per_band"),
                    hit(bnd, r).alias("hit"),
                )
                for bnd, r in _TUNE_CONFIGS
            ]
        )
    ).alias("cfg")
    is_true = F.col("jaccard_e4") >= _TUNE_TRUE_E4
    return (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .select("jaccard_e4", cfg)
        .select("jaccard_e4", "cfg.bands", "cfg.rows_per_band", "cfg.hit")
        .groupBy("bands", "rows_per_band")
        .agg(
            F.count(F.when(is_true, 1)).cast("long").alias("n_true"),
            F.count(F.when(is_true & F.col("hit"), 1)).cast("long").alias("n_true_hit"),
            F.count(F.when(~is_true, 1)).cast("long").alias("n_sub"),
            F.count(F.when(~is_true & F.col("hit"), 1)).cast("long").alias("n_sub_hit"),
        )
        .withColumn("bands", F.col("bands").cast("long"))
        .withColumn("rows_per_band", F.col("rows_per_band").cast("long"))
    )
