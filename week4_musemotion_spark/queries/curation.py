"""Corpus-curation queries: PII scrubbing, repetition quality
signals, stratified sampling, train/eval contamination, embedding
quantization, and IVF ANN — the curation layer of a training-data
pipeline (extends the reference's pandas cleaning pass,
`/root/reference/pipeline.py:81-123`, to LLM-corpus hygiene).

The documents corpus contains no real PII, so the PII query
synthesizes a dirty column deterministically from ``doc_id`` —
identically on both engines — and scrubs that (same pattern as the
WKT-extraction parity query, which synthesizes POINT strings).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from week4_musemotion_spark.functions.exact import dec, int_div_trunc, ratio_e4_sql
from week4_musemotion_spark.functions.hashing import stable_hash64, stable_hash64_sql
from week4_musemotion_spark.operators.curation import (
    contamination_overlap,
    repetition_stats,
    scrub_pii,
    scrub_pii_sql,
    stratified_hash_sample,
)
from week4_musemotion_spark.operators.sampling import GRANULARITY
from week4_musemotion_spark.operators.textstats import QUALITY_STOPWORDS
from week4_musemotion_spark.operators.similarity import quantize_stats
from week4_musemotion_spark.queries.extensions import _quality_e4_sql, _shingle_expr
from week4_musemotion_spark.queries.registry import query
from week4_musemotion_spark.sources.tables import load_table, spread

# ---------------------------------------------------------------------------
# PII scrubbing
# ---------------------------------------------------------------------------

_PII_EXPRS = scrub_pii_sql("t")

_QS_STOPLIST = ", ".join(f"'{w}'" for w in QUALITY_STOPWORDS)


@query(
    "q_pii_scrub",
    covers=("X-PII",),
    oracle=f"""
    WITH dirty AS (
        SELECT doc_id,
               substr(text, 1, 40) || ' contact user' || CAST(doc_id AS VARCHAR)
               || '@mail.example.com via https://ex' || CAST(doc_id % 10 AS VARCHAR)
               || '.org/p/' || CAST(doc_id AS VARCHAR)
               || ' node 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.7'
               || CASE WHEN doc_id % 3 = 0 THEN ' admin@ops.example.net' ELSE '' END AS t
        FROM documents
    )
    SELECT doc_id,
           {_PII_EXPRS["n_urls"]} AS n_urls,
           {_PII_EXPRS["n_emails"]} AS n_emails,
           {_PII_EXPRS["n_ips"]} AS n_ips,
           {_PII_EXPRS["redacted"]} AS redacted
    FROM dirty
    """,
)
def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detect + redact (URLs, then emails, then IPv4s) over a
    deterministically synthesized dirty column — per-row regexp
    expressions only, scan-speed at scale."""
    d = load_table(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("string")
    extra = F.when(
        F.pmod(F.col("doc_id"), F.lit(3)) == 0, F.lit(" admin@ops.example.net")
    ).otherwise(F.lit(""))
    dirty = F.concat(
        F.substring(F.col("text"), 1, 40),
        F.lit(" contact user"),
        did,
        F.lit("@mail.example.com via https://ex"),
        F.pmod(F.col("doc_id"), F.lit(10)).cast("string"),
        F.lit(".org/p/"),
        did,
        F.lit(" node 10."),
        F.pmod(F.col("doc_id"), F.lit(256)).cast("string"),
        F.lit(".0.7"),
        extra,
    )
    return scrub_pii(d.select("doc_id", dirty.alias("dirty")), text_col="dirty")


# ---------------------------------------------------------------------------
# Repetition / quality signals
# ---------------------------------------------------------------------------


@query(
    "q_repetition",
    covers=("X-REPETITION",),
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), w -> w != '') AS ts
        FROM documents
    ),
    u AS (SELECT doc_id, unnest(ts) AS tok FROM tok),
    tot AS (SELECT doc_id, count(*) AS n_tokens, count(DISTINCT tok) AS n_uniq FROM u GROUP BY 1),
    uc AS (SELECT doc_id, tok, count(*) AS cnt FROM u GROUP BY 1, 2),
    t1 AS (
        SELECT doc_id, tok, cnt,
               row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, tok ASC) AS rn
        FROM uc
    ),
    bgl AS (
        SELECT doc_id, unnest(list_transform(range(1, len(ts)), i -> ts[i] || ' ' || ts[i+1])) AS bg
        FROM tok WHERE len(ts) >= 2
    ),
    bc AS (SELECT doc_id, bg, count(*) AS cnt FROM bgl GROUP BY 1, 2),
    t2 AS (
        SELECT doc_id, bg, cnt,
               row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, bg ASC) AS rn
        FROM bc
    )
    SELECT tot.doc_id,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(n_uniq AS BIGINT) AS n_uniq_tokens,
           {ratio_e4_sql("n_uniq", "n_tokens")} AS distinct_ratio_e4,
           t1.tok AS top_token,
           {ratio_e4_sql("t1.cnt", "n_tokens")} AS top_token_ratio_e4,
           t2.bg AS top_bigram,
           CASE WHEN n_tokens > 1
                THEN {ratio_e4_sql("t2.cnt", "n_tokens - 1")} END AS top_bigram_ratio_e4
    FROM tot
    JOIN t1 ON tot.doc_id = t1.doc_id AND t1.rn = 1
    LEFT JOIN t2 ON tot.doc_id = t2.doc_id AND t2.rn = 1
    """,
)
def q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals: distinct-token ratio, top
    token/bigram mass fractions (deterministic tie-breaks), from one
    explode + keyed aggregates."""
    return repetition_stats(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Stratified sampling
# ---------------------------------------------------------------------------

#: Per-source keep rates: upsample src0, downsample the rest — the
#: corpus-rebalancing shape (e.g. boost curated sources, cut crawl).
STRATA_RATES = {"src0": 0.9, "src1": 0.5}
STRATA_DEFAULT = 0.2

_BUCKET_SQL = f"({stable_hash64_sql('CAST(doc_id AS VARCHAR)')} % {GRANULARITY})"


@query(
    "q_stratified_sample",
    covers=("X-STRATIFIED",),
    oracle=f"""
    WITH b AS (SELECT doc_id, source, {_BUCKET_SQL} AS bucket FROM documents)
    SELECT doc_id, source, CAST(bucket AS BIGINT) AS bucket
    FROM b
    WHERE bucket < CASE source
                     WHEN 'src0' THEN {int(STRATA_RATES["src0"] * GRANULARITY)}
                     WHEN 'src1' THEN {int(STRATA_RATES["src1"] * GRANULARITY)}
                     ELSE {int(STRATA_DEFAULT * GRANULARITY)} END
    """,
)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum deterministic hash sample (rebalance sources with
    leak-proof, re-run-stable membership) — a pure filter, no
    shuffle."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    return stratified_hash_sample(d, "doc_id", "source", STRATA_RATES, STRATA_DEFAULT)


# ---------------------------------------------------------------------------
# Document chunking
# ---------------------------------------------------------------------------

_CHUNK_SIZE, _CHUNK_STRIDE = 32, 24


@query(
    "q_chunk_documents",
    covers=("X-CHUNKING",),
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), w -> w != '') AS ts
        FROM documents
    ),
    c AS (
        SELECT doc_id, ts, len(ts) AS n,
               CASE WHEN len(ts) <= {_CHUNK_SIZE} THEN 1
                    ELSE (len(ts) - {_CHUNK_SIZE} + {_CHUNK_STRIDE} - 1) // {_CHUNK_STRIDE} + 1
               END AS n_chunks
        FROM tok WHERE len(ts) > 0
    ),
    u AS (SELECT doc_id, ts, n, unnest(range(0, n_chunks)) AS i FROM c)
    SELECT doc_id,
           CAST(i AS BIGINT) AS chunk_id,
           array_to_string(ts[i * {_CHUNK_STRIDE} + 1 : i * {_CHUNK_STRIDE} + {_CHUNK_SIZE}], ' ')
               AS chunk_text,
           CAST(least({_CHUNK_SIZE}, n - i * {_CHUNK_STRIDE}) AS BIGINT) AS chunk_tokens
    FROM u
    """,
)
def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping fixed-token chunking (size 32, stride 24) — the
    pre-tokenization windowing step; pure per-row HOFs + one explode,
    zero shuffle."""
    from week4_musemotion_spark.operators.curation import chunk_documents

    return chunk_documents(
        load_table(spark, sf_dir, "documents"), size=_CHUNK_SIZE, stride=_CHUNK_STRIDE
    )


# ---------------------------------------------------------------------------
# Tokenizer induction
# ---------------------------------------------------------------------------


@query(
    "q_bpe_pairs",
    covers=("X-BPE-PAIRS",),
    oracle="""
    WITH tok AS (
        SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), w -> w != '') AS ts
        FROM documents
    ),
    bgl AS (
        SELECT unnest(list_transform(range(1, len(ts)), j -> ts[j] || ' ' || ts[j+1])) AS pair
        FROM tok WHERE len(ts) >= 2
    ),
    pc AS (SELECT pair, count(*) AS cnt FROM bgl GROUP BY 1)
    SELECT pair, CAST(cnt AS BIGINT) AS cnt
    FROM pc ORDER BY cnt DESC, pair ASC LIMIT 50
    """,
)
def q_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-global top-50 adjacent token pairs (the first BPE merge
    statistic); global partial+final count aggregate, top-k fused as
    TakeOrderedAndProject."""
    from week4_musemotion_spark.operators.curation import bpe_pair_stats

    return bpe_pair_stats(load_table(spark, sf_dir, "documents"), top_n=50)


# ---------------------------------------------------------------------------
# Train/eval contamination
# ---------------------------------------------------------------------------

_CONTAM_N = 5


@query(
    "q_contamination",
    covers=("X-CONTAMINATION",),
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), w -> w != '') AS ts
        FROM documents
    ),
    g AS (SELECT doc_id, unnest({_shingle_expr(_CONTAM_N)}) AS s FROM tok WHERE len(ts) >= {_CONTAM_N}),
    d AS (SELECT DISTINCT doc_id, s FROM g),
    tr AS (SELECT DISTINCT s FROM d WHERE doc_id % 2 = 0),
    ev AS (SELECT doc_id, s FROM d WHERE doc_id % 2 = 1)
    SELECT ev.doc_id,
           CAST(count(*) AS BIGINT) AS n_grams,
           CAST(count(tr.s) AS BIGINT) AS n_hit,
           {ratio_e4_sql("count(tr.s)", "count(*)")} AS contamination_e4
    FROM ev LEFT JOIN tr ON ev.s = tr.s
    GROUP BY ev.doc_id
    """,
)
def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination check: distinct 5-gram overlap of each
    eval doc (odd ids) against the train gram set (even ids) — the
    planted near-dup pairs that straddle the parity split surface as
    high-contamination docs."""
    docs = load_table(spark, sf_dir, "documents")
    train = docs.filter(F.pmod(F.col("doc_id"), F.lit(2)) == 0)
    ev = docs.filter(F.pmod(F.col("doc_id"), F.lit(2)) == 1)
    return contamination_overlap(ev, train, n=_CONTAM_N)


# ---------------------------------------------------------------------------
# Per-domain capping
# ---------------------------------------------------------------------------

_CAP_N = 10

_HASH_ORDER_SQL = stable_hash64_sql("CAST(doc_id AS VARCHAR)")


@query(
    "q_domain_cap",
    covers=("X-DOMAIN-CAP",),
    oracle=f"""
    WITH r AS (
        SELECT doc_id, source,
               row_number() OVER (PARTITION BY source
                                  ORDER BY {_HASH_ORDER_SQL} ASC, doc_id ASC) AS cap_rank
        FROM documents
    )
    SELECT doc_id, source, CAST(cap_rank AS BIGINT) AS cap_rank
    FROM r WHERE cap_rank <= {_CAP_N}
    """,
)
def q_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source contribution cap (10 docs per source, selected in
    deterministic hash order — an unbiased, re-run-stable subset per
    domain); one keyed window shuffle."""
    from week4_musemotion_spark.operators.curation import cap_per_group

    d = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    return cap_per_group(d, "source", _CAP_N, "doc_id")


# ---------------------------------------------------------------------------
# Embedding quantization
# ---------------------------------------------------------------------------


@query(
    "q_embed_quantize",
    covers=("X-QUANTIZE",),
    oracle="""
    WITH t AS (
        SELECT vec_id, embedding AS v,
               list_aggregate(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))), 'max')
                   AS maxabs
        FROM embeddings
    ),
    s AS (SELECT vec_id, v, 127.0 / maxabs AS scale FROM t WHERE maxabs > 0),
    qz AS (
        SELECT vec_id, v, scale,
               list_transform(v, x -> floor(CAST(x AS DOUBLE) * scale + 0.5)) AS q
        FROM s
    )
    SELECT vec_id,
           CAST(len(v) AS BIGINT) AS dim,
           CAST(floor(scale * 1000000000 + 0.5) AS BIGINT) AS scale_e9,
           CAST(list_sum(q) AS BIGINT) AS q_sum,
           CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT) AS q_sqsum,
           CAST(floor(list_sum(list_transform(range(1, len(v) + 1),
                i -> abs(CAST(v[i] AS DOUBLE) - q[i] / scale))) * 1000000 + 0.5) AS BIGINT)
               AS err_e6
    FROM qz
    """,
)
def q_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization audit: scale, quantized checksum
    moments, reconstruction error (exact integer encodings) — per-row
    higher-order functions, no shuffle."""
    return quantize_stats(load_table(spark, sf_dir, "embeddings"))


# ---------------------------------------------------------------------------
# IVF ANN
# ---------------------------------------------------------------------------


def _ivf_index_dir(sf_dir: str) -> str:
    """Deterministic per-corpus index location under the system tmp
    dir.  The testdata corpora are immutable, so a built index (its
    assignment write ends with a parquet ``_SUCCESS`` marker) is
    reusable across invocations and processes."""
    import hashlib
    import os
    import tempfile

    key = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:12]
    return os.path.join(tempfile.gettempdir(), "musemotion_ivf", key)


@query("q_knn_ivf", covers=("X-KNN-IVF",), oracle=None)
def q_knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with the production index lifecycle: the k-means
    quantizer + cluster-partitioned assignment table are built ONCE
    per corpus (ivf_build → parquet index) and every invocation after
    that only probes 2 of 8 cluster partitions + exact-reranks.
    Approximate by construction → rows-only check, same contract as
    the LSH variant."""
    import os

    from week4_musemotion_spark.operators.similarity import ivf_build, ivf_probe

    emb = load_table(spark, sf_dir, "embeddings")
    index_dir = _ivf_index_dir(sf_dir)
    if not os.path.exists(os.path.join(index_dir, "assignment", "_SUCCESS")):
        ivf_build(emb, index_dir)
    return ivf_probe(spark, index_dir, emb.filter(F.col("vec_id") < 5), k=3)


# ---------------------------------------------------------------------------
# End-to-end curation pipeline (quality gate → dedup → stratified sample)
# ---------------------------------------------------------------------------

_MIN_TOKENS = 20
_MIN_UNIQ_PCT = 35  # distinct-token ratio gate, in integer percent


@query(
    "q_curation_pipeline",
    covers=("X-PIPELINE", "X-QUALITY", "X-DEDUP-EXACT", "X-STRATIFIED"),
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, source, text,
               list_filter(string_split_regex(text, '\\s+'), w -> w != '') AS ts
        FROM documents
    ),
    stats AS (
        SELECT doc_id, source, text,
               len(ts) AS n_tokens, len(list_distinct(ts)) AS n_uniq
        FROM tok
    ),
    quality AS (
        SELECT * FROM stats
        WHERE n_tokens >= {_MIN_TOKENS}
          AND n_uniq * 100 >= {_MIN_UNIQ_PCT} * n_tokens
    ),
    dedup AS (
        SELECT doc_id, source,
               CAST(n_tokens AS BIGINT) AS n_tokens,
               CAST(n_uniq AS BIGINT) AS n_uniq
        FROM quality
        QUALIFY row_number() OVER (PARTITION BY text ORDER BY doc_id) = 1
    )
    SELECT doc_id, source, n_tokens, n_uniq,
           CAST({_BUCKET_SQL} AS BIGINT) AS bucket
    FROM dedup
    WHERE {_BUCKET_SQL} < CASE source
                            WHEN 'src0' THEN {int(STRATA_RATES["src0"] * GRANULARITY)}
                            WHEN 'src1' THEN {int(STRATA_RATES["src1"] * GRANULARITY)}
                            ELSE {int(STRATA_DEFAULT * GRANULARITY)} END
    """,
)
def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole curation flow as ONE declarative plan: tokenize →
    quality gate (min length + distinct-token ratio, both in exact
    integer arithmetic) → exact dedup (first doc_id wins per
    identical text) → per-source stratified hash sample.  Because
    every stage is a DataFrame transformation, Catalyst fuses them:
    the quality gate and the sample predicate are row-local filters
    that run inside the scan stage, and the only shuffle in the whole
    pipeline is the dedup window's partition-by-text — on the
    already-gated survivors, not the raw corpus.  Stage order
    matters at 100 TB: gating before dedup shrinks the shuffle;
    sampling after dedup keeps duplicate clusters from buying extra
    lottery tickets.  Composes ``repetition_stats``-style gating,
    ``dedup_exact`` and ``stratified_hash_sample`` semantics
    (operators/curation.py) into the realistic end-to-end job.
    Ref capability: the reference's whole clean-then-load pipeline
    (pipeline.py:81-123) re-imagined as corpus curation."""
    from week4_musemotion_spark.functions.text import tokens
    from week4_musemotion_spark.operators.curation import stratified_hash_sample

    d = load_table(spark, sf_dir, "documents")
    ts = tokens(F.col("text"))
    stats = d.select(
        "doc_id",
        "source",
        "text",
        F.size(ts).alias("n_tokens"),
        F.size(F.array_distinct(ts)).alias("n_uniq"),
    )
    quality = stats.filter(
        (F.col("n_tokens") >= _MIN_TOKENS)
        & (F.col("n_uniq") * 100 >= _MIN_UNIQ_PCT * F.col("n_tokens"))
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("text").orderBy("doc_id")
    dedup = (
        quality.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "doc_id",
            "source",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.col("n_uniq").cast("long").alias("n_uniq"),
        )
    )
    return stratified_hash_sample(dedup, "doc_id", "source", STRATA_RATES, STRATA_DEFAULT)

# ---------------------------------------------------------------------------
# Cross-document boilerplate phrases
# ---------------------------------------------------------------------------

_BOILER_N = 5  # phrase length (word 5-grams)
_BOILER_DF = 3  # boilerplate = phrase appearing in >= this many docs


@query(
    "q_phrase_boilerplate",
    covers=("X-BOILERPLATE",),
    oracle=f"""
    WITH tok AS (SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), w -> w != '') AS ts FROM documents),
    raw AS (SELECT doc_id, unnest({_shingle_expr(_BOILER_N)}) AS phrase FROM tok WHERE len(ts) >= {_BOILER_N}),
    freq AS (
        SELECT phrase,
               CAST(count(DISTINCT doc_id) AS BIGINT) AS df,
               CAST(count(*) AS BIGINT) AS occurrences
        FROM raw GROUP BY phrase
    )
    SELECT phrase, df, occurrences FROM freq
    WHERE df >= {_BOILER_DF}
    ORDER BY df DESC, phrase ASC
    LIMIT 100
    """,
)
def q_phrase_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document boilerplate detection (CCNet-style line dedup
    transposed to word {n}-grams, since the synthetic corpus has no
    newlines): phrases recurring across >= {df} distinct documents are
    template/boilerplate candidates to strip before training.

    Scale note: explode-once then ONE hash aggregate computing both
    distinct-doc and total counts — no self-join; the phrase key is
    high-cardinality so the shuffle is well spread, and the df filter
    runs map-side-combined before the top-k (TakeOrderedAndProject).
    """
    from week4_musemotion_spark.functions.text import shingles, tokens
    from week4_musemotion_spark.sources.tables import spread

    d = load_table(spark, sf_dir, "documents")
    # spread: the shingle explode + partial aggregate otherwise run
    # inside the single scan task of a one-row-group file; projecting
    # tokens() first also evaluates the split once per row instead of
    # once per shingle-expression reference
    phrases = (
        spread(d.select("doc_id", "text"))
        .select("doc_id", tokens(F.col("text")).alias("_ts"))
        .select(
            "doc_id",
            F.explode(shingles(F.col("_ts"), _BOILER_N)).alias("phrase"),
        )
    )
    return (
        phrases.groupBy("phrase")
        .agg(
            F.countDistinct("doc_id").alias("df"),
            F.count(F.lit(1)).alias("occurrences"),
        )
        .filter(F.col("df") >= _BOILER_DF)
        .orderBy(F.desc("df"), F.asc("phrase"))
        .limit(100)
    )


# ---------------------------------------------------------------------------
# Training sequence packing + paragraph-level dedup
# ---------------------------------------------------------------------------

_PACK_CAPACITY = 256
_PARA_BLOCK = 8


@query(
    "q_sequence_pack",
    covers=("X-SEQPACK",),
    oracle=f"""
    WITH d AS (
        SELECT doc_id, source,
               CAST(len(list_filter(string_split_regex(text, '\\s+'), w -> w != ''))
                    AS BIGINT) AS n_tokens
        FROM documents
    ),
    c AS (
        SELECT doc_id, source, n_tokens,
               sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cum
        FROM d WHERE n_tokens > 0
    )
    SELECT doc_id, source, n_tokens,
           CAST((cum - n_tokens) // {_PACK_CAPACITY} AS BIGINT) AS seq_first,
           CAST((cum - n_tokens) % {_PACK_CAPACITY} AS BIGINT) AS offset_in_seq,
           CAST((cum - 1) // {_PACK_CAPACITY}
                - (cum - n_tokens) // {_PACK_CAPACITY} + 1 AS BIGINT)
               AS n_seqs_spanned
    FROM c
    """,
)
def q_sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training sequence packing (concat-and-split): each document's
    position in the packed fixed-capacity token stream of its source
    shard — seq index, offset, sequences spanned.  A prefix sum, so
    ONE per-shard window cumsum; sharded packing parallelizes where a
    global order would serialize (operators/curation.pack_sequences).
    Ref capability: none (north-star training-pipeline op)."""
    from week4_musemotion_spark.operators.curation import pack_sequences

    return pack_sequences(
        load_table(spark, sf_dir, "documents"), capacity=_PACK_CAPACITY
    )


@query(
    "q_paragraph_dedup",
    covers=("X-PARA-DEDUP",),
    oracle=f"""
    WITH tok AS (
        SELECT doc_id,
               list_filter(string_split_regex(text, '\\s+'), w -> w != '') AS ts
        FROM documents
    ),
    ex AS (
        SELECT doc_id,
               CAST(i AS BIGINT) AS para_idx,
               array_to_string(ts[i * {_PARA_BLOCK} + 1 : (i + 1) * {_PARA_BLOCK}], ' ')
                   AS para_text
        FROM (SELECT doc_id, ts,
                     unnest(range(0, CAST(ceil(len(ts) / {_PARA_BLOCK}.0) AS BIGINT))) AS i
              FROM tok WHERE len(ts) > 0)
    ),
    flagged AS (
        SELECT doc_id, para_idx, para_text,
               CASE WHEN row_number() OVER (PARTITION BY para_text
                                            ORDER BY doc_id, para_idx) = 1
                    THEN 1 ELSE 0 END AS kept
        FROM ex
    )
    SELECT doc_id,
           count(*) AS n_paras,
           CAST(sum(kept) AS BIGINT) AS n_kept,
           coalesce(array_to_string(list(para_text ORDER BY para_idx)
                                        FILTER (WHERE kept = 1), ' '), '')
               AS dedup_text
    FROM flagged
    GROUP BY doc_id
    """,
)
def q_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-global paragraph dedup, first occurrence wins: split
    docs into 8-token paragraphs, rank duplicates corpus-wide, stitch
    each doc back from its surviving paragraphs.  Two shuffles (one
    on paragraph text, one back on doc id) — the minimal plan for
    global-dedup + local-reassembly (operators/curation.
    dedup_paragraphs).  Ref capability: the upsert/dedup seam
    (load_musemotion_to_db.py:96-143) generalized to sub-document
    granularity."""
    from week4_musemotion_spark.operators.curation import dedup_paragraphs

    return dedup_paragraphs(load_table(spark, sf_dir, "documents"), block=_PARA_BLOCK)


@query(
    "q_dup_rate_by_source",
    covers=("X-DUP-AUDIT",),
    oracle="""
    WITH h AS (SELECT doc_id, source, md5(text) AS th FROM documents),
    g AS (SELECT th, min(doc_id) AS keeper FROM h GROUP BY th)
    SELECT source,
           count(*) AS n_docs,
           count(*) FILTER (h.doc_id != g.keeper) AS n_dups,
           CAST((2 * count(*) FILTER (h.doc_id != g.keeper) * 10000 + count(*))
                // (2 * count(*)) AS BIGINT) AS dup_rate_e4
    FROM h JOIN g ON h.th = g.th
    GROUP BY source
    """,
)
def q_dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup audit report: per source, how many documents are exact
    duplicates of an earlier doc (keeper = min doc_id per content
    hash) and the dup rate as an exact e4 ratio — the per-provider
    contamination dashboard of a corpus pipeline.  One hash aggregate
    for keepers + one broadcast-joined group-by; text never leaves
    the executors (only 128-bit hashes shuffle)."""
    from week4_musemotion_spark.functions.exact import ratio_e4

    d = load_table(spark, sf_dir, "documents")
    h = d.select("doc_id", "source", F.md5(F.col("text")).alias("th"))
    g = h.groupBy("th").agg(F.min("doc_id").alias("keeper"))
    return (
        h.join(g, "th")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.count(F.when(F.col("doc_id") != F.col("keeper"), 1)).alias("n_dups"),
        )
        .select(
            "source",
            "n_docs",
            "n_dups",
            ratio_e4(F.col("n_dups"), F.col("n_docs")).alias("dup_rate_e4"),
        )
    )


@query(
    "q_quality_by_lang",
    covers=("X-QUALITY-BY-LANG",),
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, lang,
               list_filter(string_split_regex(text, '\\s+'), w -> w != '') AS ts
        FROM documents
    ),
    f AS (
        SELECT doc_id, lang, len(ts) AS n_tokens,
               len(list_filter(ts, w -> w IN ({_QS_STOPLIST}))) AS stop_cnt
        FROM tok WHERE len(ts) > 0
    ),
    q AS (
        SELECT doc_id, lang, n_tokens,
               CAST({_quality_e4_sql("n_tokens", "stop_cnt")} AS BIGINT) AS quality_e4
        FROM f
    )
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           CAST(sum(quality_e4) AS BIGINT) AS quality_e4_sum
    FROM q
    GROUP BY lang
    """,
)
def q_quality_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-stratified corpus report: per declared language, doc
    count, total tokens, and the exact integer SUM of quality scores
    (consumers divide for the mean — emitting the sum keeps the
    aggregate bit-exact and order-free across engines).  One pass:
    per-row quality expressions feed a single hash aggregate."""
    from week4_musemotion_spark.operators.textstats import quality_stats

    d = load_table(spark, sf_dir, "documents")
    scored = quality_stats(d).filter(F.col("n_tokens") > 0)
    return (
        scored.join(d.select("doc_id", "lang"), "doc_id")
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.sum("quality_e4").cast("long").alias("quality_e4_sum"),
        )
    )


@query(
    "q_curation_funnel",
    covers=("X-CURATION-FUNNEL",),
    oracle=f"""
    WITH t AS (
        SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), w -> w != '') AS ts
        FROM documents
    ),
    s AS (
        SELECT doc_id, len(ts) AS n, len(list_distinct(ts)) AS u,
               len(list_filter(ts, w -> w IN ('the','a','of','and','to','in','is','on','for','with')))
                   AS st
        FROM t
    ),
    f AS (
        SELECT doc_id,
               n >= 20 AS g1,
               n > 0 AND CAST({_quality_e4_sql("n", "st")} AS BIGINT) >= 1500 AS g2,
               n > 0 AND u * 10000 >= 4000 * n AS g3
        FROM s
    )
    SELECT 1 AS stage, 'min_length' AS gate,
           CAST(count(*) AS BIGINT) AS n_in,
           CAST(count(*) FILTER (g1) AS BIGINT) AS n_out
    FROM f
    UNION ALL
    SELECT 2, 'quality_score',
           CAST(count(*) FILTER (g1) AS BIGINT),
           CAST(count(*) FILTER (g1 AND g2) AS BIGINT)
    FROM f
    UNION ALL
    SELECT 3, 'uniqueness',
           CAST(count(*) FILTER (g1 AND g2) AS BIGINT),
           CAST(count(*) FILTER (g1 AND g2 AND g3) AS BIGINT)
    FROM f
    """,
)
def q_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation-funnel attrition report: how many documents each gate
    of the quality pipeline admits — min-length (≥20 tokens), quality
    score (≥0.15), token uniqueness (≥0.4) — the first artifact a
    data-quality review asks for ("where did the corpus go?"), and
    the regression alarm when a gate suddenly drops 80% of a crawl.
    ONE scan computes all gate flags as expressions; the funnel is
    conditional counts over cumulative conjunctions (a gate's n_in is
    the previous gate's n_out by construction, so the report is
    internally consistent even under concurrent data changes —
    single-pass, not three queries racing the corpus)."""
    from week4_musemotion_spark.operators.textstats import quality_stats

    d = load_table(spark, sf_dir, "documents")
    s = quality_stats(d)
    f = s.select(
        (F.col("n_tokens") >= 20).alias("g1"),
        ((F.col("n_tokens") > 0) & (F.col("quality_e4") >= 1500)).alias("g2"),
        (
            (F.col("n_tokens") > 0)
            & (F.col("n_uniq_tokens") * 10_000 >= 4_000 * F.col("n_tokens"))
        ).alias("g3"),
    )
    cnt = lambda c: F.count(F.when(c, 1)).cast("long")  # noqa: E731
    agg = f.agg(
        F.count(F.lit(1)).cast("long").alias("c0"),
        cnt(F.col("g1")).alias("c1"),
        cnt(F.col("g1") & F.col("g2")).alias("c2"),
        cnt(F.col("g1") & F.col("g2") & F.col("g3")).alias("c3"),
    )
    return agg.select(
        F.expr(
            "stack(3, "
            "1, 'min_length', c0, c1, "
            "2, 'quality_score', c1, c2, "
            "3, 'uniqueness', c2, c3) AS (stage, gate, n_in, n_out)"
        )
    ).select(F.col("stage").cast("int").alias("stage"), "gate", "n_in", "n_out")


_PII_DOC = scrub_pii_sql("text")


@query(
    "q_pii_density",
    covers=("X-PII-DENSITY",),
    oracle=f"""
    WITH per_doc AS (
        SELECT source, n_chars,
               {_PII_DOC['n_urls']} AS n_urls,
               {_PII_DOC['n_emails']} AS n_emails,
               {_PII_DOC['n_ips']} AS n_ips
        FROM documents
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(*) FILTER (n_urls + n_emails + n_ips > 0) AS BIGINT)
               AS docs_with_pii,
           CAST(sum(n_urls) AS BIGINT) AS n_urls,
           CAST(sum(n_emails) AS BIGINT) AS n_emails,
           CAST(sum(n_ips) AS BIGINT) AS n_ips,
           CAST((2 * sum(n_urls + n_emails + n_ips) * 1000000 + sum(n_chars))
                // (2 * sum(n_chars)) AS BIGINT) AS pii_per_mchars
    FROM per_doc
    GROUP BY source
    """,
)
def q_pii_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source PII exposure report — the monitoring twin of
    q_pii_scrub (which transforms): how many documents carry any
    email/URL/IPv4, the per-class totals, and the density per million
    characters (exact int-div-round) — the number a privacy review
    tracks per ingest source and the alarm when a new crawl source
    spikes.  Counts reuse the scrub chain's exact class-order
    semantics (emails counted after URL redaction, IPs after both),
    so monitor and scrubber can never disagree.

    Scale shape: per-row regexp counts at scan speed in codegen
    (Catalyst prunes the unused redacted-text expression), one tiny
    keyed agg — no shuffle beyond |sources| groups."""
    from week4_musemotion_spark.functions.exact import int_div_round
    from week4_musemotion_spark.operators.curation import scrub_pii

    d = load_table(spark, sf_dir, "documents")
    per_doc = scrub_pii(d, keep_cols=("source", "n_chars")).select(
        "source", "n_chars", "n_urls", "n_emails", "n_ips"
    )
    tot = F.col("n_urls") + F.col("n_emails") + F.col("n_ips")
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.count(F.when(tot > 0, 1)).cast("long").alias("docs_with_pii"),
        F.sum("n_urls").cast("long").alias("n_urls"),
        F.sum("n_emails").cast("long").alias("n_emails"),
        F.sum("n_ips").cast("long").alias("n_ips"),
        int_div_round(F.sum(tot) * 1_000_000, F.sum("n_chars")).alias("pii_per_mchars"),
    )


# ---------------------------------------------------------------------------
# Intra-document repeated substrings
# ---------------------------------------------------------------------------

#: Gram size for self-repetition: 6 tokens — long enough that a
#: repeated gram inside ONE doc implies copied/looped text.
_SR_N = 6
#: Per-(doc, gram) occurrence cap: a gram repeating more than this
#: many times inside one doc would blow the within-doc position join
#: quadratically; such degenerate docs are already nailed by
#: q_repetition's top-token/top-bigram mass ratios, so the run
#: report caps and defers (documented precision/size trade, the
#: intra-doc analogue of q_winnow_pairs' stop-print cutoff).
_SR_MAXOCC = 16
_SR_MIN_GRAMS = 2
_SR_TOPK = 100
#: The corpus carries NO intra-document repetition at any SF, so the
#: query synthesizes the looped-text pathology deterministically
#: (q_pii_scrub's pattern: a dirty column built identically on both
#: engines): docs with doc_id % 5 == 0 get their first _SR_BLOCK
#: tokens appended 2 + doc_id % 3 more times — a period-_SR_BLOCK
#: repeat the detector must find with the right cycle length.
_SR_BLOCK = 8
#: DuckDB range(n) is 0..n-1, length n == 2 + doc_id % 3 repeats
_SR_REPS_SQL = "2 + doc_id % 3"


@query(
    "q_self_repetition_runs",
    covers=("X-SELF-REPETITION",),
    oracle=f"""
    WITH tok AS (SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), w -> w != '') AS ts FROM documents),
    dirty AS (
        SELECT doc_id,
               CASE WHEN doc_id % 5 = 0
                    THEN ts || flatten(list_transform(range({_SR_REPS_SQL}), i -> ts[1:{_SR_BLOCK}]))
                    ELSE ts END AS ts
        FROM tok
    ),
    g AS (SELECT doc_id, unnest({_shingle_expr(_SR_N)}) AS s,
                 unnest(range(0, len(ts) - {_SR_N - 1})) AS pos
          FROM dirty WHERE len(ts) >= {_SR_N}),
    hx AS (SELECT doc_id, pos, {stable_hash64_sql("s")} AS h FROM g),
    occ AS (SELECT doc_id, h, count(*) AS c FROM hx GROUP BY 1, 2),
    keep AS (
        SELECT hx.doc_id, hx.pos, hx.h FROM hx
        JOIN occ ON hx.doc_id = occ.doc_id AND hx.h = occ.h
        WHERE occ.c BETWEEN 2 AND {_SR_MAXOCC}
    ),
    mt AS (
        SELECT a.doc_id, a.pos AS pa, b.pos - a.pos AS shift
        FROM keep a JOIN keep b
          ON a.doc_id = b.doc_id AND a.h = b.h AND a.pos < b.pos
    ),
    isl AS (
        SELECT doc_id, shift, pa,
               pa - row_number() OVER (PARTITION BY doc_id, shift ORDER BY pa) AS grp
        FROM mt
    ),
    runs AS (
        SELECT doc_id, shift, count(*) AS grams
        FROM isl GROUP BY doc_id, shift, grp
        HAVING count(*) >= {_SR_MIN_GRAMS}
    )
    SELECT doc_id,
           CAST(max(grams) + {_SR_N - 1} AS BIGINT) AS longest_repeat_tokens,
           CAST(count(*) AS BIGINT) AS n_runs,
           CAST(min(shift) AS BIGINT) AS min_period
    FROM runs GROUP BY doc_id
    ORDER BY longest_repeat_tokens DESC, doc_id LIMIT {_SR_TOPK}
    """,
)
def q_self_repetition_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal repeated substrings WITHIN each document: self-matches
    of 6-gram hashes at distinct positions, collapsed along the
    position-shift diagonal by gaps-and-islands — a doc that repeats
    a sentence k times shows a long run at shift = sentence length.
    This is the loop/template-generation signal inside ONE document
    (whole-doc ratios like distinct-token share blur it when the
    repeated block is a minority of a long doc); min_period is the
    repeat's cycle length in tokens.

    Plan: one gram explode → per-(doc, gram) occurrence count (the
    2..16 band kills unique grams and defers LONG degenerate docs —
    22+ identical tokens push a gram past 16 occurrences — to
    q_repetition's mass ratios; a SHORT degenerate doc of 7–21
    identical tokens stays in-band and honestly reports
    min_period = 1) → within-doc
    position self-join → one window + two aggregates, all keyed by
    (doc_id, shift); everything after the explode shuffles 8-byte
    hashes on doc-local keys.  LIMIT rides a total order."""
    from week4_musemotion_spark.functions.text import shingles, tokens

    d = spread(load_table(spark, sf_dir, "documents").select("doc_id", "text"))
    ts = tokens("text")
    block = F.slice(ts, 1, _SR_BLOCK)
    reps = (F.pmod(F.col("doc_id"), F.lit(3)) + 2).cast("int")
    dirty = F.when(
        F.pmod(F.col("doc_id"), F.lit(5)) == 0,
        F.concat(ts, F.flatten(F.array_repeat(block, reps))),
    ).otherwise(ts)
    g = d.select("doc_id", F.posexplode(shingles(dirty, _SR_N)).alias("pos", "s"))
    hx = g.select("doc_id", "pos", stable_hash64(F.col("s")).alias("h"))
    occ = hx.groupBy("doc_id", "h").agg(F.count(F.lit(1)).alias("c"))
    keep = hx.join(
        occ.filter((F.col("c") >= 2) & (F.col("c") <= _SR_MAXOCC)), ["doc_id", "h"]
    ).select("doc_id", "pos", "h")
    a = keep.select("doc_id", F.col("pos").alias("pa"), "h")
    b = keep.select("doc_id", F.col("pos").alias("pb"), "h")
    mt = (
        a.join(b, ["doc_id", "h"])
        .filter(F.col("pa") < F.col("pb"))
        .select("doc_id", "pa", (F.col("pb") - F.col("pa")).alias("shift"))
    )
    wisl = Window.partitionBy("doc_id", "shift").orderBy("pa")
    isl = mt.withColumn("grp", F.col("pa") - F.row_number().over(wisl))
    runs = (
        isl.groupBy("doc_id", "shift", "grp")
        .agg(F.count(F.lit(1)).alias("grams"))
        .filter(F.col("grams") >= _SR_MIN_GRAMS)
    )
    return (
        runs.groupBy("doc_id")
        .agg(
            (F.max("grams") + (_SR_N - 1)).cast("long").alias("longest_repeat_tokens"),
            F.count(F.lit(1)).cast("long").alias("n_runs"),
            F.min("shift").cast("long").alias("min_period"),
        )
        .orderBy(F.desc("longest_repeat_tokens"), "doc_id")
        .limit(_SR_TOPK)
    )


# ---------------------------------------------------------------------------
# Simpson repetition index
# ---------------------------------------------------------------------------


@query(
    "q_repetition_simpson",
    covers=("X-REPETITION-SIMPSON",),
    oracle="""
    WITH tok AS (
        SELECT source, doc_id, unnest(list_filter(string_split_regex(text, '\\s+'), w -> w != '')) AS term
        FROM documents
    ),
    c AS (SELECT source, doc_id, term, count(*) AS cnt FROM tok GROUP BY 1, 2, 3),
    d AS (
        SELECT source, doc_id,
               sum(CAST(cnt AS HUGEINT) * (cnt - 1)) AS m2,
               sum(cnt) AS nt
        FROM c GROUP BY 1, 2
        HAVING sum(cnt) >= 2
    ),
    e AS (
        SELECT source, doc_id, m2, nt,
               CAST(m2 * 1000000 // (CAST(nt AS HUGEINT) * (nt - 1)) AS BIGINT) AS doc_e6,
               max(CAST(m2 * 1000000 // (CAST(nt AS HUGEINT) * (nt - 1)) AS BIGINT))
                   OVER (PARTITION BY source) AS mx
        FROM d
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(m2) * 1000000 // sum(CAST(nt AS HUGEINT) * (nt - 1)) AS BIGINT) AS micro_e6,
           CAST(max(doc_e6) AS BIGINT) AS max_doc_e6,
           CAST(min(doc_id) FILTER (doc_e6 = mx) AS BIGINT) AS worst_doc_id
    FROM e GROUP BY source
    """,
)
def q_repetition_simpson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson repetition index per source: the probability that two
    random token occurrences drawn from a document are the same
    type, Σ c(c−1) / n(n−1) — the collision-probability twin of
    entropy, computable in EXACT integers (entropy needs float log).
    High index = degenerate repetition (looped generations, tag
    soup); the per-source MICRO average (summed numerators over
    summed denominators — no mean-of-ratios distortion) plus the
    worst document (max index, min doc_id tie-break) give both the
    monitoring number and the triage pointer.

    Scale shape: two keyed aggregates (doc×term counts, then
    per-doc moments) and a |docs|-row window — all map-side
    combinable, nothing wider than the token count shuffle that
    every text query already pays."""
    from week4_musemotion_spark.functions.text import tokens

    d = load_table(spark, sf_dir, "documents")
    tok = d.select("source", "doc_id", F.explode(tokens(F.col("text"))).alias("term"))
    c = tok.groupBy("source", "doc_id", "term").agg(F.count(F.lit(1)).alias("cnt"))
    docs = (
        c.groupBy("source", "doc_id")
        .agg(
            F.sum(dec(F.col("cnt")) * (F.col("cnt") - 1)).alias("m2"),
            F.sum("cnt").alias("nt"),
        )
        .filter(F.col("nt") >= 2)
    )
    doc_e6 = int_div_trunc(F.col("m2") * 1_000_000, dec(F.col("nt")) * (F.col("nt") - 1))
    e = docs.withColumn("doc_e6", doc_e6).withColumn(
        "mx", F.max("doc_e6").over(Window.partitionBy("source"))
    )
    return e.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        int_div_trunc(
            F.sum("m2") * 1_000_000, F.sum(dec(F.col("nt")) * (F.col("nt") - 1))
        ).alias("micro_e6"),
        F.max("doc_e6").cast("long").alias("max_doc_e6"),
        F.min(F.when(F.col("doc_e6") == F.col("mx"), F.col("doc_id")))
        .cast("long")
        .alias("worst_doc_id"),
    )

#: Selection budget for the coreset report — fixed so the oracle's
#: unrolled round count matches the Spark loop exactly.
_CORESET_K = 6


def _coreset_sql(k: int) -> str:
    """Unrolled greedy k-center in DuckDB: each round r is three
    CTEs — d{r} (exact HUGEINT squared distance of every point to
    the PREVIOUS pick), m{r} (running min distance to the selected
    set), p{r} (the argmax pick, ties to min id) — followed by the
    assignment of every point to its nearest selected center.
    Positional list access goes through the idx-CTE gram pattern
    (DuckDB has no ``unnest ... WITH ORDINALITY``)."""
    dist = (
        "sum(CAST(q.qv[i.pos] - c.qv[i.pos] AS HUGEINT)"
        " * (q.qv[i.pos] - c.qv[i.pos]))"
    )
    parts = [
        # MATERIALIZED: the round CTEs chain (p_r -> m_r -> d_r ->
        # m_{r-1} -> ...), and DuckDB's default inlining re-evaluates
        # the whole prefix per reference — measured 13s vs ~1s at
        # sf0.1 for the oracle without the hints
        "WITH q AS MATERIALIZED (SELECT vec_id, list_transform(embedding,"
        " x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)) AS qv"
        " FROM embeddings)",
        "idx AS (SELECT unnest(range(1,"
        " (SELECT max(len(qv)) FROM q) + 1)) AS pos)",
        "c0 AS (SELECT vec_id, qv FROM q ORDER BY vec_id LIMIT 1)",
    ]
    for r in range(1, k):
        prev_center = "c0" if r == 1 else f"c{r - 1}"
        chosen = " UNION ALL ".join(
            f"SELECT vec_id FROM {'c0' if j == 0 else f'p{j}'}" for j in range(r)
        )
        parts.append(
            f"d{r} AS MATERIALIZED (SELECT q.vec_id, {dist} AS d FROM q"
            f" CROSS JOIN idx i CROSS JOIN {prev_center} c GROUP BY q.vec_id)"
        )
        if r == 1:
            parts.append("m1 AS MATERIALIZED (SELECT vec_id, d AS mind FROM d1)")
        else:
            parts.append(
                f"m{r} AS MATERIALIZED (SELECT m.vec_id, least(m.mind, d.d) AS mind"
                f" FROM m{r - 1} m JOIN d{r} d USING (vec_id))"
            )
        parts.append(
            f"p{r} AS MATERIALIZED (SELECT vec_id, mind FROM m{r}"
            f" WHERE vec_id NOT IN ({chosen})"
            " ORDER BY mind DESC, vec_id LIMIT 1)"
        )
        parts.append(f"c{r} AS MATERIALIZED (SELECT q.vec_id, q.qv FROM q JOIN p{r} USING (vec_id))")
    cents = " UNION ALL ".join(
        f"SELECT {r} AS rnd, vec_id, qv FROM c{r}" for r in range(k)
    )
    sel = " UNION ALL ".join(
        ["SELECT 0 AS rnd, vec_id, CAST(NULL AS BIGINT) AS radius FROM c0"]
        + [
            f"SELECT {r} AS rnd, vec_id, CAST(mind AS BIGINT) AS radius FROM p{r}"
            for r in range(1, k)
        ]
    )
    parts.append(f"cents AS ({cents})")
    parts.append(f"sel AS ({sel})")
    parts.append(
        f"ad AS (SELECT q.vec_id, c.vec_id AS cid, {dist} AS d"
        " FROM q CROSS JOIN idx i CROSS JOIN cents c GROUP BY q.vec_id, c.vec_id)"
    )
    parts.append(
        "best AS (SELECT vec_id, cid, d, row_number() OVER"
        " (PARTITION BY vec_id ORDER BY d ASC, cid ASC) AS rk FROM ad)"
    )
    parts.append(
        "asg AS (SELECT cid, CAST(count(*) AS BIGINT) AS assigned_n,"
        " CAST(max(d) AS BIGINT) AS max_assigned FROM best WHERE rk = 1"
        " GROUP BY cid)"
    )
    return (
        ",\n".join(parts)
        + "\nSELECT CAST(s.rnd AS BIGINT) AS round, s.vec_id AS center_id,"
        " s.radius AS radius_num, a.assigned_n, a.max_assigned"
        " FROM sel s JOIN asg a ON a.cid = s.vec_id"
    )


@query(
    "q_coreset_report",
    covers=("X-CORESET",),
    oracle=_coreset_sql(_CORESET_K),
)
def q_coreset_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coreset coverage/budget report: greedy k-center selection over
    the embeddings table (min-id seed, exact integer squared
    distances, argmax ties to min id — k bounded distributed rounds,
    each ONE pass against a single broadcast center), then every row
    assigned to its nearest selected center (one broadcast join, the
    corpus never shuffles).  One row per center: selection round,
    coverage radius² at selection time (non-increasing), assigned
    cluster size, and realized max assigned distance — the numbers a
    curation user reads to decide whether the selection budget k
    covers the embedding space.

    100 TB story: the driver loop is bounded by the selection budget
    (k picks), each round is one distributed scan with O(1) driver
    traffic, and the assignment is a k-row broadcast — nothing O(n)
    leaves the executors.  Distances fit long here by construction
    (≤ dims·(2e6)² ≈ 2.6e14 for unit-range 64-dim embeddings); the
    internal accumulation is decimal(38,0) regardless, so a wider
    embedding scale cannot wrap (round-12 dec-before-square fix).

    Reference parity: the reference has no selection surface at all —
    this extends the engine's training-data-pipeline layer
    (SURVEY.md §2 extension operators)."""
    from week4_musemotion_spark.operators.coreset import (
        assign_to_centers,
        k_center_select,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    sel = k_center_select(emb, _CORESET_K)
    chosen = [s["id"] for s in sel]
    centers = emb.filter(F.col("vec_id").isin(chosen)).select(
        F.col("vec_id").alias("center_id"), "embedding"
    )
    per_center = (
        assign_to_centers(emb, centers)
        .groupBy("center_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("assigned_n"),
            F.max(F.col("dist2_num").cast("decimal(38,0)"))
            .cast("long")
            .alias("max_assigned"),
        )
    )
    sel_df = spark.createDataFrame(
        [(s["round"], s["id"], s["radius_num"]) for s in sel],
        "round long, center_id long, radius_num long",
    )
    return F.broadcast(sel_df).join(per_center, "center_id").select(
        "round", "center_id", "radius_num", "assigned_n", "max_assigned"
    )
