"""Text-distribution analysis: LM-proxy bigram coverage and unicode
script mix — curation signals computed at scan speed / one keyed
shuffle, oracle-checked in exact integers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from week4_musemotion_spark.functions.exact import dec, int_div_trunc
from week4_musemotion_spark.queries.extensions import _lang_id_sql, _quality_e4_sql
from week4_musemotion_spark.queries.registry import query
from week4_musemotion_spark.sources.tables import load_table

#: A bigram is "covered" when the corpus contains it at least this
#: many times (across all documents, occurrences counted with repeats).
_COVER_MIN = 3


@query(
    "q_bigram_coverage",
    covers=("X-TEXT-BIGRAM-LM",),
    oracle=f"""
    WITH tok AS (
        SELECT doc_id,
               list_filter(string_split_regex(text, '\\s+'), w -> w != '') AS ts
        FROM documents
    ),
    bg AS (
        SELECT doc_id, unnest(list_transform(range(1, len(ts)), i -> ts[i] || ' ' || ts[i+1])) AS s
        FROM tok WHERE len(ts) >= 2
    ),
    freq AS (SELECT s, count(*) AS f FROM bg GROUP BY s),
    hit AS (
        SELECT bg.doc_id,
               count(*) AS n_bigrams,
               count(*) FILTER (freq.f >= {_COVER_MIN}) AS covered
        FROM bg JOIN freq ON bg.s = freq.s
        GROUP BY bg.doc_id
    )
    SELECT doc_id, CAST(n_bigrams AS BIGINT) AS n_bigrams,
           CAST(covered AS BIGINT) AS covered,
           CAST((2 * covered * 10000 + n_bigrams) // (2 * n_bigrams) AS BIGINT)
               AS coverage_e4
    FROM hit
    """,
)
def q_bigram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-model-proxy quality signal: the fraction of each
    document's bigram occurrences that the corpus itself contains ≥ 3
    times.  A document full of corpus-frequent bigrams reads like the
    corpus (high coverage ≈ low perplexity under a count LM); one
    full of rare bigrams is an outlier/noise candidate — the same
    signal KenLM-style perplexity filters give, but in pure integer
    arithmetic (count joins), so it is engine-exact and needs no
    model artifact.

    Scale shape: explode to bigram occurrences → one grouped count
    (the corpus LM, map-side combined) → one hash equi-join back on
    the 8-byte-comparable bigram string → per-doc agg.  Linear in
    token volume; the frequency table is the only broadcast-or-
    shuffle decision, and Catalyst/AQE picks per its actual size."""
    from week4_musemotion_spark.functions.exact import ratio_e4
    from week4_musemotion_spark.operators.dedup import shingle_strings

    d = load_table(spark, sf_dir, "documents")
    bg = shingle_strings(d, n=2)  # (_id, s) with repeats
    freq = bg.groupBy("s").agg(F.count(F.lit(1)).alias("f"))
    return (
        bg.join(freq, "s")
        .groupBy(F.col("_id").alias("doc_id"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.count(F.when(F.col("f") >= _COVER_MIN, 1)).cast("long").alias("covered"),
        )
        .withColumn("coverage_e4", ratio_e4(F.col("covered"), F.col("n_bigrams")))
    )


def _strip_count(pattern: str) -> F.Column:
    """Chars matching ``pattern`` = total length minus length after
    deleting every match (regex class semantics identical in Java
    regex and RE2 for these ASCII classes)."""
    return (
        F.length("text") - F.length(F.regexp_replace(F.col("text"), pattern, ""))
    ).cast("long")


@query(
    "q_script_mix",
    covers=("X-TEXT-SCRIPT",),
    oracle="""
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(length(text)) AS BIGINT) AS n_chars,
           CAST(sum(length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g'))) AS BIGINT)
               AS latin_chars,
           CAST(sum(length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))) AS BIGINT)
               AS digit_chars,
           CAST(sum(length(text) - length(regexp_replace(text, '[ \t]', '', 'g'))) AS BIGINT)
               AS space_chars,
           CAST(sum(length(regexp_replace(regexp_replace(regexp_replace(text,
                    '[A-Za-z]', '', 'g'), '[0-9]', '', 'g'), '[ \t]', '', 'g'))) AS BIGINT)
               AS other_chars
    FROM documents
    GROUP BY lang
    """,
)
def q_script_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode script mix per declared language: latin / digit /
    whitespace / other character counts — the audit that catches
    mislabeled languages (a 'zh' shard that is 90% latin) and
    transliteration noise before training.  Pure per-row
    ``regexp_replace`` length arithmetic inside whole-stage codegen +
    one tiny grouped sum; the regex classes are ASCII so Java regex
    and RE2 agree byte-for-byte.  'other' is computed by actual
    deletion (not subtraction) so the three classes and the remainder
    are each independently oracle-checked."""
    d = load_table(spark, sf_dir, "documents")
    other = F.length(
        F.regexp_replace(
            F.regexp_replace(F.regexp_replace(F.col("text"), "[A-Za-z]", ""), "[0-9]", ""),
            "[ \t]",
            "",
        )
    ).cast("long")
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.length("text").cast("long")).cast("long").alias("n_chars"),
        F.sum(_strip_count("[A-Za-z]")).cast("long").alias("latin_chars"),
        F.sum(_strip_count("[0-9]")).cast("long").alias("digit_chars"),
        F.sum(_strip_count("[ \t]")).cast("long").alias("space_chars"),
        F.sum(other).cast("long").alias("other_chars"),
    )


@query(
    "q_ngram_novelty",
    covers=("X-TEXT-NOVELTY",),
    oracle="""
    WITH tok AS (
        SELECT doc_id,
               list_filter(string_split_regex(text, '\\s+'), w -> w != '') AS ts
        FROM documents
    ),
    sh AS (
        SELECT DISTINCT doc_id,
               unnest(list_transform(range(1, len(ts) - 1),
                      i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS s
        FROM tok WHERE len(ts) >= 3
    ),
    first AS (SELECT s, min(doc_id) AS first_doc FROM sh GROUP BY s)
    SELECT sh.doc_id,
           CAST(count(*) AS BIGINT) AS n_shingles,
           CAST(count(*) FILTER (first.first_doc = sh.doc_id) AS BIGINT) AS novel,
           CAST((2 * count(*) FILTER (first.first_doc = sh.doc_id) * 10000 + count(*))
                // (2 * count(*)) AS BIGINT) AS novelty_e4
    FROM sh JOIN first ON sh.s = first.s
    GROUP BY sh.doc_id
    """,
)
def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document 3-gram novelty under ingestion order: the
    fraction of a document's distinct shingles whose FIRST corpus
    occurrence (minimum doc_id) is this document — late documents
    full of already-seen shingles are near-dup/boilerplate suspects,
    and the corpus-level novelty decay over doc_id is the
    "diminishing returns" curve of continued crawling.  Shingle
    first-occurrence is one keyed min; the audit is one equi-join
    back on the shingle key — linear, the same shapes as dedup, and
    the per-doc ratios are exact integers."""
    from week4_musemotion_spark.functions.exact import ratio_e4
    from week4_musemotion_spark.operators.dedup import shingle_sets

    d = load_table(spark, sf_dir, "documents")
    sh = shingle_sets(d, n=3)  # (_id, shingle-hash), distinct
    first = sh.groupBy("shingle").agg(F.min("_id").alias("first_doc"))
    return (
        sh.join(first, "shingle")
        .groupBy(F.col("_id").alias("doc_id"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shingles"),
            F.count(F.when(F.col("first_doc") == F.col("_id"), 1)).cast("long").alias("novel"),
        )
        .withColumn("novelty_e4", ratio_e4(F.col("novel"), F.col("n_shingles")))
    )


@query(
    "q_tokenizer_fertility",
    covers=("X-TEXT-FERTILITY",),
    oracle="""
    WITH t AS (
        SELECT lang,
               len(list_filter(string_split_regex(text, '\\s+'), w -> w != '')) AS ws,
               len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]')) AS bpe,
               length(text) AS ch
        FROM documents
    ),
    s AS (
        SELECT lang, count(*) AS n_docs, sum(ws) AS ws_tokens,
               sum(bpe) AS bpe_tokens, sum(ch) AS n_chars
        FROM t WHERE ws > 0 GROUP BY lang
    )
    SELECT lang, CAST(n_docs AS BIGINT) AS n_docs,
           CAST(ws_tokens AS BIGINT) AS ws_tokens,
           CAST(bpe_tokens AS BIGINT) AS bpe_tokens,
           CAST((2 * bpe_tokens * 10000 + ws_tokens) // (2 * ws_tokens) AS BIGINT)
               AS fertility_e4,
           CAST((2 * n_chars * 10000 + bpe_tokens) // (2 * bpe_tokens) AS BIGINT)
               AS chars_per_bpe_e4
    FROM s
    """,
)
def q_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per language: BPE-ish tokens per whitespace
    word and chars per BPE token — the multilingual cost audit (a
    language whose words explode into many subword tokens pays more
    compute per unit of text, and a budget split by raw tokens
    silently under-trains it).  Per-row regex counting at scan speed,
    one tiny grouped sum, exact e4 ratios."""
    from week4_musemotion_spark.functions.exact import ratio_e4
    from week4_musemotion_spark.operators.textstats import token_counts

    d = load_table(spark, sf_dir, "documents")
    tc = token_counts(d).join(d.select("doc_id", "lang"), "doc_id")
    s = (
        tc.filter(F.col("n_ws_tokens") > 0)
        .join(d.select("doc_id", F.length("text").cast("long").alias("ch")), "doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_ws_tokens").cast("long").alias("ws_tokens"),
            F.sum("n_bpe_tokens").cast("long").alias("bpe_tokens"),
            F.sum("ch").cast("long").alias("n_chars"),
        )
    )
    return s.select(
        "lang",
        "n_docs",
        "ws_tokens",
        "bpe_tokens",
        ratio_e4(F.col("bpe_tokens"), F.col("ws_tokens")).alias("fertility_e4"),
        ratio_e4(F.col("n_chars"), F.col("bpe_tokens")).alias("chars_per_bpe_e4"),
    )


def _card_doc_sql(pred: str) -> str:
    """Per-document card fragment (content hash, whitespace token
    count, stopword-damped quality score) — the ONE copy of the card's
    quality formula, shared by q_data_card's oracle and the per-version
    instances inside q_data_card_drift's so the two can never drift
    apart (same rationale as scrub_pii_sql)."""
    return f"""
        SELECT source, lang, md5(text) AS th, n,
               CASE WHEN n > 0
                    THEN CAST({_quality_e4_sql("n", "st")} AS BIGINT)
                    ELSE 0 END AS qe4
        FROM (
            SELECT source, lang, text,
                   len(list_filter(string_split_regex(text, '\\s+'), w -> w != '')) AS n,
                   len(list_filter(list_filter(string_split_regex(text, '\\s+'), w -> w != ''),
                       w -> w IN ('the','a','of','and','to','in','is','on','for','with'))) AS st
            FROM documents {pred}
        )
    """


@query(
    "q_data_card",
    covers=("X-DATA-CARD",),
    oracle=f"""
    WITH q AS ({_card_doc_sql("")})
    SELECT source, lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n) AS BIGINT) AS total_tokens,
           CAST(count(*) - count(DISTINCT th) AS BIGINT) AS n_exact_dup_rows,
           CAST((2 * sum(qe4) + count(*)) // (2 * count(*)) AS BIGINT) AS quality_e4_mean,
           CAST(round(median(n) * 2) AS BIGINT) AS median_tokens_x2
    FROM q
    GROUP BY source, lang
    """,
)
def q_data_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DATA CARD: one manifest row per (source, language) shard
    with the numbers a dataset release documents — volume (docs,
    tokens), exact-duplicate load (rows minus distinct content
    hashes), mean quality score, and the median document length (×2:
    an even-count median of integer lengths interpolates to an exact
    half, so doubling keeps it integer-exact) — the single table a
    data consumer reads before mixing a shard in, and the per-shard
    regression baseline between corpus versions (diff two cards =
    drift report).  One grouped pass over the corpus: every statistic
    is a sum/count/count-distinct/median over the shard key, exact
    integer arithmetic end to end."""
    from week4_musemotion_spark.functions.exact import int_div_round
    from week4_musemotion_spark.operators.textstats import quality_stats

    d = load_table(spark, sf_dir, "documents")
    base = quality_stats(d, keep_cols=("source", "lang", "text")).select(
        "source",
        "lang",
        F.md5("text").alias("th"),
        "n_tokens",
        F.coalesce("quality_e4", F.lit(0)).alias("qe4"),
    )
    return base.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        (F.count(F.lit(1)) - F.countDistinct("th")).cast("long").alias("n_exact_dup_rows"),
        int_div_round(F.sum("qe4"), F.count(F.lit(1))).alias("quality_e4_mean"),
        F.round(F.median("n_tokens") * 2).cast("long").alias("median_tokens_x2"),
    )


def _shard_card(d: DataFrame) -> DataFrame:
    """Per-(source,lang) volume + quality card of one corpus version
    (the countable core of q_data_card)."""
    from week4_musemotion_spark.functions.exact import int_div_round
    from week4_musemotion_spark.operators.textstats import quality_stats

    return (
        quality_stats(d, keep_cols=("source", "lang"))
        .select("source", "lang", "n_tokens", F.coalesce("quality_e4", F.lit(0)).alias("qe4"))
        .groupBy("source", "lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            int_div_round(F.sum("qe4"), F.count(F.lit(1))).alias("q_mean_e4"),
        )
    )


def _card_cte(pred: str) -> str:
    """One corpus version's shard card — aggregates the shared
    :func:`_card_doc_sql` fragment, so the drift report's oracle uses
    the exact same quality formula as the card's."""
    return f"""
        SELECT source, lang,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n) AS BIGINT) AS total_tokens,
               CAST((2 * sum(qe4) + count(*)) // (2 * count(*)) AS BIGINT) AS q_mean_e4
        FROM ({_card_doc_sql(pred)})
        GROUP BY source, lang
"""


@query(
    "q_data_card_drift",
    covers=("X-DATA-CARD-DRIFT",),
    oracle=f"""
    WITH old AS ({_card_cte("WHERE doc_id % 7 != 0")}),
    new AS ({_card_cte("")})
    SELECT new.source, new.lang,
           CAST(coalesce(old.n_docs, 0) AS BIGINT) AS n_docs_old,
           new.n_docs AS n_docs_new,
           CAST(new.n_docs - coalesce(old.n_docs, 0) AS BIGINT) AS docs_added,
           CAST(new.total_tokens - coalesce(old.total_tokens, 0) AS BIGINT)
               AS tokens_added,
           old.q_mean_e4 AS q_mean_old_e4,
           new.q_mean_e4 AS q_mean_new_e4
    FROM new LEFT JOIN old ON new.source = old.source AND new.lang = old.lang
    """,
)
def q_data_card_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The drift report q_data_card's docstring promises: the cards of
    two corpus versions (settled = doc_id % 7 != 0, refreshed = all —
    the deterministic stand-in for yesterday's and today's snapshots)
    are diffed per shard — docs/tokens added and the quality-mean
    movement, in the same exact-integer arithmetic as the card itself,
    so a shard whose refresh silently degrades mean quality or lands
    zero new tokens is one filter away.  New shards show n_docs_old=0
    with a NULL old mean.

    Scale shape: two grouped passes (at production, the OLD card is
    read from the previous export's _manifest — cost O(shards), not a
    recount; the recount form here is what makes it oracle-checkable)
    and a LEFT join on the tiny shard key."""
    d = load_table(spark, sf_dir, "documents")
    old = _shard_card(d.filter(F.col("doc_id") % 7 != 0)).withColumnsRenamed(
        {"n_docs": "o_docs", "total_tokens": "o_tokens", "q_mean_e4": "q_mean_old_e4"}
    )
    new = _shard_card(d)
    return new.join(old, ["source", "lang"], "left").select(
        "source",
        "lang",
        F.coalesce("o_docs", F.lit(0)).cast("long").alias("n_docs_old"),
        F.col("n_docs").alias("n_docs_new"),
        (F.col("n_docs") - F.coalesce("o_docs", F.lit(0))).cast("long").alias("docs_added"),
        (F.col("total_tokens") - F.coalesce("o_tokens", F.lit(0)))
        .cast("long")
        .alias("tokens_added"),
        "q_mean_old_e4",
        F.col("q_mean_e4").alias("q_mean_new_e4"),
    )


@query(
    "q_heavy_hitters",
    covers=("X-HEAVY-HITTERS",),
    oracle="""
    WITH tok AS (
        SELECT unnest(list_filter(string_split_regex(text, '\\s+'), w -> w != '')) AS term
        FROM documents
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS total FROM tok),
    c AS (SELECT term, CAST(count(*) AS BIGINT) AS cnt FROM tok GROUP BY term)
    SELECT c.term, c.cnt,
           CAST((CAST(c.cnt AS HUGEINT) * 1000000) // t.total AS BIGINT) AS share_ppm
    FROM c CROSS JOIN tot t
    WHERE c.cnt >= (CAST(t.total AS HUGEINT) + 511) // 512
    """,
)
def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level heavy hitters (stopword/boilerplate-token
    discovery): every token holding >= 1/512 of all token occurrences,
    with its exact count and ppm share.  The oracle is the exact
    group-everything form; the Spark plan is the two-pass
    ``operators/sketches.heavy_hitters`` — a per-partition
    Misra-Gries candidate sketch (shuffle O(partitions x 512) rows,
    never one row per distinct token) followed by an exact
    broadcast-semi-join recount, whose no-false-negative guarantee is
    what lets a sketch-pruned plan stay hash-identical to the exact
    oracle.  The sketch's pruning path (vocabulary >> counters) is
    pinned against exact recomputation on Zipf data in
    ``tests/test_sketches.py``."""
    from week4_musemotion_spark.functions.text import tokens
    from week4_musemotion_spark.operators.sketches import heavy_hitters

    d = load_table(spark, sf_dir, "documents")
    # deliberately NOT spread: the explode+MG pass is light per input
    # row, so redistributing the documents costs more than the serial
    # pass saves (round-7 A/B: 1.1 s unspread vs 1.5-2.8 s spread at
    # sf0.1); at production widths the scan parallelizes itself
    tok = d.select(F.explode(tokens(F.col("text"))).alias("term"))
    return heavy_hitters(tok, "term", den=512)


@query(
    "q_stopword_density_by_source",
    covers=("X-STOPWORD-DENSITY",),
    oracle="""
    WITH tok AS (
        SELECT source,
               unnest(list_filter(string_split_regex(text, '\\s+'), w -> w != '')) AS term
        FROM documents
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS total FROM tok),
    c AS (SELECT term, CAST(count(*) AS BIGINT) AS cnt FROM tok GROUP BY term),
    hh AS (
        SELECT term FROM c CROSS JOIN tot
        WHERE cnt >= (CAST(total AS HUGEINT) + 511) // 512
    )
    SELECT t.source,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(count(h.term) AS BIGINT) AS n_hh,
           CAST((CAST(count(h.term) AS HUGEINT) * 1000000) // count(*) AS BIGINT) AS hh_ppm
    FROM tok t LEFT JOIN hh h ON t.term = h.term
    GROUP BY t.source
    """,
)
def q_stopword_density_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate/stopword saturation per source: the share of each
    source's token stream made of CORPUS-level heavy-hitter tokens
    (>= 1/512 of all occurrences — q_heavy_hitters' set).  A source
    whose hh_ppm sits far above the corpus norm is template/boiler-
    plate-heavy and a candidate for stronger paragraph dedup; far
    below suggests tokenizer-hostile text (code, tables).

    Scale: the heavy-hitter set comes from the two-pass MG sketch
    (broadcast-sized by construction — at most 512 values), so the
    density pass is ONE scan with a broadcast left join and a
    |sources|-group aggregate."""
    from week4_musemotion_spark.functions.text import tokens
    from week4_musemotion_spark.operators.sketches import heavy_hitters

    d = load_table(spark, sf_dir, "documents")
    # not spread: token explode + counting is light per input row —
    # the doc redistribution exchange costs more than it saves here
    # (round-7 A/B, see SCALING.md)
    tok = d.select("source", F.explode(tokens(F.col("text"))).alias("term"))
    hh = heavy_hitters(tok.select("term"), "term", den=512).select("term").withColumn(
        "is_hh", F.lit(1)
    )
    n_hh = F.sum(F.coalesce(F.col("is_hh"), F.lit(0))).cast("long")
    return (
        tok.join(F.broadcast(hh), "term", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            n_hh.alias("n_hh"),
            int_div_trunc(dec(n_hh) * 1_000_000, F.count(F.lit(1))).alias("hh_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# Language confusion matrix (declared vs detected)
# ---------------------------------------------------------------------------


@query(
    "q_lang_confusion",
    covers=("X-LANG-CONFUSION",),
    oracle=f"""
    WITH p AS ({_lang_id_sql()})
    SELECT declared_lang, lang_pred,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(marker_hits) AS BIGINT) AS marker_hits
    FROM p GROUP BY 1, 2
    """,
)
def q_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the corpus's DECLARED language column
    against the engine's marker-based detector (q_lang_id's exact
    semantics, shared oracle fragment): off-diagonal cells are
    mislabeled shards — the audit a multilingual mixing run must
    pass before trusting the lang column for temperature weights
    (q_source_mixture rebalances BY lang; feeding it mislabeled
    docs silently skews the mixture).  marker_hits per cell shows
    whether a disagreement is confident (many markers for the other
    language) or evidence-free ('und' rows).

    Plan: the detector is per-row expression work on the scan; the
    matrix is one |langs|² aggregate."""
    from week4_musemotion_spark.operators.textstats import lang_id

    p = lang_id(load_table(spark, sf_dir, "documents"))
    return p.groupBy("declared_lang", "lang_pred").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("marker_hits").cast("long").alias("marker_hits"),
    )
