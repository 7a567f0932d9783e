"""Sketch audits: each query puts a sketch's answer beside the exact one
on the same data, so the error a sketch configuration costs is
measured on this corpus rather than read off its bound.

- HyperLogLog: per-source distinct shingles, pairwise source
  overlap, precision folding, and the streaming HLL store.
- Bloom filters: a bloom-pruned fact-dim join (exact result) and the
  false-positive rate across filter sizes.
- Count-min sketch: point-query error across widths.
- Quantile sketches: document-length and embedding-norm quantiles,
  the streaming quantile store, and exact per-source and per-nation
  quantiles.
- Streaming count store: daily counts before and after compaction.

The sketches are built from engine-portable primitives (md5-derived
hashes, integer registers), so the DuckDB oracles replay every
estimate exactly."""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from week4_musemotion_spark.functions.eventtime import US_PER_DAY
from week4_musemotion_spark.functions.exact import dec, int_div_trunc
from week4_musemotion_spark.functions.hashing import stable_hash64, stable_hash64_sql
from week4_musemotion_spark.operators.qsketch import (
    bucket_counts,
    quantiles_from_counts,
    quantiles_sql,
)
from week4_musemotion_spark.queries.registry import query
from week4_musemotion_spark.sources.tables import load_table


# ---------------------------------------------------------------------------
# Portable-HLL distinct sketch audit
# ---------------------------------------------------------------------------

#: HLL precision for the distinct-sketch audit: m = 2^8 = 256
#: registers (~6.5 % standard error).  The corpus' per-source 3-gram
#: cardinality (>= ~1.1k at sf0.001, growing with sf) sits safely in
#: the raw-estimate regime (> 2.5 m = 640) at every test SF.
_HLL_P = 8
_HLL_M = 1 << _HLL_P


def _hll_w1() -> int:
    """Empty-register exponent W+1, derived from the operator's own
    hash-width constant so oracle and plan cannot drift."""
    from week4_musemotion_spark.operators.sketches import _HASH_BITS

    return _HASH_BITS - _HLL_P + 1


_HLL_W1 = _hll_w1()


def _hll_num() -> int:
    """α_e7 · m² · 2^(W+1) — the pinned integer numerator shared by
    the Spark plan and the oracle."""
    from week4_musemotion_spark.operators.sketches import hll_alpha_e7

    return hll_alpha_e7(_HLL_M) * _HLL_M * _HLL_M * (1 << _HLL_W1)


def _hll_shingle_sql(n: int = 3) -> str:
    """documents → per-source raw n-gram shingle stream ``sh(source, s)``."""
    from week4_musemotion_spark.queries.extensions import _shingle_expr

    return f"""tok AS (SELECT source, list_filter(string_split_regex(text, '\\s+'), w -> w != '') AS ts FROM documents),
    sh AS (SELECT source, unnest({_shingle_expr(n)}) AS s FROM tok WHERE len(ts) >= {n})"""


def _hll_rho_sql(h: str = "h") -> str:
    """Register rank of a hash expression — the oracle twin of the
    rho computation in operators/sketches.hll_registers."""
    return (
        f"CASE WHEN ({h} >> {_HLL_P}) = 0 THEN {_HLL_W1} "
        f"ELSE {_HLL_W1} - length(bin({h} >> {_HLL_P})) END"
    )


def _hll_e2_sql(dp: str = "dp", present: str = "present") -> str:
    """The exact-integer raw-estimate expression from a group's
    harmonic partial sum and present-register count — shared by every
    HLL oracle so the formula exists once."""
    return (
        f"CAST(CAST('{_hll_num()}' AS HUGEINT)"
        f" // (CAST({dp} + ({_HLL_M} - {present}) * (CAST(1 AS BIGINT) << {_HLL_W1}) AS HUGEINT) * 100000)"
        f" AS BIGINT)"
    )


@query(
    "q_distinct_sketch",
    covers=("X-HLL-DISTINCT",),
    oracle=f"""
    WITH {_hll_shingle_sql(3)},
    hx AS (SELECT source, s, {stable_hash64_sql('s')} AS h FROM sh),
    reg AS (
        SELECT source, h & {_HLL_M - 1} AS bucket,
               max({_hll_rho_sql()}) AS reg
        FROM hx GROUP BY 1, 2
    ),
    agg AS (
        SELECT source, count(*) AS present,
               sum(CAST(1 AS BIGINT) << CAST({_HLL_W1} - reg AS INT)) AS dp
        FROM reg GROUP BY 1
    ),
    est AS (
        SELECT source,
               {_hll_e2_sql()} AS hll_e2,
               CAST({_HLL_M} - present AS BIGINT) AS zero_regs
        FROM agg
    ),
    ex AS (SELECT source, count(DISTINCT s) AS exact_distinct FROM sh GROUP BY 1)
    SELECT e.source,
           CAST(ex.exact_distinct AS BIGINT) AS exact_distinct,
           e.hll_e2,
           e.zero_regs,
           CAST(abs(CAST(e.hll_e2 AS HUGEINT) - 100 * ex.exact_distinct) * 1000000
                // (CAST(100 AS HUGEINT) * ex.exact_distinct) AS BIGINT) AS err_ppm
    FROM est e JOIN ex ON e.source = ex.source
    """,
)
def q_distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-cardinality sketch audit: per source, the corpus'
    3-gram shingle cardinality counted EXACTLY next to the portable-
    HLL estimate (``operators/sketches.hll_registers``), with the
    observed error in ppm — "is 6.5 % error acceptable for my mixing
    weights" answered with this corpus' own numbers.

    The sketch is built from engine-portable primitives (md5-derived
    hash, bin()-ranked leading zeros, power-of-two harmonic terms as
    exact longs, one pinned-integer division), so the DuckDB oracle
    replays the estimate to the exact integer — the same
    sketch-is-still-oracle-checkable property q_heavy_hitters
    established for frequency.  At 100 TB the exact branch (a full
    distinct shuffle of every unique shingle) is dropped and only the
    register table survives: m = 256 rows per source, mergeable
    across shards by per-bucket max, duplicates free.  Raw-regime
    only by design here (n > 2.5 m holds at every SF — min ~1.1k vs
    640); the operator exposes ``zero_regs`` for callers that need
    the linear-counting branch."""
    from week4_musemotion_spark.functions.text import shingles, tokens
    from week4_musemotion_spark.operators.sketches import hll_estimate, hll_registers

    from week4_musemotion_spark.sources.tables import spread

    # spread: parallelize the explode+hash above a single-row-group
    # scan (sources.tables.spread).  The sketch and the exact twin
    # each re-explode from the spread frame: NOT branch-reuse-pinned,
    # deliberately — checkpointing here would materialize the full
    # exploded shingle STREAM (strings, ≫ corpus size)
    d = spread(load_table(spark, sf_dir, "documents").select("source", "text"))
    s = d.select("source", F.explode(shingles(tokens("text"), 3)).alias("s"))
    est = hll_estimate(hll_registers(s, ["source"], "s", p=_HLL_P), ["source"], p=_HLL_P)
    ex = s.groupBy("source").agg(F.countDistinct("s").cast("long").alias("exact_distinct"))
    return (
        ex.join(est, "source")
        .select(
            "source",
            "exact_distinct",
            "hll_e2",
            "zero_regs",
            int_div_trunc(
                F.abs(dec(F.col("hll_e2")) - dec(F.col("exact_distinct")) * 100)
                * 1_000_000,
                dec(F.col("exact_distinct")) * 100,
            ).alias("err_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# Bloom-pruned join
# ---------------------------------------------------------------------------

def _bloom_part_pred():
    """Dim-side predicate for the bloom-pruned join AND the bloom
    fp audit (which provisions THIS join's filter — the two must size
    the same key population): PROMO parts of size <= 10 (~6 % of
    parts), selective enough that the runtime filter visibly shrinks
    the fact side.  (A function — building a Column at import time
    requires an active session.)"""
    return (F.col("p_type") == "PROMO") & (F.col("p_size") <= 10)


#: Unqualified (alias-free) SQL rendering of :func:`_bloom_part_pred`
#: — valid wherever ``part`` is in scope, qualified or not.
_BLOOM_PART_PRED_SQL = "p_type = 'PROMO' AND p_size <= 10"


@query(
    "q_bloom_pruned_join",
    covers=("X-BLOOM-JOIN-PRUNE",),
    oracle=f"""
    SELECT p.p_brand,
           CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                    * (100 - CAST(round(l.l_discount * 100) AS BIGINT))) AS BIGINT)
               AS revenue_e4,
           CAST(count(*) AS BIGINT) AS n_items
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE {_BLOOM_PART_PRED_SQL}
    GROUP BY p.p_brand
    """,
)
def q_bloom_pruned_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Selective fact⋈dim revenue rollup where the fact side is
    pre-pruned by a bloom filter built from the dim's surviving join
    keys (``operators/sketches.bloom_prune``) — the explicit runtime
    semi-join filter for the 100 TB join shape where the dim is too
    big to broadcast raw (its bloom is still KBs) and shuffling the
    whole fact table for a 6 % -selective join wastes 94 % of the
    exchange.  The bitmap is advisory: false positives are removed by
    the equi-join itself, so the result is EXACT and the oracle is
    the plain join — the same sketch-prunes-but-never-decides
    contract as q_heavy_hitters and q_distinct_sketch.  (At this
    test scale Catalyst would broadcast the dim anyway; the plan
    still shows the membership predicate on the scan side of the
    exchange, which is the 1000-executor story.)"""
    from week4_musemotion_spark.functions.exact import cents
    from week4_musemotion_spark.operators.sketches import bloom_prune
    from week4_musemotion_spark.queries.tpch import _disc_pct

    part = load_table(spark, sf_dir, "part").filter(_bloom_part_pred())
    li = load_table(spark, sf_dir, "lineitem")
    pruned = bloom_prune(li, part.select("p_partkey"), "l_partkey", "p_partkey")
    return (
        pruned.join(part, pruned.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.sum(cents("l_extendedprice") * (100 - _disc_pct()))
            .cast("long")
            .alias("revenue_e4"),
            F.count(F.lit(1)).cast("long").alias("n_items"),
        )
    )


# ---------------------------------------------------------------------------
# Bloom false-positive audit
# ---------------------------------------------------------------------------

#: Bitmap-size grid: from one 64-bit word (saturates — near-pure
#: false positives) up to 4 KiB (comfortable at every test SF), so
#: the audit always exhibits BOTH regimes regardless of how many dim
#: keys the SF yields.  Production sizing reads this curve at
#: 10-16 bits/key (see build_key_bloom).
_FP_BITS_GRID = (64, 512, 4096, 32768)
_FP_HASHES = 3


def _fp_seed_hash_sql(key_expr: str) -> str:
    """Seeded portable hash with the row's own seed ``s.s`` — the
    shared helper's seed_expr form, so the rendering can never drift
    from functions.hashing.stable_hash64(col, seed=s)."""
    return stable_hash64_sql(key_expr, seed_expr="s.s")


@query(
    "q_bloom_fp_audit",
    covers=("X-BLOOM-FP-AUDIT",),
    oracle=f"""
    WITH dimk AS (SELECT DISTINCT p_partkey AS k FROM part WHERE {_BLOOM_PART_PRED_SQL}),
    seeds AS (SELECT unnest(range(0, {_FP_HASHES})) AS s),
    sizes AS (SELECT CAST(unnest([{", ".join(map(str, _FP_BITS_GRID))}]) AS BIGINT) AS b),
    dpos AS (
        SELECT DISTINCT z.b, {_fp_seed_hash_sql("CAST(d.k AS VARCHAR)")} % z.b AS p
        FROM dimk d CROSS JOIN seeds s CROSS JOIN sizes z
    ),
    factk AS (SELECT l_partkey AS k, count(*) AS cnt FROM lineitem GROUP BY 1),
    fpos AS (
        SELECT z.b, f.k, f.cnt,
               {_fp_seed_hash_sql("CAST(f.k AS VARCHAR)")} % z.b AS p
        FROM factk f CROSS JOIN seeds s CROSS JOIN sizes z
    ),
    verdict AS (
        SELECT fp.b, fp.k, min(fp.cnt) AS cnt,
               min(CASE WHEN d.p IS NOT NULL THEN 1 ELSE 0 END) AS passed
        FROM fpos fp LEFT JOIN dpos d ON fp.b = d.b AND fp.p = d.p
        GROUP BY fp.b, fp.k
    ),
    labeled AS (
        SELECT v.b, v.cnt,
               CASE WHEN v.passed = 1 AND m.k IS NOT NULL THEN 'hit'
                    WHEN v.passed = 1 THEN 'false_positive'
                    WHEN m.k IS NOT NULL THEN 'lost_true_key'
                    ELSE 'pruned' END AS outcome
        FROM verdict v LEFT JOIN dimk m ON v.k = m.k
    )
    SELECT b AS num_bits, outcome,
           CAST(count(*) AS BIGINT) AS n_keys,
           CAST(sum(cnt) AS BIGINT) AS n_rows
    FROM labeled GROUP BY b, outcome
    """,
)
def q_bloom_fp_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bloom filter itself under oracle: every distinct fact join
    key labeled ``hit`` (passes, true dim key), ``false_positive``
    (passes, not a dim key), ``pruned`` (rejected, not a dim key) or
    ``lost_true_key`` (rejected true key — MUST never appear; its
    absence is the no-false-negative certificate in the data, not
    just in a unit test), with key and row counts per outcome — and
    the label swept over a BITMAP-SIZE GRID (64 bits … 32 Kbits), so
    one result is the provisioning curve "my key distribution at b
    bits → this fp rate": the smallest bitmap saturates into
    near-pure false positives while the largest prunes cleanly at
    every test SF, and a team reads off the knee before sizing a
    production filter at 10-16 bits/key.

    Oracle path re-derives membership relationally: a key passes iff
    ALL of its seeded hash positions appear in the union of dim-key
    positions — exactly the OR-ed bitmap the Spark side broadcasts,
    so both engines agree on every label at every size."""
    from week4_musemotion_spark.functions.hashing import stable_hash64
    from week4_musemotion_spark.operators.sketches import (
        bloom_positions,
        bloom_words,
    )

    part = load_table(spark, sf_dir, "part").filter(_bloom_part_pred())
    # pinned: dimk feeds the position build (eager collect) plus the
    # fused label join — unpinned, the part scan + distinct shuffle
    # would re-execute per consumer
    dimk = (
        part.select(F.col("p_partkey").alias("k"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    li = load_table(spark, sf_dir, "lineitem")
    factk = li.groupBy(F.col("l_partkey").alias("k")).agg(
        F.count(F.lit(1)).alias("cnt")
    ).localCheckpoint(eager=False)  # one fact scan feeds every grid size
    # one distributed position build at the grid maximum; every
    # power-of-two size below it is a driver-side mask (positions are
    # hash & (bits-1)), so the grid costs ONE Spark job, not four
    pos = bloom_positions(dimk, "k", num_bits=max(_FP_BITS_GRID))
    # FUSED grid (was: one bloom_might_contain filter + one dim join
    # per size, unioned — 4 joins, 4 passes over factk, 12 md5s/key).
    # The three seeded portable hashes are computed ONCE per fact key
    # at the grid maximum (pmod at a power of two is a bit mask, so
    # pmod(h, max) & (b-1) == pmod(h, b) — the same fold-down identity
    # the position build uses), ONE left join labels dim membership,
    # and one struct explode emits each size's verdict from its own
    # bitmap literal.  Outcome labels are bit-identical; the oracle is
    # unchanged.
    max_bits = max(_FP_BITS_GRID)
    hashed = factk.join(dimk.withColumn("in_dim", F.lit(True)), "k", "left").select(
        "cnt",
        "in_dim",
        *[
            F.pmod(stable_hash64(F.col("k").cast("string"), seed=s), max_bits).alias(
                f"_h{s}"
            )
            for s in range(_FP_HASHES)
        ],
    )
    structs = []
    for bits in _FP_BITS_GRID:
        arr = F.array(*[F.lit(w).cast("long") for w in bloom_words(pos, bits)])
        passed = None
        for s in range(_FP_HASHES):
            p = F.col(f"_h{s}").bitwiseAND(bits - 1)
            word = F.element_at(arr, F.shiftright(p, 6).cast("int") + 1)
            bit = F.call_function(
                "shiftright", word, p.bitwiseAND(63).cast("int")
            ).bitwiseAND(1)
            cond = bit == 1
            passed = cond if passed is None else passed & cond
        structs.append(
            F.struct(
                F.lit(bits).cast("long").alias("num_bits"), passed.alias("passed")
            )
        )
    labeled = hashed.select(
        "cnt", "in_dim", F.explode(F.array(*structs)).alias("g")
    ).select(
        F.col("g.num_bits").alias("num_bits"),
        "cnt",
        F.when(F.col("g.passed") & F.col("in_dim").isNotNull(), "hit")
        .when(F.col("g.passed"), "false_positive")
        .when(F.col("in_dim").isNotNull(), "lost_true_key")
        .otherwise("pruned")
        .alias("outcome"),
    )
    return labeled.groupBy("num_bits", "outcome").agg(
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.sum("cnt").cast("long").alias("n_rows"),
    )


# ---------------------------------------------------------------------------
# Pairwise source-overlap via HLL register merges
# ---------------------------------------------------------------------------


@query(
    "q_source_overlap_sketch",
    covers=("X-HLL-OVERLAP",),
    oracle=f"""
    WITH {_hll_shingle_sql(3)},
    hx AS (SELECT source, s, {stable_hash64_sql('s')} AS h FROM sh),
    regs AS (
        SELECT source, h & {_HLL_M - 1} AS bucket,
               max({_hll_rho_sql()}) AS reg
        FROM hx GROUP BY 1, 2
    ),
    sagg AS (
        SELECT source, count(*) AS present,
               sum(CAST(1 AS BIGINT) << CAST({_HLL_W1} - reg AS INT)) AS dp
        FROM regs GROUP BY 1
    ),
    sest AS (SELECT source, {_hll_e2_sql()} AS e2 FROM sagg),
    srcs AS (SELECT DISTINCT source FROM documents),
    prs AS (
        SELECT a.source AS sa, b.source AS sb
        FROM srcs a JOIN srcs b ON a.source < b.source
    ),
    ua AS (
        SELECT p.sa, p.sb, r.bucket, r.reg FROM prs p JOIN regs r ON r.source = p.sa
        UNION ALL
        SELECT p.sa, p.sb, r.bucket, r.reg FROM prs p JOIN regs r ON r.source = p.sb
    ),
    ureg AS (SELECT sa, sb, bucket, max(reg) AS reg FROM ua GROUP BY 1, 2, 3),
    uagg AS (
        SELECT sa, sb, count(*) AS present,
               sum(CAST(1 AS BIGINT) << CAST({_HLL_W1} - reg AS INT)) AS dp
        FROM ureg GROUP BY 1, 2
    ),
    uest AS (SELECT sa, sb, {_hll_e2_sql()} AS union_e2 FROM uagg)
    SELECT u.sa AS source_a, u.sb AS source_b,
           ea.e2 AS a_e2, eb.e2 AS b_e2, u.union_e2,
           greatest(ea.e2 + eb.e2 - u.union_e2, 0) AS overlap_e2
    FROM uest u
    JOIN sest ea ON ea.source = u.sa
    JOIN sest eb ON eb.source = u.sb
    """,
)
def q_source_overlap_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise source-vocabulary overlap from MERGED HLL registers:
    |A ∩ B| ≈ |A| + |B| − |A ∪ B| by inclusion-exclusion, where
    |A ∪ B| comes from ``hll_merge`` of the two sources' register
    tables — no union of the underlying data is ever formed.  This is
    the mirror-site / cross-dump-contamination triage a curation team
    runs over every source pair: with exact counting it costs
    |S|²·vocab set unions; with sketches it costs |S|²·m register
    rows (m = 256), so all 190 pairs here — or all ~500k pairs of a
    1000-source corpus — stay driver-trivial after one corpus scan.
    The estimate replays bit-for-bit in the oracle (same portable
    primitives as q_distinct_sketch); ``overlap_e2`` is clamped at 0
    because inclusion-exclusion of three ±6.5 % estimates can land
    slightly negative for disjoint pairs."""
    from week4_musemotion_spark.functions.exact import dec, int_div_trunc
    from week4_musemotion_spark.functions.text import shingles, tokens
    from week4_musemotion_spark.operators.sketches import (
        hll_alpha_e7,
        hll_registers,
    )
    from week4_musemotion_spark.sources.tables import spread

    d = spread(load_table(spark, sf_dir, "documents").select("source", "text"))
    s = d.select("source", F.explode(shingles(tokens("text"), 3)).alias("s"))
    # the register table is m rows/source — pin it: it feeds the
    # per-source aggregate AND both sides of the pairwise bucket join
    reg = hll_registers(s, ["source"], "s", p=_HLL_P).localCheckpoint(eager=False)
    top = 1 << _HLL_W1
    num_dec = F.lit(str(hll_alpha_e7(_HLL_M) * _HLL_M * _HLL_M * top)).cast(
        "decimal(38,0)"
    )
    term = lambda reg_col: F.call_function(  # noqa: E731 — 2^(W+1−reg)
        "shiftleft", F.lit(1).cast("long"), (F.lit(_HLL_W1) - F.col(reg_col)).cast("int")
    )

    def e2_of(dp, present):
        d_col = dp + (F.lit(_HLL_M) - present) * F.lit(top)
        return int_div_trunc(num_dec, dec(d_col) * 100_000)

    # per-source harmonic sums once (present, dp) — the per-source
    # estimate AND the pairwise-union correction both read them
    sagg = reg.groupBy("source").agg(
        F.count(F.lit(1)).alias("present"), F.sum(term("reg")).alias("dp")
    )
    # FUSED pairwise union (was: pair table ⋈ registers twice →
    # union → merge groupBy → estimate groupBy — two pair-replicated
    # register copies through two aggregates).  Inclusion-exclusion
    # on the harmonic denominator instead: for buckets present in
    # BOTH sources the merged register is max(ra, rb), so
    #   dp_union = dp_a + dp_b − Σ_both (2^(W+1−ra) + 2^(W+1−rb)
    #                                    − 2^(W+1−max(ra, rb)))
    #   present_union = present_a + present_b − present_both
    # — one bucket-keyed self-join + one aggregate produce the exact
    # same integers as the explicit merge (all terms are order-free
    # long sums), and pairs with no common bucket fall out of the
    # inner join (their correction is 0 via the left join below).
    r1 = reg.select(F.col("source").alias("sa"), "bucket", F.col("reg").alias("ra"))
    r2 = reg.select(F.col("source").alias("sb"), "bucket", F.col("reg").alias("rb"))
    corr = (
        r1.join(r2, (r1.bucket == r2.bucket) & (F.col("sa") < F.col("sb")))
        .groupBy("sa", "sb")
        .agg(
            F.count(F.lit(1)).alias("present_both"),
            F.sum(
                term("ra")
                + term("rb")
                - F.call_function(
                    "shiftleft",
                    F.lit(1).cast("long"),
                    (F.lit(_HLL_W1) - F.greatest(F.col("ra"), F.col("rb"))).cast(
                        "int"
                    ),
                )
            ).alias("corr"),
        )
    )
    srcs = reg.select("source").distinct()
    prs = srcs.select(F.col("source").alias("sa")).join(
        srcs.select(F.col("source").alias("sb")), F.col("sa") < F.col("sb")
    )
    ea = sagg.select(
        F.col("source").alias("sa"),
        F.col("present").alias("pa"),
        F.col("dp").alias("dpa"),
    )
    eb = sagg.select(
        F.col("source").alias("sb"),
        F.col("present").alias("pb"),
        F.col("dp").alias("dpb"),
    )
    joined = (
        prs.join(F.broadcast(ea), "sa")
        .join(F.broadcast(eb), "sb")
        .join(corr, ["sa", "sb"], "left")
        .select(
            "sa",
            "sb",
            "pa",
            "dpa",
            "pb",
            "dpb",
            F.coalesce("present_both", F.lit(0)).alias("present_both"),
            F.coalesce("corr", F.lit(0)).alias("corr"),
        )
    )
    a_e2 = e2_of(F.col("dpa"), F.col("pa"))
    b_e2 = e2_of(F.col("dpb"), F.col("pb"))
    u_e2 = e2_of(
        F.col("dpa") + F.col("dpb") - F.col("corr"),
        F.col("pa") + F.col("pb") - F.col("present_both"),
    )
    return joined.select(
        F.col("sa").alias("source_a"),
        F.col("sb").alias("source_b"),
        a_e2.alias("a_e2"),
        b_e2.alias("b_e2"),
        u_e2.alias("union_e2"),
        F.greatest(a_e2 + b_e2 - u_e2, F.lit(0)).alias("overlap_e2"),
    )


# ---------------------------------------------------------------------------
# Count-min point-frequency audit
# ---------------------------------------------------------------------------

#: Width grid: undersized → comfortable, so the audit is a
#: provisioning curve (error collapses ~1/width) at every SF, the
#: same shape q_bloom_fp_audit gives for membership.
_CMS_W_GRID = (1024, 8192, 65536)
_CMS_D = 4
#: Audit the sketch on the corpus' top-k shingles (deterministic:
#: count desc, shingle asc).
_CMS_TOPK = 20


def _cms_oracle_one_width(w: int) -> str:
    """One width's cells→lookup CTE chain; grid rows are UNION ALLed."""
    return f"""
    SELECT {w} AS width, t.term, min(t.exact_cnt) AS exact_cnt,
           min(COALESCE(c.cnt, 0)) AS cms_est
    FROM (
        SELECT e.term, e.exact_cnt, s.s AS j,
               {stable_hash64_sql("e.term", seed_expr="s.s")} & {w - 1} AS pos
        FROM ex e CROSS JOIN seeds s
    ) t
    LEFT JOIN (
        SELECT s.s AS j,
               {stable_hash64_sql("sh.s", seed_expr="s.s")} & {w - 1} AS pos,
               count(*) AS cnt
        FROM sh CROSS JOIN seeds s
        GROUP BY 1, 2
    ) c ON t.j = c.j AND t.pos = c.pos
    GROUP BY t.term"""


@query(
    "q_cms_point_error",
    covers=("X-CMS-POINT",),
    oracle=f"""
    WITH {_hll_shingle_sql(3)},
    seeds AS (SELECT unnest(range(0, {_CMS_D})) AS s),
    ex AS (
        SELECT s AS term, count(*) AS exact_cnt FROM sh GROUP BY 1
        ORDER BY exact_cnt DESC, term ASC LIMIT {_CMS_TOPK}
    ),
    est AS ({" UNION ALL ".join(_cms_oracle_one_width(w) for w in _CMS_W_GRID)})
    SELECT CAST(width AS BIGINT) AS width, term,
           CAST(exact_cnt AS BIGINT) AS exact_cnt,
           CAST(cms_est AS BIGINT) AS cms_est,
           CAST((CAST(cms_est AS HUGEINT) - exact_cnt) * 1000000
                // CAST(exact_cnt AS HUGEINT) AS BIGINT) AS over_ppm
    FROM est
    """,
)
def q_cms_point_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch under audit: the corpus' top-20 shingles by
    EXACT count next to their ``cms_lookup`` estimates and the
    overestimate in ppm, swept over a WIDTH GRID (1 Ki → 64 Ki
    cells/row) — one result is the provisioning curve "my stream at
    width w → this collision mass", error collapsing ~1/w as the
    grid widens.  ``over_ppm >= 0`` everywhere is CMS's one-sided
    guarantee, visible in the data; the flat-headed shingle
    distribution here makes the undersized end overestimate several-
    fold, which is exactly what the audit exists to expose before a
    team trusts a depth×width budget for per-token/per-URL counts.

    Scale: each sketch is depth × width rows TOTAL no matter the
    stream, and the whole GRID costs one corpus pass — cells are
    built once at the grid maximum and folded down per width
    (``cms_fold``: positions are hash & (w-1), so narrow cells are
    exact sums of wide ones), the same one-build trick as the bloom
    grid.  The exact top-k exists only as the audit's truth side.
    Same portable primitives as the HLL/bloom family, so the oracle
    replays every cell at every width."""
    from week4_musemotion_spark.functions.text import shingles, tokens

    # spread: parallelize explode+md5 above a single-row-group scan
    from week4_musemotion_spark.sources.tables import spread

    d = spread(load_table(spark, sf_dir, "documents").select("text"))
    s = d.select(F.explode(shingles(tokens("text"), 3)).alias("s"))
    # ONE corpus pass (was two: the top-k truth aggregate AND a
    # cms_sketch build each exploded+hashed the full shingle stream).
    # The audit already needs the exact per-term counts for its truth
    # side, and a CMS cell is by definition the sum of the counts of
    # the terms hashing into it — so the whole sketch GRID derives
    # from the exact term-frequency table: 4 md5s per DISTINCT term
    # (hashed once at the grid max, masked down per width — pmod at a
    # power of two is a bit mask), not 4 per occurrence.  Replaces
    # the previous shape (3 cms_fold aggregates + 3 cms_lookup
    # joins + union + a join back to the truth side) with one
    # explode+aggregate for all widths' cells and one broadcast left
    # join + min aggregate.  Cell counts and estimates are
    # bit-identical to building at each width directly; the oracle is
    # unchanged.
    exact = (
        s.groupBy("s")
        .agg(F.count(F.lit(1)).alias("exact_cnt"))
        .localCheckpoint(eager=False)  # lazy: feeds cells, top-k and
        # the probe side inside the one final job
    )
    hashed = exact.select(
        "s",
        "exact_cnt",
        *[
            stable_hash64(F.col("s").cast("string"), seed=j).alias(f"_h{j}")
            for j in range(_CMS_D)
        ],
    )
    cells = (
        hashed.select(
            "exact_cnt",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(w).cast("long").alias("width"),
                            F.lit(j).cast("int").alias("j"),
                            F.col(f"_h{j}").bitwiseAND(w - 1).alias("pos"),
                        )
                        for w in _CMS_W_GRID
                        for j in range(_CMS_D)
                    ]
                )
            ).alias("g"),
        )
        .groupBy(
            F.col("g.width").alias("width"),
            F.col("g.j").alias("j"),
            F.col("g.pos").alias("pos"),
        )
        .agg(F.sum("exact_cnt").alias("cnt"))
    )
    top = (
        hashed.orderBy(F.col("exact_cnt").desc(), F.col("s").asc())
        .limit(_CMS_TOPK)
        .withColumnRenamed("s", "term")
    )
    tpos = top.select(
        "term",
        "exact_cnt",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(w).cast("long").alias("width"),
                        F.lit(j).cast("int").alias("j"),
                        F.col(f"_h{j}").bitwiseAND(w - 1).alias("pos"),
                    )
                    for w in _CMS_W_GRID
                    for j in range(_CMS_D)
                ]
            )
        ).alias("g"),
    ).select(
        "term",
        "exact_cnt",
        F.col("g.width").alias("width"),
        F.col("g.j").alias("j"),
        F.col("g.pos").alias("pos"),
    )
    est = (
        tpos.join(F.broadcast(cells), ["width", "j", "pos"], "left")
        .groupBy("width", "term", "exact_cnt")
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).cast("long").alias("cms_est"))
    )
    return est.select(
        "width",
        "term",
        F.col("exact_cnt").cast("long").alias("exact_cnt"),
        "cms_est",
        int_div_trunc(
            (dec(F.col("cms_est")) - dec(F.col("exact_cnt"))) * 1_000_000,
            dec(F.col("exact_cnt")),
        ).alias("over_ppm"),
    )


# ---------------------------------------------------------------------------
# Streaming HLL store report
# ---------------------------------------------------------------------------

_STREAM_BATCHES = 3
#: Raw-regime boundary in e2 fixed point: 2.5 · m · 100 (integer
#: compare, portable).
_HLL_LINEAR_E2 = int(2.5 * _HLL_M * 100)


def _build_hll_store(spark: SparkSession, sf_dir: str, tmp: str) -> None:
    """Run the REAL streaming sink body deterministically: events
    split into ordered micro-batches by event_id residue, each pushed
    through make_hll_sink (the foreachBatch body)."""
    import os

    from week4_musemotion_spark.streaming.sketches import make_hll_sink

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", F.col("user_id").cast("string").alias("u")
    )
    sink = make_hll_sink(["event_type"], "u", os.path.join(tmp, "store"))
    for b in range(_STREAM_BATCHES):
        sink(ev.filter(F.col("event_id") % _STREAM_BATCHES == b), b)
    open(os.path.join(tmp, "_SUCCESS"), "w").close()


def _hll_store_fixture(spark: SparkSession, sf_dir: str) -> str:
    from week4_musemotion_spark.queries.pipeline_ops import cached_fixture

    return cached_fixture(
        "musemotion_hll_store",
        sf_dir,
        f"hll_store:{_STREAM_BATCHES}:{_HLL_M}".encode(),
        lambda tmp: _build_hll_store(spark, sf_dir, tmp),
        table="events",  # fingerprint the table the store is BUILT from
    )


@query(
    "q_stream_distinct_report",
    covers=("X-STREAM-HLL",),
    oracle=f"""
    WITH hx AS (
        SELECT event_type, {stable_hash64_sql("CAST(user_id AS VARCHAR)")} AS h
        FROM events
        -- mirror hll_registers' null guard: md5(NULL) is NULL in
        -- DuckDB and would otherwise mint a NULL-bucket register row
        WHERE user_id IS NOT NULL
    ),
    reg AS (
        SELECT event_type, h & {_HLL_M - 1} AS bucket,
               max({_hll_rho_sql()}) AS reg
        FROM hx GROUP BY 1, 2
    ),
    agg AS (
        SELECT event_type, count(*) AS present,
               sum(CAST(1 AS BIGINT) << CAST({_HLL_W1} - reg AS INT)) AS dp
        FROM reg GROUP BY 1
    ),
    est AS (
        SELECT event_type, {_hll_e2_sql()} AS hll_e2,
               CAST({_HLL_M} - present AS BIGINT) AS zero_regs
        FROM agg
    ),
    ex AS (
        SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct
        FROM events GROUP BY 1
    )
    SELECT e.event_type, ex.exact_distinct, e.hll_e2, e.zero_regs,
           CASE WHEN e.hll_e2 <= {_HLL_LINEAR_E2} AND e.zero_regs > 0
                THEN 'linear-counting' ELSE 'raw' END AS regime
    FROM est e JOIN ex ON e.event_type = ex.event_type
    """,
)
def q_stream_distinct_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMING register store under the value oracle: events
    are pushed through the real ``make_hll_sink`` foreachBatch body
    in ordered micro-batches (cached fixture, gate-report pattern),
    and the query reads the store it published — per event type, the
    stream's distinct-user register estimate next to the exact batch
    count.  The oracle is the PURE-BATCH HLL SQL over the same
    events: it matches bit-for-bit because the store provably equals
    the batch sketch (pointwise-max merge is associative/commutative/
    idempotent — the algebra the streaming module's exactly-once
    rests on), so the driver check certifies the streaming path end
    to end, not just its batch twin.  ``regime`` labels rows whose
    cardinality sits below the raw-estimate regime (small SFs here):
    the integer raw form is reported either way — engine-identical —
    and callers read ``estimate``'s linear-counting branch for those
    rows in production."""
    from week4_musemotion_spark.operators.sketches import hll_estimate

    import os

    store = os.path.join(_hll_store_fixture(spark, sf_dir), "store")
    reg = spark.read.parquet(store)
    est = hll_estimate(reg, ["event_type"], p=_HLL_P)
    ev = load_table(spark, sf_dir, "events")
    ex = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("long").alias("exact_distinct")
    )
    regime = F.when(
        (F.col("hll_e2") <= _HLL_LINEAR_E2) & (F.col("zero_regs") > 0),
        "linear-counting",
    ).otherwise("raw")
    return ex.join(est, "event_type").select(
        "event_type", "exact_distinct", "hll_e2", "zero_regs", regime.alias("regime")
    )


#: Precision-fold grid: build once at p=11 (2048 registers/source),
#: fold down to each audited precision.  The grid's point is the
#: ONE-PASS contract — fold(build(11), q) == build(q) exactly — so
#: a precision/error trade-off study costs one corpus scan.
_FOLD_P_HI = 11
_FOLD_GRID = (10, 9, 8)


def _fold_rho_sql(p: int, h: str = "h") -> str:
    """Oracle rho at an arbitrary precision (the p-parameterized twin
    of :func:`_hll_rho_sql`)."""
    w1 = 60 - p + 1
    return (
        f"CASE WHEN ({h} >> {p}) = 0 THEN {w1} "
        f"ELSE {w1} - length(bin({h} >> {p})) END"
    )


def _fold_e2_sql(p: int, dp: str = "dp", present: str = "present") -> str:
    """Oracle raw-estimate integer at an arbitrary precision."""
    from week4_musemotion_spark.operators.sketches import hll_alpha_e7

    m = 1 << p
    w1 = 60 - p + 1
    num = hll_alpha_e7(m) * m * m * (1 << w1)
    return (
        f"CAST(CAST('{num}' AS HUGEINT)"
        f" // (CAST({dp} + ({m} - {present}) * (CAST(1 AS BIGINT) << {w1}) AS HUGEINT) * 100000)"
        f" AS BIGINT)"
    )


def _fold_block_sql(q: int) -> str:
    """One grid point: fold reg_hi down to q, build directly at q,
    compare registers and estimates."""
    m = 1 << q
    w1 = 60 - q + 1
    sent_hi = 60 - _FOLD_P_HI + 1
    return f"""fold_{q} AS (
        SELECT source, bucket & {m - 1} AS bucket,
               max(CASE WHEN reg < {sent_hi} THEN reg
                        WHEN (bucket >> {q}) = 0 THEN {w1}
                        ELSE {w1} - length(bin(bucket >> {q})) END) AS reg
        FROM reg_hi GROUP BY 1, 2
    ),
    direct_{q} AS (
        SELECT source, h & {m - 1} AS bucket, max({_fold_rho_sql(q)}) AS reg
        FROM hx GROUP BY 1, 2
    ),
    ef_{q} AS (
        SELECT source, {_fold_e2_sql(q)} AS e2 FROM (
            SELECT source, count(*) AS present,
                   sum(CAST(1 AS BIGINT) << CAST({w1} - reg AS INT)) AS dp
            FROM fold_{q} GROUP BY 1)
    ),
    ed_{q} AS (
        SELECT source, {_fold_e2_sql(q)} AS e2 FROM (
            SELECT source, count(*) AS present,
                   sum(CAST(1 AS BIGINT) << CAST({w1} - reg AS INT)) AS dp
            FROM direct_{q} GROUP BY 1)
    ),
    mm_{q} AS (
        SELECT COALESCE(f.source, d.source) AS source,
               CAST(sum(CASE WHEN f.reg IS DISTINCT FROM d.reg THEN 1 ELSE 0 END) AS BIGINT) AS reg_mismatch
        FROM fold_{q} f FULL JOIN direct_{q} d
          ON f.source = d.source AND f.bucket = d.bucket
        GROUP BY 1
    ),
    block_{q} AS (
        SELECT ef.source, CAST({q} AS BIGINT) AS p,
               ef.e2 AS hll_e2_fold, ed.e2 AS hll_e2_direct, mm.reg_mismatch
        FROM ef_{q} ef
        JOIN ed_{q} ed ON ef.source = ed.source
        JOIN mm_{q} mm ON ef.source = mm.source
    )"""


def _fold_oracle_sql() -> str:
    blocks = ",\n    ".join(_fold_block_sql(q) for q in _FOLD_GRID)
    union = "\n    UNION ALL ".join(f"SELECT * FROM block_{q}" for q in _FOLD_GRID)
    return f"""
    WITH {_hll_shingle_sql(3)},
    hx AS (SELECT source, s, {stable_hash64_sql('s')} AS h FROM sh),
    reg_hi AS (
        SELECT source, h & {(1 << _FOLD_P_HI) - 1} AS bucket,
               max({_fold_rho_sql(_FOLD_P_HI)}) AS reg
        FROM hx GROUP BY 1, 2
    ),
    {blocks}
    {union}
    """


@query("q_hll_fold_grid", covers=("X-HLL-FOLD",), oracle=_fold_oracle_sql())
def q_hll_fold_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL precision-fold audit: one register table built at p=11 is
    folded (``operators/sketches.hll_fold``) to each precision in the
    grid and compared — register table AND estimate — against a
    direct build at that precision.  ``reg_mismatch`` must be 0 in
    every row: the fold is EXACT, because narrowing the bucket index
    moves the dropped index bits (recoverable as ``bucket >> q``) to
    the bottom of the ranked suffix where they cannot displace the
    leading 1-bit, and the all-zero-suffix sentinel's image still
    dominates its bucket.

    What it buys at 100 TB: a precision/error/memory study — "is
    m=256 enough for my per-source mixing weights?" — costs ONE
    corpus pass (build at the grid max, m rows/source) instead of one
    scan per candidate precision; the same one-build grid contract as
    the bloom bitmap-size audit and ``cms_fold``'s width grid.  The
    oracle independently replays the fold arithmetic AND every direct
    build, so a fold bug cannot hide behind its own twin.

    Scale: after the one hash pass everything acts on ≤ 2^11
    register rows per source; the direct builds exist only as the
    audit's truth side (drop them in production — that is the point).
    """
    from week4_musemotion_spark.functions.exact import dec, int_div_trunc
    from week4_musemotion_spark.functions.text import shingles, tokens
    from week4_musemotion_spark.operators.sketches import (
        _HASH_BITS,
        hll_alpha_e7,
        hll_registers_grid,
    )
    from week4_musemotion_spark.sources.tables import spread

    # spread: parallelize explode+md5 above a single-row-group scan
    d = spread(load_table(spark, sf_dir, "documents").select("source", "text"))
    s = d.select("source", F.explode(shingles(tokens("text"), 3)).alias("s"))
    # ONE corpus hash pass for the p=11 source table AND every direct
    # build (hll_registers_grid: the md5 is the cost, the per-p
    # bucket/rho are int ops on the same 60 bits); the pinned grid is
    # sum(2^p) register rows per source — everything downstream acts
    # on that
    regs = hll_registers_grid(
        s, ["source"], "s", (_FOLD_P_HI, *_FOLD_GRID)
    ).localCheckpoint(eager=False)
    hi = regs.filter(F.col("p") == _FOLD_P_HI)
    # FUSED grid (was: per-q fold aggregate + 2 estimate aggregates +
    # full join + 3 result joins, × 3 grid points, unioned — 14 joins/
    # aggregates).  All three folds ride ONE explode+aggregate (the
    # per-q mapped registers derive from the same p=11 row — identical
    # integer arithmetic to operators/sketches.hll_fold), the direct
    # builds are already keyed (source, p, bucket) in the grid table,
    # and ONE full join + ONE aggregate compute register mismatches
    # and both estimates' harmonic sums per (source, p).  The estimate
    # formula inlines hll_estimate's exact-integer arithmetic with the
    # same pinned α·m²·2^(W+1) literals, so every output integer is
    # bit-identical to the branched form (oracle unchanged).
    old_sent = F.lit(_HASH_BITS + 1) - F.col("p")  # W_11 + 1, from the row
    fold_structs = []
    for q in _FOLD_GRID:
        new_w1 = _HASH_BITS - q + 1
        dd = F.shiftright(F.col("bucket"), q)
        mapped = F.when(F.col("reg") < old_sent, F.col("reg")).otherwise(
            F.when(dd == 0, F.lit(new_w1)).otherwise(
                F.lit(new_w1) - F.length(F.bin(dd))
            )
        )
        fold_structs.append(
            F.struct(
                F.lit(q).cast("int").alias("p"),
                F.col("bucket").bitwiseAND((1 << q) - 1).alias("bucket"),
                mapped.cast("int").alias("rho"),
            )
        )
    fold = (
        hi.select("source", F.explode(F.array(*fold_structs)).alias("f"))
        .groupBy("source", F.col("f.p").alias("p"), F.col("f.bucket").alias("bucket"))
        .agg(F.max("f.rho").cast("int").alias("reg"))
    )
    direct = regs.filter(F.col("p") != _FOLD_P_HI)
    j = fold.select("source", "p", "bucket", F.col("reg").alias("rf")).join(
        direct.select("source", "p", "bucket", F.col("reg").alias("rd")),
        ["source", "p", "bucket"],
        "full",
    )
    # per-(source, p) harmonic sums: each register contributes
    # 2^(W_p+1 − reg) with W_p+1 = 61 − p a per-row column expression
    w1 = (F.lit(_HASH_BITS + 1) - F.col("p")).cast("int")

    def _dp(reg_col: str) -> Column:
        term = F.call_function(
            "shiftleft", F.lit(1).cast("long"), (w1 - F.col(reg_col)).cast("int")
        )
        return F.sum(F.when(F.col(reg_col).isNotNull(), term).otherwise(F.lit(0)))

    agg = j.groupBy("source", "p").agg(
        F.count("rf").alias("present_f"),
        _dp("rf").alias("dp_f"),
        F.count("rd").alias("present_d"),
        _dp("rd").alias("dp_d"),
        F.sum(F.when(~F.col("rf").eqNullSafe(F.col("rd")), 1).otherwise(0))
        .cast("long")
        .alias("reg_mismatch"),
    )
    num_dec = None
    for q in _FOLD_GRID:
        m = 1 << q
        numq = hll_alpha_e7(m) * m * m * (1 << (_HASH_BITS - q + 1))
        lit = F.lit(str(numq)).cast("decimal(38,0)")
        num_dec = lit if num_dec is None else F.when(F.col("p") == q, lit).otherwise(num_dec)
    m_col = F.call_function("shiftleft", F.lit(1).cast("long"), F.col("p").cast("int"))
    top = F.call_function("shiftleft", F.lit(1).cast("long"), w1)

    def _e2(dp: str, present: str) -> Column:
        d_col = F.col(dp) + (m_col - F.col(present)) * top
        return int_div_trunc(num_dec, dec(d_col) * 100_000)

    return agg.select(
        "source",
        F.col("p").cast("long").alias("p"),
        _e2("dp_f", "present_f").alias("hll_e2_fold"),
        _e2("dp_d", "present_d").alias("hll_e2_direct"),
        "reg_mismatch",
    )


# ---------------------------------------------------------------------------
# Streaming daily-count store report (fixture-driven, value-oracled)
# ---------------------------------------------------------------------------

_COUNT_BATCHES = 3


def _build_count_store(spark: SparkSession, sf_dir: str, tmp: str) -> None:
    """Run the REAL streaming sink body deterministically: events
    split into ordered micro-batches by event_id residue, each pushed
    through make_count_sink (the foreachBatch body).  Batch 1 is
    pushed TWICE — a committed-batch replay — so the exactly-once
    marker protocol is part of what the value oracle certifies (an
    additive store without markers would double-count and fail the
    hash compare)."""
    import os

    from week4_musemotion_spark.streaming.counts import make_count_sink

    ev = load_table(spark, sf_dir, "events").select("event_id", "event_type", "ts")
    sink = make_count_sink(["event_type"], os.path.join(tmp, "store"))
    for b in range(_COUNT_BATCHES):
        sink(ev.filter(F.col("event_id") % _COUNT_BATCHES == b), b)
        if b == 1:
            sink(ev.filter(F.col("event_id") % _COUNT_BATCHES == b), b)  # replay
    open(os.path.join(tmp, "_SUCCESS"), "w").close()


def _count_store_fixture(spark: SparkSession, sf_dir: str) -> str:
    from week4_musemotion_spark.queries.pipeline_ops import cached_fixture

    return cached_fixture(
        "musemotion_count_store",
        sf_dir,
        f"count_store:{_COUNT_BATCHES}".encode(),
        lambda tmp: _build_count_store(spark, sf_dir, tmp),
        table="events",  # fingerprint the table the store is BUILT from
    )


@query(
    "q_stream_counts_report",
    covers=("X-STREAM-COUNTS",),
    oracle=f"""
    SELECT event_type,
           CAST(epoch_us(ts) // {US_PER_DAY} AS BIGINT) AS day_idx,
           CAST(count(*) AS BIGINT) AS cnt
    FROM events GROUP BY 1, 2
    """,
)
def q_stream_counts_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming daily-count store read back: events pushed
    through the REAL foreachBatch body (streaming/counts.py) in
    ordered micro-batches — WITH one committed batch replayed — then
    the committed partial log folded to totals.  The oracle is the
    plain batch daily count, so a hash match certifies the additive
    txn-marker protocol end to end: partials appended exactly once
    under replay, torn attempts excluded, fold equals truth.

    This is the additive-state counterpart of q_stream_distinct_report
    (whose HLL store is exactly-once by idempotent-merge algebra and
    needs no markers) — together the two queries pin BOTH branches of
    the streaming design rule under the value oracle."""
    import os

    from week4_musemotion_spark.streaming.counts import read_daily_counts

    fixture = _count_store_fixture(spark, sf_dir)
    out = read_daily_counts(spark, os.path.join(fixture, "store"))
    return out.select(
        "event_type", F.col("day_idx").cast("long"), F.col("cnt").cast("long")
    )


def _compacted_count_store_fixture(spark: SparkSession, sf_dir: str) -> str:
    """The count-store fixture after ``compact_counts`` folded the
    committed partial log into one batch — built by copying the base
    fixture (content-identical by the compaction contract) and
    compacting the copy."""
    import os
    import shutil

    from week4_musemotion_spark.queries.pipeline_ops import cached_fixture
    from week4_musemotion_spark.streaming.counts import compact_counts

    base = _count_store_fixture(spark, sf_dir)

    def _build(tmp: str) -> None:
        shutil.copytree(base, tmp, dirs_exist_ok=True)
        # the copied base marker must not pre-certify the compacted
        # build (same invariant as the gate's compacted fixture)
        os.remove(os.path.join(tmp, "_SUCCESS"))
        compact_counts(spark, os.path.join(tmp, "store"))
        open(os.path.join(tmp, "_SUCCESS"), "w").close()

    return cached_fixture(
        "musemotion_count_store_compacted",
        sf_dir,
        f"count_store_compacted:{_COUNT_BATCHES}".encode(),
        _build,
        table="events",
    )


@query(
    "q_stream_counts_compacted",
    covers=("X-STREAM-COUNTS-COMPACT",),
    oracle=f"""
    SELECT event_type,
           CAST(epoch_us(ts) // {US_PER_DAY} AS BIGINT) AS day_idx,
           CAST(count(*) AS BIGINT) AS cnt
    FROM events GROUP BY 1, 2
    """,
)
def q_stream_counts_compacted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME totals after ``compact_counts`` folded the partial
    log into one ``bid-c1`` batch — driver evidence that the
    manifest-flip compaction is content-preserving: the oracle is
    IDENTICAL to q_stream_counts_report's, so a fold that
    double-counts a batch (originals + compacted both read), drops
    one, or mutates a cell hash-fails.  Compaction is what keeps a
    month-old monitor's read at O(groups × days) instead of
    O(#micro-batches) file opens."""
    import os

    from week4_musemotion_spark.streaming.counts import read_daily_counts

    fixture = _compacted_count_store_fixture(spark, sf_dir)
    out = read_daily_counts(spark, os.path.join(fixture, "store"))
    return out.select(
        "event_type", F.col("day_idx").cast("long"), F.col("cnt").cast("long")
    )


# ---------------------------------------------------------------------------
# Quantile sketches
# ---------------------------------------------------------------------------


@query(
    "q_len_quantiles",
    covers=("X-QSKETCH-LEN",),
    oracle="WITH src AS (SELECT source, length(text) AS v FROM documents)"
    + quantiles_sql("src", ["source"], "v"),
)
def q_len_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document-length quantiles (p50/p90/p99 lower
    bounds) off the portable quarter-octave log-bucket sketch — the
    table that sizes shards, row groups, and sequence-packing bins.
    Sketch semantics (< 25 % relative under-read, exact integers,
    engine-replayable) in ``operators/qsketch.py``.

    Scale shape: ONE grouped count collapses the corpus to at most
    ~260 bucket rows per source (map-side combined — the shuffle
    carries buckets, not documents); the readout is window math on
    that tiny frame.  Partials merge by summing counts, so the same
    sketch state serves incremental refresh."""
    d = load_table(spark, sf_dir, "documents")
    counts = bucket_counts(d.select("source", F.length("text").alias("v")), ["source"], "v")
    return quantiles_from_counts(counts, ["source"])


@query(
    "q_embed_norm_quantiles",
    covers=("X-QSKETCH-NORM",),
    oracle="""WITH src AS (
        SELECT label,
               CAST(floor(sqrt(list_sum(list_transform(embedding,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) * 1000000 + 0.5) AS BIGINT) AS v
        FROM embeddings
    )"""
    + quantiles_sql("src", ["label"], "v"),
)
def q_embed_norm_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-norm quantiles per label off the same log-bucket
    sketch: the norm-drift monitor — a label whose p50 norm moves an
    octave between corpus versions means a broken encoder batch or a
    normalization change, caught from O(labels × buckets) state.
    Norm quantization (floor(|v|·1e6 + 0.5), sequential fold order)
    is shared with q_embedding_hygiene so the two monitors can never
    disagree on the same vector."""
    from week4_musemotion_spark.queries.semantic import _dot

    e = load_table(spark, sf_dir, "embeddings")
    v = F.floor(
        F.sqrt(_dot(F.col("embedding"), F.col("embedding"))) * 1_000_000 + F.lit(0.5)
    ).cast("long")
    counts = bucket_counts(e.select("label", v.alias("v")), ["label"], "v")
    return quantiles_from_counts(counts, ["label"])

#: Micro-batch count for the replayed corpus stream.
_QS_BATCHES = 6


def _build_qsketch_store(spark: SparkSession, sf_dir: str, tmp: str) -> None:
    """Drive the sink exactly as a foreachBatch stream would, plus the
    two fault-injection moves a test must pin: one batch REPLAYED
    (marker short-circuit) and one mid-stream compaction (manifest
    flip) — if either broke exactly-once, the oracle diff would
    catch it as a wrong bucket count."""
    from week4_musemotion_spark.streaming.counts import compact_counts
    from week4_musemotion_spark.streaming.quantiles import make_qsketch_sink

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.length("text").alias("doc_len")
    )
    store = os.path.join(tmp, "store")
    sink = make_qsketch_sink(["source"], "doc_len", store)
    for b in range(_QS_BATCHES):
        batch = d.filter(F.col("doc_id") % _QS_BATCHES == b)
        sink(batch, b)
        if b == 1:
            sink(batch, b)  # replay: the commit marker must no-op it
        if b == 3:
            compact_counts(spark, store)  # fold the first four batches
    open(os.path.join(tmp, "_SUCCESS"), "w").close()


def _qsketch_store_fixture(spark: SparkSession, sf_dir: str) -> str:
    from week4_musemotion_spark.queries.pipeline_ops import cached_fixture

    return cached_fixture(
        "musemotion_qsketch_store",
        sf_dir,
        f"qsketch_store:{_QS_BATCHES}".encode(),
        lambda tmp: _build_qsketch_store(spark, sf_dir, tmp),
        table="documents",  # fingerprint the table the store is BUILT from
    )


@query(
    "q_stream_len_quantiles",
    covers=("X-STREAM-QSKETCH",),
    oracle="WITH src AS (SELECT source, length(text) AS v FROM documents)"
    + quantiles_sql("src", ["source"], "v"),
)
def q_stream_len_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source length quantiles from the STREAMING sketch store —
    the unbounded-corpus form of q_len_quantiles.  The fixture
    replays the corpus as micro-batches through the txn-marker sink
    (one batch duplicated, the log compacted mid-stream), and the
    readout folds only committed, not-yet-folded partials; the
    oracle is the BATCH quantile SQL over the whole table, which the
    streamed result must match to the digit because bucket-count
    merge is exact addition.  One oracle therefore pins the sketch
    arithmetic, the marker protocol, and the compaction manifest
    flip in a single hash.

    Scale shape: each micro-batch writes O(|batch| → buckets) rows;
    read-side state is O(sources × ~260) regardless of stream
    length; compaction keeps the log's file count bounded."""
    from week4_musemotion_spark.streaming.quantiles import read_quantiles

    tmp = _qsketch_store_fixture(spark, sf_dir)
    return read_quantiles(
        spark,
        os.path.join(tmp, "store"),
        ["source"],
        empty_schema="source string, bucket int, cnt long",
    )


# ---------------------------------------------------------------------------
# Exact-selection quantiles (the sketch's exact twin)
# ---------------------------------------------------------------------------

_EXACT_PS = (("p50", 1, 2), ("p90", 9, 10), ("p99", 99, 100))


@query(
    "q_len_quantiles_exact",
    covers=("X-QUANTILE-EXACT",),
    oracle="""
    WITH c AS (
        SELECT source, length(text) AS v, count(*) AS cnt
        FROM documents GROUP BY 1, 2
    ),
    w AS (
        SELECT source, v, cnt,
               sum(cnt) OVER (PARTITION BY source ORDER BY v
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
               sum(cnt) OVER (PARTITION BY source) AS n
        FROM c
    )
    SELECT source, CAST(max(n) AS BIGINT) AS n,
           CAST(min(CASE WHEN cum >= (n * 1 + 1) // 2 THEN v END) AS BIGINT) AS p50,
           CAST(min(CASE WHEN cum >= (n * 9 + 9) // 10 THEN v END) AS BIGINT) AS p90,
           CAST(min(CASE WHEN cum >= (n * 99 + 99) // 100 THEN v END) AS BIGINT) AS p99
    FROM w GROUP BY source
    """,
)
def q_len_quantiles_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT per-source length quantiles by distributed selection:
    group by (source, value), cumulative-count window ordered by
    value, take the smallest value whose cumulative count reaches
    ceil(p·n) — the same readout arithmetic as the log-bucket sketch
    but over exact values, so the answer is the true order statistic.

    Strategy triple (each a different state/exactness trade on the
    same semantics): q_group_quantiles ranks EVERY ROW in its group
    (fine when groups are small); this path first compresses to a
    (value -> count) histogram, so state is |distinct values| —
    lengths, ratings, ages; the q_len_quantiles sketch caps state at
    ~260 log buckets for unbounded domains at the price of a < 25 %
    under-read.  The sketch's lower-bound contract (sketch_p <=
    exact_p, within a quarter octave) is pinned against this query
    in pytest."""
    from pyspark.sql import Window
    from week4_musemotion_spark.functions.exact import int_div_trunc

    d = load_table(spark, sf_dir, "documents")
    c = d.groupBy("source", F.length("text").alias("v")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    wc = (
        Window.partitionBy("source")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wn = Window.partitionBy("source")
    w = c.withColumn("cum", F.sum("cnt").over(wc)).withColumn(
        "n", F.sum("cnt").over(wn)
    )
    aggs = [F.max("n").cast("long").alias("n")]
    for name, pn, pd_ in _EXACT_PS:
        k = int_div_trunc(F.col("n") * pn + (pd_ - 1), F.lit(pd_))
        aggs.append(
            F.min(F.when(F.col("cum") >= k, F.col("v"))).cast("long").alias(name)
        )
    return w.groupBy("source").agg(*aggs)


# ---------------------------------------------------------------------------
# Money quantiles per nation (sketch x dimension join)
# ---------------------------------------------------------------------------


@query(
    "q_price_quantiles_nation",
    covers=("X-QSKETCH-MONEY",),
    oracle="""WITH src AS (
        SELECT n.n_name AS nation, CAST(round(o.o_totalprice * 100) AS BIGINT) AS v
        FROM orders o
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n ON n.n_nationkey = c.c_nationkey
    )"""
    + quantiles_sql("src", ["nation"], "v"),
)
def q_price_quantiles_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-value quantiles (p50/p90/p99 of exact integer cents) per
    customer nation off the log-bucket sketch — the business-side
    exercise of ``operators/qsketch``: what a revenue dashboard's
    "typical vs whale order by market" tile reads, at O(nations ×
    ~260) state instead of a per-nation sort.

    Scale shape: the nation attribution joins BELOW the sketch build
    — orders ⋈ customer shuffles on the customer key once (or rides
    bucketed layouts at scale), nation broadcasts, and only then
    does the grouped bucket count collapse everything; the quantile
    readout never sees a row of fact data.  Money enters as exact
    cents (``functions/exact.cents``) so the bucket boundaries are
    engine-identical."""
    from week4_musemotion_spark.functions.exact import cents
    from week4_musemotion_spark.operators.qsketch import (
        bucket_counts,
        quantiles_from_counts,
    )

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    src = (
        o.select("o_custkey", cents(F.col("o_totalprice")).alias("v"))
        .join(c.select("c_custkey", "c_nationkey"), F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(n.select("n_nationkey", F.col("n_name").alias("nation"))),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("nation", "v")
    )
    return quantiles_from_counts(bucket_counts(src, ["nation"], "v"), ["nation"])
