"""Behavioral / audit battery: customer-lifecycle analytics on the
order history and statistical drift audits on the corpus — the
"who buys how" and "did my data shift" shapes, all exact-integer
(functions/exact.py) so the DuckDB oracles hash-match.

Reference parity: the reference's dashboard aggregates one frame at
a time (streamlit_app.py:180-190); these add the multi-pass
customer-lifetime and independence-audit shapes a warehouse actually
runs.  Scale notes: every query is keyed-window or keyed-agg shaped;
the contingency audit is two tiny grouped aggs joined back; nothing
is quadratic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from week4_musemotion_spark.functions.exact import (
    dec,
    int_div_round_dec,
    int_div_round_sql,
    int_div_trunc,
    sum_money,
    sum_money_sql,
)
from week4_musemotion_spark.functions.eventtime import US_PER_DAY, epoch_micros
from week4_musemotion_spark.queries.registry import query
from week4_musemotion_spark.sources.tables import load_table


@query(
    "q_order_gaps",
    covers=("X-ORDER-GAPS",),
    oracle="""
    WITH seq AS (
        SELECT o_custkey,
               date_diff('day',
                         lag(o_orderdate) OVER (PARTITION BY o_custkey
                                                ORDER BY o_orderdate, o_orderkey),
                         o_orderdate) AS gap_days
        FROM orders
    )
    SELECT o_custkey AS custkey,
           CAST(count(*) + 1 AS BIGINT) AS n_orders,
           CAST(min(gap_days) AS BIGINT) AS min_gap,
           CAST(max(gap_days) AS BIGINT) AS max_gap,
           CAST(median(gap_days) AS DOUBLE) AS median_gap
    FROM seq WHERE gap_days IS NOT NULL
    GROUP BY o_custkey HAVING count(*) >= 2
    """,
)
def q_order_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-purchase gap profile per customer: LAG over the per-
    customer order timeline (orderkey tie-break makes same-day
    sequences deterministic), then min/max/median whole-day gaps for
    customers with ≥ 3 orders.  Median of integer gaps interpolates
    to an exact .5 — representable exactly in binary, so both engines
    agree bit-for-bit (the one interpolation case where float median
    IS engine-stable).  Scale: one keyed shuffle + one keyed agg."""
    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderdate", "o_orderkey")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    seq = o.select(
        "o_custkey",
        F.datediff(F.col("o_orderdate"), F.lag("o_orderdate").over(w)).alias("gap_days"),
    ).filter(F.col("gap_days").isNotNull())
    return (
        seq.groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            (F.count(F.lit(1)) + 1).cast("long").alias("n_orders"),
            F.min("gap_days").cast("long").alias("min_gap"),
            F.max("gap_days").cast("long").alias("max_gap"),
            F.median("gap_days").cast("double").alias("median_gap"),
        )
        .filter(F.col("n_orders") >= 3)
    )


@query(
    "q_basket_affinity",
    covers=("X-BASKET",),
    oracle="""
    WITH items AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    pairs AS (
        SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, count(*) AS cnt
        FROM items a JOIN items b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY a.l_partkey, b.l_partkey
    )
    SELECT part_a, part_b, CAST(cnt AS BIGINT) AS cnt,
           pa.p_name AS name_a, pb.p_name AS name_b
    FROM pairs JOIN part pa ON part_a = pa.p_partkey
               JOIN part pb ON part_b = pb.p_partkey
    ORDER BY cnt DESC, part_a, part_b LIMIT 25
    """,
)
def q_basket_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket affinity: the 25 part pairs most often bought in
    the same order.  The pair expansion self-joins lineitem on the
    order key, so its cost is Σ C(basket,2) — quadratic only in
    BASKET size (~4 here), linear in order count; the global pair
    count is one keyed agg and the part names broadcast.  The fact-
    fact same-key self-join inherits lineitem's bucketing (zero extra
    shuffle on bucketed tables).  Training-data analog: co-occurrence
    mining over grouped records rather than documents."""
    items = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a, b = items.alias("a"), items.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_a"), F.col("b.l_partkey").alias("part_b")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_name")
    return (
        pairs.join(F.broadcast(part).alias("pa"), F.col("part_a") == F.col("pa.p_partkey"))
        .join(F.broadcast(part).alias("pb"), F.col("part_b") == F.col("pb.p_partkey"))
        .select(
            "part_a",
            "part_b",
            "cnt",
            F.col("pa.p_name").alias("name_a"),
            F.col("pb.p_name").alias("name_b"),
        )
        .orderBy(F.col("cnt").desc(), "part_a", "part_b")
        .limit(25)
    )


@query(
    "q_rfm_segments",
    covers=("X-RFM",),
    oracle=f"""
    WITH base AS (
        SELECT o_custkey AS custkey,
               date_diff('day', max(o_orderdate), TIMESTAMP '2002-01-01') AS recency_days,
               count(*) AS frequency,
               {sum_money_sql("o_totalprice")} AS monetary_cents
        FROM orders GROUP BY o_custkey
    )
    SELECT custkey, CAST(recency_days AS BIGINT) AS recency_days,
           CAST(frequency AS BIGINT) AS frequency, monetary_cents,
           CAST(5 - ntile(4) OVER (ORDER BY recency_days, custkey) AS BIGINT) AS r_score,
           CAST(ntile(4) OVER (ORDER BY frequency, custkey) AS BIGINT) AS f_score,
           CAST(ntile(4) OVER (ORDER BY monetary_cents, custkey) AS BIGINT) AS m_score
    FROM base
    """,
)
def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency / frequency / monetary) segmentation: one grouped
    pass over orders builds the three exact-integer dimensions
    (recency against a pinned reference date, monetary in cents),
    then three NTILE(4) quartile scores over total deterministic
    orders (custkey tie-break; recency quartiles inverted so 4 =
    most recent).  Scale: the base agg is keyed on customer; each
    quartile score is a DISTRIBUTED global NTILE (operators/ranks —
    range repartition + offsets, never the single-task unpartitioned
    window) over the already-aggregated one-row-per-customer table,
    not over the fact."""
    from week4_musemotion_spark.operators.ranks import global_ntile

    o = load_table(spark, sf_dir, "orders")
    base = o.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.datediff(
            F.lit("2002-01-01").cast("timestamp"), F.max("o_orderdate")
        ).alias("recency_days"),
        F.count(F.lit(1)).alias("frequency"),
        sum_money("o_totalprice").alias("monetary_cents"),
    )
    n = base.count()  # one job; shared by all three quartile passes
    scored = global_ntile(base, ["recency_days", "custkey"], 4, "_r", n=n)
    scored = global_ntile(scored, ["frequency", "custkey"], 4, "_f", n=n)
    scored = global_ntile(scored, ["monetary_cents", "custkey"], 4, "_m", n=n)
    return scored.select(
        "custkey",
        F.col("recency_days").cast("long").alias("recency_days"),
        F.col("frequency").cast("long").alias("frequency"),
        "monetary_cents",
        (5 - F.col("_r")).cast("long").alias("r_score"),
        F.col("_f").cast("long").alias("f_score"),
        F.col("_m").cast("long").alias("m_score"),
    )


@query(
    "q_vocab_growth",
    covers=("X-VOCAB-GROWTH",),
    oracle="""
    WITH bg AS (
        SELECT doc_id, array_to_string(a[i:i+1], ' ') AS bigram
        FROM (SELECT doc_id, string_split(text, ' ') AS a FROM documents),
             unnest(generate_series(1, greatest(len(a) - 1, 0))) t(i)
    ),
    first_seen AS (
        SELECT bigram, min(doc_id) AS first_doc FROM bg GROUP BY bigram
    ),
    buckets AS (
        SELECT first_doc // 50 AS bucket, count(*) AS n_new
        FROM first_seen GROUP BY first_doc // 50
    )
    SELECT CAST(bucket AS BIGINT) AS bucket,
           CAST(n_new AS BIGINT) AS n_new_bigrams,
           CAST(sum(n_new) OVER (ORDER BY bucket
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_bigrams
    FROM buckets
    """,
)
def q_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps-law vocabulary growth audit: word-bigram first-occurrence
    curve in ingestion (doc_id) order, bucketed per 50 documents with
    a running cumulative total.  A corpus whose curve flattens early
    is recycling phrasing (crawl loops, boilerplate); a healthy crawl
    keeps discovering types.  Scale: first-occurrence is min(doc_id)
    per bigram (one keyed agg over the shingle explosion); the bucket
    rollup and cumulative window act on the bucket table (corpus/50
    rows) — at much larger corpora, widen the bucket so the curve
    stays thousands of points, which is all a growth audit needs."""
    from week4_musemotion_spark.operators.dedup import shingle_strings

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    bg = shingle_strings(docs, "text", "doc_id", n=2).select(
        F.col("_id").alias("doc_id"), F.col("s").alias("bigram")
    )
    first_seen = bg.groupBy("bigram").agg(F.min("doc_id").alias("first_doc"))
    buckets = (
        first_seen.groupBy((F.col("first_doc") / 50).cast("long").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n_new"))
    )
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    return buckets.select(
        F.col("bucket").cast("long").alias("bucket"),
        F.col("n_new").cast("long").alias("n_new_bigrams"),
        F.sum("n_new").over(w).cast("long").alias("cum_bigrams"),
    )


@query(
    "q_lang_source_drift",
    covers=("X-CHI2-DRIFT",),
    oracle=f"""
    WITH obs AS (
        SELECT lang, source, count(*) AS n FROM documents GROUP BY lang, source
    ),
    m AS (
        SELECT o.lang, o.source, o.n,
               sum(o.n) OVER (PARTITION BY o.lang) AS row_tot,
               sum(o.n) OVER (PARTITION BY o.source) AS col_tot,
               sum(o.n) OVER () AS total
        FROM obs o
    )
    SELECT lang, source, CAST(n AS BIGINT) AS n,
           {int_div_round_sql("row_tot * col_tot * 10000", "total")} AS expected_e4,
           {int_div_round_sql(
               "(n * total - row_tot * col_tot) * (n * total - row_tot * col_tot) * 10000",
               "total * row_tot * col_tot",
           )} AS chi2_e4
    FROM m
    """,
)
def q_lang_source_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language×source independence audit: per contingency cell the
    observed count, the independence-expected count, and the χ² cell
    contribution (obs·total − row·col)²/(total·row·col) — all exact
    integer arithmetic at e4 scale, so no float division can drift a
    cell.  A source whose cells carry outsized χ² is shifting its
    language mix — the drift alarm a crawl pipeline wants.  Scale:
    one grouped count plus three window totals over a cells table
    whose size is |langs|×|sources|, not corpus size."""
    docs = load_table(spark, sf_dir, "documents")
    obs = docs.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("n"))
    # dev = n·total − row·col reaches ~N²/4 and dev² ~N⁴/16: far past
    # 2^63 on real corpora, and ansi=false would WRAP silently while
    # the oracle's window sums promote to HUGEINT — widen everything
    # to decimal(38,0) (functions/exact.dec) before multiplying
    m = obs.select(
        "lang",
        "source",
        "n",
        F.sum(dec(F.col("n"))).over(Window.partitionBy("lang")).alias("row_tot"),
        F.sum(dec(F.col("n"))).over(Window.partitionBy("source")).alias("col_tot"),
        F.sum(dec(F.col("n"))).over(Window.partitionBy()).alias("total"),
    )
    dev = dec(F.col("n")) * F.col("total") - F.col("row_tot") * F.col("col_tot")
    return m.select(
        "lang",
        "source",
        F.col("n").cast("long").alias("n"),
        int_div_round_dec(
            F.col("row_tot") * F.col("col_tot") * 10000, F.col("total")
        ).alias("expected_e4"),
        int_div_round_dec(
            dev * dev * 10000, F.col("total") * F.col("row_tot") * F.col("col_tot")
        ).alias("chi2_e4"),
    )


@query(
    "q_halflife_decay_score",
    covers=("X-DECAY-SCORE",),
    oracle="""
    WITH ranked AS (
        SELECT user_id,
               CAST(round(coalesce(value, 0) * 100) AS BIGINT) AS c,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS j
        FROM events
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_recent,
           CAST(sum(c * (CAST(1 AS BIGINT) << (16 - j))) AS BIGINT)
               AS decay_cents_x32768
    FROM ranked WHERE j <= 16
    GROUP BY user_id
    """,
)
def q_halflife_decay_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency-decayed user engagement score — the half-life weighting
    every freshness-sensitive ranking/curation pipeline wants, made
    EXACT: each of a user's 16 most recent events contributes
    ``cents(value) · 2^(16-j)`` (j = recency rank), i.e. the classic
    α=½ exponential decay in fixed-point — halving is a binary shift,
    so the score is a pure integer with zero float accumulation and
    hash-matches any engine (the float formulation Σ v·0.5^j diverges
    by summation order).  Most-recent weight is 2¹⁵ = 32768 (the
    ``_x32768`` unit); the 16-step window is where 2⁻¹⁶ ≈ leverage
    zero anyway.

    Scale shape: one keyed window (row_number per user, ts+event_id
    total order) + one keyed agg — a single shuffle on user_id; the
    shift weighting is per-row codegen."""
    from week4_musemotion_spark.functions.exact import cents

    e = load_table(spark, sf_dir, "events").select("event_id", "ts", "user_id", "value")
    c = cents(F.coalesce(F.col("value"), F.lit(0.0)))
    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    ranked = e.select(
        "user_id", c.alias("c"), F.row_number().over(w).alias("j")
    ).filter(F.col("j") <= 16)
    return ranked.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_recent"),
        F.sum(F.expr("c * shiftleft(CAST(1 AS BIGINT), 16 - j)"))
        .cast("long")
        .alias("decay_cents_x32768"),
    )


# ---------------------------------------------------------------------------
# CUSUM drift (exact integer changepoint statistic)
# ---------------------------------------------------------------------------


def _daily_dense_sql() -> str:
    """CTE chain ``daily`` → ``span`` → ``grid`` → ``dense(event_type,
    day_idx, cnt)``: per-type daily event counts densified over each
    type's [min, max] day span so zero-event days carry cnt = 0 —
    ONE definition shared by every daily-grid monitor (CUSUM,
    seasonal residuals) so the grid semantics cannot drift.

    Day bucketing truncates epoch-µs; both engines assume
    NON-NEGATIVE epochs (int_div_trunc's p ≥ 0 contract — DuckDB
    ``//`` truncates toward zero while the Spark helper is only
    defined for p ≥ 0, so a pre-1970 timestamp would bucket
    differently; the testdata contract is post-1970 event time)."""
    return f"""daily AS (
        SELECT event_type, epoch_us(ts) // {US_PER_DAY} AS day_idx,
               count(*) AS cnt
        FROM events GROUP BY 1, 2
    ),
    span AS (SELECT event_type, min(day_idx) AS d0, max(day_idx) AS d1
             FROM daily GROUP BY event_type),
    grid AS (SELECT event_type, unnest(range(d0, d1 + 1)) AS day_idx FROM span),
    dense AS (
        SELECT g.event_type, g.day_idx, coalesce(d.cnt, 0) AS cnt
        FROM grid g LEFT JOIN daily d USING (event_type, day_idx)
    )"""


def _daily_dense(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of :func:`_daily_dense_sql` — ``(event_type,
    day_idx, cnt)`` densified per type.  The grid join is
    |types|×|days| rows; both sides derive from the already-tiny
    daily aggregate."""
    e = load_table(spark, sf_dir, "events")
    day = int_div_trunc(epoch_micros(e), F.lit(US_PER_DAY))
    daily = e.groupBy("event_type", day.alias("day_idx")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    span = daily.groupBy("event_type").agg(
        F.min("day_idx").alias("d0"), F.max("day_idx").alias("d1")
    )
    grid = span.select(
        "event_type", F.explode(F.sequence("d0", "d1")).alias("day_idx")
    )
    return grid.join(daily, ["event_type", "day_idx"], "left").select(
        "event_type", "day_idx", F.coalesce("cnt", F.lit(0)).alias("cnt")
    )


@query(
    "q_cusum_drift",
    covers=("X-CUSUM-DRIFT",),
    oracle=f"""
    WITH {_daily_dense_sql()},
    t AS (
        SELECT event_type, day_idx, cnt,
               count(*) OVER (PARTITION BY event_type) AS nd,
               sum(cnt) OVER (PARTITION BY event_type) AS total
        FROM dense
    ),
    s AS (
        SELECT event_type, day_idx, nd, total,
               sum(cnt * nd - total) OVER (PARTITION BY event_type ORDER BY day_idx
                                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cusum
        FROM t
    ),
    agg AS (
        SELECT event_type, CAST(min(nd) AS BIGINT) AS n_days,
               CAST(min(total) AS BIGINT) AS total_events,
               CAST(max(cusum) AS BIGINT) AS s_max, CAST(min(cusum) AS BIGINT) AS s_min,
               max({{'c': cusum, 'nd': -day_idx}}) AS pk
        FROM s GROUP BY event_type
    )
    SELECT event_type, n_days, total_events, s_max, s_min,
           s_max - s_min AS drift_range,
           CAST(-(pk.nd) AS BIGINT) AS peak_day_idx
    FROM agg
    """,
)
def q_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint statistic over daily event counts per type,
    in exact integers: S_t = Σ(cnt_i·D − total) = D·prefix_t −
    t·total (deviation from the mean scaled by the day count D, so no
    fractional mean ever exists).  The peak day is where the
    cumulative deviation tops out — the classic changepoint estimate
    — and (s_max − s_min) is the drift range a monitor thresholds.

    All window work happens on the |types|×|days| daily grid,
    DENSIFIED over each type's [min, max] day span so zero-event
    days carry cnt=0 (deviation −total per silent day — a full
    dropout drives the CUSUM hard negative instead of being
    compressed away; n_days is therefore the span length, not the
    active-day count).  The grid is a few thousand rows at any scale
    — the corpus shuffle is the grouped count, everything after is
    negligible — and the peak day rides
    the SAME single aggregate as the extrema via a struct-max
    (max(cusum, −day) — lexicographic struct ordering in both
    engines), so the corpus is scanned exactly once.  Ties on the
    peak break to the earliest day, keeping the LIMIT-free output
    fully deterministic."""
    dense = _daily_dense(spark, sf_dir)
    wt = Window.partitionBy("event_type")
    t = dense.select(
        "event_type",
        "day_idx",
        "cnt",
        F.count(F.lit(1)).over(wt).alias("nd"),
        F.sum("cnt").over(wt).alias("total"),
    )
    ws = wt.orderBy("day_idx").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    s = t.select(
        "event_type",
        "day_idx",
        "nd",
        "total",
        F.sum(F.col("cnt") * F.col("nd") - F.col("total")).over(ws).alias("cusum"),
    )
    agg = s.groupBy("event_type").agg(
        F.min("nd").cast("long").alias("n_days"),
        F.min("total").cast("long").alias("total_events"),
        F.max("cusum").cast("long").alias("s_max"),
        F.min("cusum").cast("long").alias("s_min"),
        F.max(
            F.struct(F.col("cusum").alias("c"), (-F.col("day_idx")).alias("ndl"))
        ).alias("pk"),
    )
    return agg.select(
        "event_type",
        "n_days",
        "total_events",
        "s_max",
        "s_min",
        (F.col("s_max") - F.col("s_min")).alias("drift_range"),
        (-F.col("pk.ndl")).cast("long").alias("peak_day_idx"),
    )


# ---------------------------------------------------------------------------
# Seasonal-naive residual drift
# ---------------------------------------------------------------------------

_SEASON = 7


@query(
    "q_seasonal_residuals",
    covers=("X-SEASONAL-RESIDUALS",),
    oracle=f"""
    WITH {_daily_dense_sql()},
    r AS (
        SELECT event_type, day_idx, cnt,
               cnt - lag(cnt, {_SEASON}) OVER (PARTITION BY event_type ORDER BY day_idx)
                   AS resid
        FROM dense
    )
    SELECT event_type,
           CAST(count(resid) AS BIGINT) AS n_resid,
           CAST(sum(abs(resid)) AS BIGINT) AS sum_abs_resid,
           CAST(max(abs(resid)) AS BIGINT) AS max_abs_resid,
           CAST(-(max({{'a': abs(resid), 'nd': -day_idx}}).nd) AS BIGINT) AS peak_day_idx
    FROM r WHERE resid IS NOT NULL
    GROUP BY event_type
    """,
)
def q_seasonal_residuals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive residual drift per event type: today's count
    minus the count {_SEASON} days earlier over the DENSIFIED daily
    grid (missing days carry cnt = 0, so the lag is always exactly
    {_SEASON} calendar days — a row-lag over a gappy grid would
    silently compare across gaps).  The weekly-difference series is
    the standard first monitor for traffic with day-of-week
    structure: a level shift shows up once, a broken weekday pattern
    shows up every day, and CUSUM-style level drift (q_cusum_drift)
    stays quiet on pure pattern changes — run both.

    All window work happens on the tiny |types|×|days| grid; the
    corpus shuffle is the grouped count.  Peak day rides the same
    aggregate via struct-max with earliest-day tie-break, exact
    integers end to end."""
    from pyspark.sql import Window

    dense = _daily_dense(spark, sf_dir)
    w = Window.partitionBy("event_type").orderBy("day_idx")
    r = dense.select(
        "event_type",
        "day_idx",
        (F.col("cnt") - F.lag("cnt", _SEASON).over(w)).alias("resid"),
    ).filter(F.col("resid").isNotNull())
    return r.groupBy("event_type").agg(
        F.count("resid").cast("long").alias("n_resid"),
        F.sum(F.abs("resid")).cast("long").alias("sum_abs_resid"),
        F.max(F.abs("resid")).cast("long").alias("max_abs_resid"),
        (-F.max(
            F.struct(F.abs("resid").alias("a"), (-F.col("day_idx")).alias("nd"))
        ).getField("nd")).cast("long").alias("peak_day_idx"),
    )


# ---------------------------------------------------------------------------
# Source-distribution drift: total-variation distance
# ---------------------------------------------------------------------------


@query(
    "q_tv_distance_sources",
    covers=("X-TV-DISTANCE",),
    oracle="""
    WITH tok AS (
        SELECT source, unnest(list_filter(string_split_regex(text, '\\s+'), w -> w != '')) AS term
        FROM documents
    ),
    c AS (SELECT source, term, count(*) AS cnt FROM tok GROUP BY 1, 2),
    n AS (SELECT source, sum(cnt) AS n FROM c GROUP BY 1),
    co AS (
        SELECT a.source AS src_a, b.source AS src_b,
               count(*) AS n_shared_terms,
               sum(abs(CAST(a.cnt AS HUGEINT) * nb.n - CAST(b.cnt AS HUGEINT) * na.n)) AS s_abs,
               sum(a.cnt) AS co_a, sum(b.cnt) AS co_b
        FROM c a
        JOIN c b ON a.term = b.term AND a.source < b.source
        JOIN n na ON na.source = a.source
        JOIN n nb ON nb.source = b.source
        GROUP BY 1, 2
    )
    SELECT p.src_a, p.src_b,
           CAST(COALESCE(co.n_shared_terms, 0) AS BIGINT) AS n_shared_terms,
           CAST((COALESCE(co.s_abs, 0)
                 + (na.n - COALESCE(co.co_a, 0)) * CAST(nb.n AS HUGEINT)
                 + (nb.n - COALESCE(co.co_b, 0)) * CAST(na.n AS HUGEINT))
                * 1000000 // (2 * CAST(na.n AS HUGEINT) * nb.n) AS BIGINT) AS tv_e6
    FROM (SELECT a.source AS src_a, b.source AS src_b
          FROM n a JOIN n b ON a.source < b.source) p
    LEFT JOIN co ON co.src_a = p.src_a AND co.src_b = p.src_b
    JOIN n na ON na.source = p.src_a
    JOIN n nb ON nb.source = p.src_b
    """,
)
def q_tv_distance_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise total-variation distance between source unigram
    token distributions, exact to the e6 digit: TV(A,B) = ½ Σ_t
    |p_A(t) − p_B(t)|, computed over the common denominator
    n_A·n_B so no float division ever happens — terms absent from
    one source contribute their full mass via the complement
    arithmetic (n − Σ_co c), so the truncated vocabulary join stays
    an INNER join.  0 = identical distribution, 1e6 = disjoint
    vocabularies; the matrix is what a mixing planner reads to know
    which sources actually diversify the mixture (near-0 rows are
    redundant crawls) and what drift monitors diff across versions.

    Scale shape: one token-count aggregate (map-side combined),
    then the pair stage joins the count table with itself ON TERM —
    per-term fanout is (sources present)² ≤ |sources|², so the join
    is linear in vocabulary for a fixed source count, never in
    corpus size; totals are a |sources|-row broadcast."""
    d = load_table(spark, sf_dir, "documents")
    from week4_musemotion_spark.functions.text import tokens

    tok = d.select("source", F.explode(tokens(F.col("text"))).alias("term"))
    c = tok.groupBy("source", "term").agg(F.count(F.lit(1)).alias("cnt"))
    c = c.localCheckpoint(eager=False)  # feeds totals AND both join sides
    n = c.groupBy("source").agg(F.sum("cnt").alias("n"))
    a = c.select(F.col("source").alias("src_a"), "term", F.col("cnt").alias("ca"))
    b = c.select(F.col("source").alias("src_b"), "term", F.col("cnt").alias("cb"))
    na = n.select(F.col("source").alias("src_a"), F.col("n").alias("na"))
    nb = n.select(F.col("source").alias("src_b"), F.col("n").alias("nb"))
    co = (
        a.join(b, "term")
        .filter(F.col("src_a") < F.col("src_b"))
        .join(F.broadcast(na), "src_a")
        .join(F.broadcast(nb), "src_b")
        .groupBy("src_a", "src_b")
        .agg(
            F.count(F.lit(1)).alias("n_shared_terms"),
            F.sum(F.abs(dec(F.col("ca")) * F.col("nb") - dec(F.col("cb")) * F.col("na"))).alias("s_abs"),
            F.sum("ca").alias("co_a"),
            F.sum("cb").alias("co_b"),
        )
    )
    spine = (
        na.crossJoin(nb)
        .filter(F.col("src_a") < F.col("src_b"))
        .join(co, ["src_a", "src_b"], "left")
    )
    num = (
        F.coalesce(F.col("s_abs"), F.lit(0).cast("decimal(38,0)"))
        + (F.col("na") - F.coalesce(F.col("co_a"), F.lit(0))) * dec(F.col("nb"))
        + (F.col("nb") - F.coalesce(F.col("co_b"), F.lit(0))) * dec(F.col("na"))
    )
    return spine.select(
        "src_a",
        "src_b",
        F.coalesce(F.col("n_shared_terms"), F.lit(0)).cast("long").alias("n_shared_terms"),
        int_div_trunc(num * 1_000_000, dec(F.col("na")) * F.col("nb") * 2).alias("tv_e6"),
    )
