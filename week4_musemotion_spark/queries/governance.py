"""Data-governance audits: release privacy (k-anonymity over metadata
quasi-identifiers), column integrity (Benford first-digit test,
functional-dependency violations), and the contracts of the ingest
path: schema-evolved reads, JSONL and CSV quarantine splits, and
versioned-table vacuum retention."""

from __future__ import annotations

import math
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from week4_musemotion_spark.functions.exact import cents, cents_sql, dec, int_div_trunc
from week4_musemotion_spark.operators.qsketch import log_bucket, log_bucket_sql
from week4_musemotion_spark.queries.registry import query
from week4_musemotion_spark.sources.tables import load_table


# ---------------------------------------------------------------------------
# k-anonymity quasi-identifier audit
# ---------------------------------------------------------------------------

#: Anonymity threshold: QI groups smaller than this are flagged.
_K_ANON = 5
#: Token-count bucket width for the length quasi-identifier — raw
#: lengths are near-unique (a fingerprint on their own); bucketing is
#: both the standard generalization step and what makes the audit
#: measure the METADATA risk rather than the length column's entropy.
_LEN_BUCKET = 32


@query(
    "q_quasi_identifier_risk",
    covers=("X-K-ANONYMITY",),
    oracle=f"""
    WITH t AS (
        SELECT source, lang,
               len(list_filter(string_split_regex(text, '\\s+'), w -> w != ''))
                 // {_LEN_BUCKET} AS len_bucket
        FROM documents
    ),
    g AS (
        SELECT source, lang, len_bucket, count(*) AS gsize
        FROM t GROUP BY 1, 2, 3
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_groups,
           CAST(count(*) FILTER (gsize < {_K_ANON}) AS BIGINT) AS risky_groups,
           CAST(coalesce(sum(gsize) FILTER (gsize < {_K_ANON}), 0) AS BIGINT) AS risky_docs,
           CAST(min(gsize) AS BIGINT) AS min_group,
           CAST(CAST(coalesce(sum(gsize) FILTER (gsize < {_K_ANON}), 0) AS HUGEINT) * 1000000
                // sum(gsize) AS BIGINT) AS risky_ppm
    FROM g GROUP BY source
    """,
)
def q_quasi_identifier_risk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over the corpus's metadata quasi-identifiers
    (source, lang, token-length bucket of {_LEN_BUCKET}): a document
    whose QI combination matches fewer than {_K_ANON} documents is a
    re-identification risk if the metadata ships with a released
    corpus — the release gate reports, per source, how many QI groups
    and documents sit below k and the worst (smallest) group.

    Plan: the QI tuple is computed in the scan projection, then ONE
    hash aggregate to group sizes and a second tiny aggregate to the
    per-source report — two shuffles of ever-shrinking data, nothing
    else.  Generalization knobs (bucket width, k) are compile-time
    constants so the audit is reproducible across runs and engines."""
    docs = load_table(spark, sf_dir, "documents")
    from week4_musemotion_spark.functions.text import tokens

    t = docs.select(
        "source",
        "lang",
        int_div_trunc(F.size(tokens("text")).cast("long"), F.lit(_LEN_BUCKET)).alias(
            "len_bucket"
        ),
    )
    g = t.groupBy("source", "lang", "len_bucket").agg(F.count(F.lit(1)).alias("gsize"))
    risky = F.sum(F.when(F.col("gsize") < _K_ANON, F.col("gsize")).otherwise(F.lit(0)))
    return g.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.sum(F.when(F.col("gsize") < _K_ANON, 1).otherwise(0)).cast("long").alias("risky_groups"),
        risky.cast("long").alias("risky_docs"),
        F.min("gsize").cast("long").alias("min_group"),
        int_div_trunc(dec(risky) * 1_000_000, F.sum("gsize")).alias("risky_ppm"),
    )


# ---------------------------------------------------------------------------
# Benford first-digit audit
# ---------------------------------------------------------------------------

#: Expected Benford shares in ppm — Python-precomputed CONSTANTS
#: (round(log10(1 + 1/d) · 10^6)); no engine evaluates a log.
_BENFORD_PPM = {d: round(math.log10(1 + 1 / d) * 1_000_000) for d in range(1, 10)}
_BENFORD_CASE = "CASE fd " + " ".join(
    f"WHEN {d} THEN {p}" for d, p in _BENFORD_PPM.items()
) + " END"


@query(
    "q_benford_audit",
    covers=("X-BENFORD",),
    oracle=f"""
    WITH v AS (
        SELECT CAST(substr(CAST({cents_sql("o_totalprice")} AS VARCHAR), 1, 1)
                    AS BIGINT) AS fd
        FROM orders WHERE o_totalprice > 0
    ),
    c AS (SELECT fd, count(*) AS n FROM v GROUP BY fd),
    t AS (SELECT CAST(sum(n) AS HUGEINT) AS total FROM c)
    SELECT fd AS first_digit,
           CAST(n AS BIGINT) AS n_values,
           CAST(CAST(n AS HUGEINT) * 1000000 // total AS BIGINT) AS observed_ppm,
           CAST({_BENFORD_CASE} AS BIGINT) AS benford_ppm,
           CAST(abs(CAST(n AS HUGEINT) * 1000000 // total - {_BENFORD_CASE}) AS BIGINT)
               AS abs_dev_ppm
    FROM c CROSS JOIN t
    """,
)
def q_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-significant-digit distribution of order prices vs
    Benford's law, in exact ppm: multi-magnitude money columns obey
    log10(1 + 1/d) closely, and a synthetic, truncated, or capped
    column snaps away from it — the classic numeric-QA screen run
    before trusting a numeric column's distribution.  The expected
    shares are Python-precomputed integer constants (no engine log),
    so the whole report is exact on both engines.

    The first digit comes from the cents-integer's decimal string —
    exact, locale-free, and identical in both engines (float
    formatting would not be).  Plan: per-row expression → 9-group
    aggregate → broadcast total; scan-bound."""
    o = load_table(spark, sf_dir, "orders")
    v = o.filter(F.col("o_totalprice") > 0).select(
        F.substring(cents("o_totalprice").cast("string"), 1, 1).cast("long").alias("fd")
    )
    c = v.groupBy("fd").agg(F.count(F.lit(1)).alias("n"))
    t = c.agg(F.sum("n").alias("total"))
    bc = None
    for d, p in _BENFORD_PPM.items():
        lit = F.lit(p)
        bc = F.when(F.col("fd") == d, lit) if bc is None else bc.when(F.col("fd") == d, lit)
    obs = int_div_trunc(dec(F.col("n")) * 1_000_000, F.col("total"))
    return c.crossJoin(t).select(  # 9 rows × 1 row
        F.col("fd").alias("first_digit"),
        F.col("n").cast("long").alias("n_values"),
        obs.alias("observed_ppm"),
        bc.cast("long").alias("benford_ppm"),
        F.abs(obs - bc).cast("long").alias("abs_dev_ppm"),
    )


# ---------------------------------------------------------------------------
# Approximate functional-dependency audit
# ---------------------------------------------------------------------------

#: Candidate FDs audited over the documents table: two column pairs
#: plus one derived determinant (the length log-bucket), so the audit
#: exercises both raw and computed attributes.
_FD_CANDIDATES = (("lang", "source"), ("source", "lang"), ("source", "len_bucket"))


def _fd_sql(det: str, dep: str) -> str:
    """Violation accounting for one candidate FD det -> dep over the
    ``fdsrc`` CTE: per determinant value, everything outside the
    MAJORITY image value is a violation.  ``tot - max(cnt)`` is
    well-defined even under majority ties — the max COUNT is unique
    as a number whichever image value holds it."""
    return f"""
        SELECT '{det}->{dep}' AS fd,
               CAST(sum(tot) AS BIGINT) AS n_rows,
               CAST(count(*) AS BIGINT) AS n_det_values,
               CAST(sum(tot - mx) AS BIGINT) AS n_violations,
               CAST(CAST(sum(tot - mx) AS HUGEINT) * 1000000 // sum(tot) AS BIGINT)
                   AS violation_ppm
        FROM (
            SELECT {det} AS d, sum(cnt) AS tot, max(cnt) AS mx
            FROM (SELECT {det}, {dep}, count(*) AS cnt FROM fdsrc GROUP BY 1, 2)
            GROUP BY 1
        )"""


@query(
    "q_fd_violations",
    covers=("X-FD-AUDIT",),
    oracle="WITH fdsrc AS (SELECT lang, source, "
    + log_bucket_sql("length(text)")
    + " AS len_bucket FROM documents)"
    + " UNION ALL ".join(_fd_sql(det, dep) for det, dep in _FD_CANDIDATES),
)
def q_fd_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate functional-dependency audit (the profiling op
    behind schema inference, Metanome/TANE-style but set up as a
    VIOLATION RATE, not a boolean): for each candidate FD X -> Y,
    the share of rows whose Y is not their X-value's majority image.
    violation_ppm = 0 means the FD holds exactly (Y is derivable
    from X — a normalization/compression opportunity and a
    data-contract candidate); small means "almost holds" (the
    violations are the anomaly worklist); ~uniform-random means the
    columns are independent.  One candidate uses a DERIVED
    determinant (the length log-bucket) to show the audit composes
    with computed attributes.

    Scale shape: per FD one (X, Y) grouped count (map-side
    combined), one |X|-row re-aggregate — never wider than the
    distinct-pair count; the three audits share one scan via the
    common projected frame."""
    d = load_table(spark, sf_dir, "documents").select(
        "lang", "source", log_bucket(F.length("text")).alias("len_bucket")
    )
    d = d.localCheckpoint(eager=False)  # three audits share the scan
    out = None
    for det, dep in _FD_CANDIDATES:
        c = d.groupBy(det, dep).agg(F.count(F.lit(1)).alias("cnt"))
        per_det = c.groupBy(det).agg(
            F.sum("cnt").alias("tot"), F.max("cnt").alias("mx")
        )
        from week4_musemotion_spark.functions.exact import dec, int_div_trunc

        fd = per_det.agg(
            F.lit(f"{det}->{dep}").alias("fd"),
            F.sum("tot").cast("long").alias("n_rows"),
            F.count(F.lit(1)).cast("long").alias("n_det_values"),
            F.sum(F.col("tot") - F.col("mx")).cast("long").alias("n_violations"),
            int_div_trunc(
                dec(F.sum(F.col("tot") - F.col("mx"))) * 1_000_000, F.sum("tot")
            ).alias("violation_ppm"),
        )
        out = fd if out is None else out.unionByName(fd)
    return out

#: Modulus/residue picking which documents carry a planted-broken
#: JSONL line in the quarantine fixture (deterministic at every SF).
_Q_MOD, _Q_RESIDUE = 50, 7

#: Generation split for the evolution fixture: doc_id % 3.
_EVO_MOD = 3


def _evolution_fixture(spark: SparkSession, sf_dir: str) -> str:
    """Cached three-generation evolved dataset built from documents:

    - gen0 (doc_id % 3 == 0): (doc_id, lang, n_chars INT) — narrow.
    - gen1 (== 1): n_chars widens to LONG, ``source`` is ADDED.
    - gen2 (== 2): ``lang`` is DROPPED (the batch stops carrying it).

    The evolution REPORTS are asserted in the build (wrong metadata
    kills the fixture loudly instead of publishing a wrong dataset).
    """
    import os

    from week4_musemotion_spark.queries.pipeline_ops import cached_fixture
    from week4_musemotion_spark.sources.evolution import evolve_append

    def _build(tmp: str) -> None:
        ds = os.path.join(tmp, "dataset")
        docs = load_table(spark, sf_dir, "documents")
        gen = lambda r: docs.filter(F.pmod(F.col("doc_id"), F.lit(_EVO_MOD)) == r)  # noqa: E731
        r0 = evolve_append(
            gen(0).select("doc_id", "lang", F.col("n_chars").cast("int").alias("n_chars")),
            ds,
        )
        r1 = evolve_append(
            gen(1).select("doc_id", "lang", F.col("n_chars").alias("n_chars"), "source"),
            ds,
        )
        r2 = evolve_append(gen(2).select("doc_id", "n_chars", "source"), ds)
        want = [
            ({"added": [], "filled": [], "widened": [], "generation": 0}, r0),
            (
                {
                    "added": ["source"],
                    "filled": [],
                    "widened": [("n_chars", "int", "bigint")],
                    "generation": 1,
                },
                r1,
            ),
            (
                {"added": [], "filled": ["lang"], "widened": [], "generation": 2},
                r2,
            ),
        ]
        for expect, got in want:
            if got != expect:
                raise AssertionError(f"evolution fixture report drift: {got} != {expect}")
        open(os.path.join(tmp, "_SUCCESS"), "w").close()

    return cached_fixture(
        "musemotion_evolution",
        sf_dir,
        f"evolution:{_EVO_MOD}".encode(),
        _build,
        table="documents",
    )


@query(
    "q_schema_evolution_read",
    covers=("X-SCHEMA-EVOLUTION",),
    oracle=f"""
    SELECT CASE WHEN doc_id % {_EVO_MOD} = 2 THEN NULL ELSE lang END AS lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS chars_sum,
           CAST(count(CASE WHEN doc_id % {_EVO_MOD} <> 0 THEN 1 END) AS BIGINT)
               AS with_source,
           CAST(2 AS BIGINT) AS generations
    FROM documents GROUP BY 1
    """,
)
def q_schema_evolution_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The three-generation evolved dataset read back whole under the
    lattice-merged union schema and aggregated per lang — the oracle
    recomputes the identical numbers from the raw table, so the hash
    certifies the whole evolution contract at once: chars_sum is only
    right if the gen0 INT files up-cast to long at scan time (plain
    ``mergeSchema`` refuses that merge — measured, round-10 note);
    with_source is only right if gen0 rows NULL-fill the
    later-added column; the NULL-lang group is exactly gen2 (the
    generation that stopped carrying lang); and ``generations`` is
    the sidecar counter (2 after three appends).

    100 TB story: evolution is METADATA work — reconcile touches no
    existing file, the read is one sidecar fetch + one scan under a
    declared schema, and the sidecar publishes before the data under
    a lock (crash- and concurrency-safe; ``sources/evolution.py``).
    The reference's only schema-change path is drop-and-recreate
    (``load_local_to_db.py:122-150``), a full rewrite."""
    import os

    from week4_musemotion_spark.sources.evolution import _read_sidecar, read_evolved

    ds = os.path.join(_evolution_fixture(spark, sf_dir), "dataset")
    gen = _read_sidecar(ds)[1]
    return (
        read_evolved(spark, ds)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("chars_sum"),
            F.count("source").cast("long").alias("with_source"),
        )
        .withColumn("generations", F.lit(gen).cast("long"))
    )


def _quarantine_fixture(spark: SparkSession, sf_dir: str) -> str:
    """Cached JSONL ingest fixture with planted-broken lines, plus the
    dead-letter parquet the single-pass ``quarantine_to`` landed.

    Every document becomes one JSON line ``{{doc_id, lang, n_chars}}``;
    documents with ``doc_id % {mod} == {res}`` get their line truncated
    two characters short (always unbalanced — malformed, never merely
    wrong-typed).  The sink count is asserted against the planted
    count in the build, so a lost or double-counted dead letter kills
    the fixture loudly."""
    import os

    from week4_musemotion_spark.queries.pipeline_ops import cached_fixture
    from week4_musemotion_spark.sources.quarantine import (
        quarantine_to,
        read_jsonl_quarantined,
    )

    def _build(tmp: str) -> None:
        docs = load_table(spark, sf_dir, "documents")
        bad = F.pmod(F.col("doc_id"), F.lit(_Q_MOD)) == _Q_RESIDUE
        j = F.to_json(F.struct(F.col("doc_id"), F.col("lang"), F.col("n_chars")))
        lines = docs.select(j.alias("j"), bad.alias("bad")).select(
            F.when(
                F.col("bad"), F.expr("substring(j, 1, length(j) - 2)")
            ).otherwise(F.col("j")).alias("value")
        )
        lines.repartition(4).write.text(os.path.join(tmp, "lines"))
        _, q = read_jsonl_quarantined(
            spark, os.path.join(tmp, "lines"), "doc_id bigint, lang string, n_chars bigint"
        )
        landed = quarantine_to(q, os.path.join(tmp, "dead_letter"))
        planted = docs.filter(bad).count()
        if landed != planted:
            raise AssertionError(
                f"quarantine fixture drift: sink landed {landed}, planted {planted}"
            )
        open(os.path.join(tmp, "_SUCCESS"), "w").close()

    return cached_fixture(
        "musemotion_quarantine",
        sf_dir,
        f"quarantine:{_Q_MOD}:{_Q_RESIDUE}".encode(),
        _build,
        table="documents",
    )


_quarantine_fixture.__doc__ = _quarantine_fixture.__doc__.format(
    mod=_Q_MOD, res=_Q_RESIDUE
)


@query(
    "q_quarantine_split",
    covers=("X-QUARANTINE",),
    oracle=f"""
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_clean,
           CAST(sum(n_chars) AS BIGINT) AS chars_sum,
           (SELECT CAST(count(*) AS BIGINT) FROM documents
             WHERE doc_id % {_Q_MOD} = {_Q_RESIDUE}) AS n_bad
    FROM documents WHERE doc_id % {_Q_MOD} <> {_Q_RESIDUE}
    GROUP BY lang
    """,
)
def q_quarantine_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dead-letter ingestion end to end under the value oracle: the
    planted-broken JSONL fixture is re-split by
    ``read_jsonl_quarantined`` (one text scan; the parse runs in the
    projection), the CLEAN lane aggregates per lang, and ``n_bad`` is
    read back from the dead-letter PARQUET that the single-pass
    ``quarantine_to`` sink landed (its count rode the write as an
    Observation — no second scan).  The oracle recomputes both from
    the raw table with the same modular rule, so the hash certifies
    the malformed-LINE vs coercible-FIELD boundary, zero row loss
    across the split, and the sink's landed count.

    100 TB story: one text scan feeds both lanes (the split is a
    projection-level predicate, never a cache of the corpus); the
    dead-letter lane carries the raw line + source file — everything
    a replay needs after the producer is fixed.  The reference's
    pandas ingest dies on the first malformed line instead
    (``pipeline.py:139``)."""
    import os

    from week4_musemotion_spark.sources.quarantine import read_jsonl_quarantined

    fixture = _quarantine_fixture(spark, sf_dir)
    clean, _ = read_jsonl_quarantined(
        spark, os.path.join(fixture, "lines"), "doc_id bigint, lang string, n_chars bigint"
    )
    n_bad = (
        spark.read.parquet(os.path.join(fixture, "dead_letter"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_bad"))
    )
    return (
        clean.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_clean"),
            F.sum("n_chars").cast("long").alias("chars_sum"),
        )
        .crossJoin(F.broadcast(n_bad))
    )

#: Modulus/residue picking which documents carry a planted
#: wrong-shape CSV line (distinct from the JSONL twin's 50/7).
_C_MOD, _C_RESIDUE = 50, 23


def _csv_quarantine_fixture(spark: SparkSession, sf_dir: str) -> str:
    """Cached headerless-CSV ingest fixture with planted wrong-shape
    lines, plus the dead-letter parquet ``quarantine_to`` landed.

    Every document becomes one CSV line ``doc_id,lang,n_chars``;
    documents with ``doc_id % MOD == RESIDUE`` get two EXTRA fields
    appended (wrong shape — PERMISSIVE cannot place them, so the
    line quarantines; a wrong-TYPED field would merely null-cast).
    The sink count is asserted against the planted count in the
    build, so a lost or double-counted dead letter kills the fixture
    loudly."""
    import os

    from week4_musemotion_spark.queries.pipeline_ops import cached_fixture
    from week4_musemotion_spark.sources.quarantine import (
        quarantine_to,
        read_csv_quarantined,
    )

    def _build(tmp: str) -> None:
        docs = load_table(spark, sf_dir, "documents")
        bad = F.pmod(F.col("doc_id"), F.lit(_C_MOD)) == _C_RESIDUE
        line = F.concat_ws(",", F.col("doc_id"), F.col("lang"), F.col("n_chars"))
        lines = docs.select(
            F.when(bad, F.concat(line, F.lit(",4,4")))
            .otherwise(line)
            .alias("value")
        )
        lines.repartition(4).write.text(os.path.join(tmp, "lines"))
        _, q = read_csv_quarantined(
            spark,
            os.path.join(tmp, "lines"),
            "doc_id bigint, lang string, n_chars bigint",
        )
        landed = quarantine_to(q, os.path.join(tmp, "dead_letter"))
        planted = docs.filter(bad).count()
        if landed != planted:
            raise AssertionError(
                f"csv quarantine fixture drift: sink landed {landed}, planted {planted}"
            )
        open(os.path.join(tmp, "_SUCCESS"), "w").close()

    return cached_fixture(
        "musemotion_csv_quarantine",
        sf_dir,
        f"csv_quarantine:{_C_MOD}:{_C_RESIDUE}".encode(),
        _build,
        table="documents",
    )


@query(
    "q_csv_quarantine_split",
    covers=("X-QUARANTINE-CSV",),
    oracle=f"""
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_clean,
           CAST(sum(n_chars) AS BIGINT) AS chars_sum,
           (SELECT CAST(count(*) AS BIGINT) FROM documents
             WHERE doc_id % {_C_MOD} = {_C_RESIDUE}) AS n_bad
    FROM documents WHERE doc_id % {_C_MOD} <> {_C_RESIDUE}
    GROUP BY lang
    """,
)
def q_csv_quarantine_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CSV twin of ``q_quarantine_split``: a headerless-CSV
    ingest (the reference's S1 shape) with planted wrong-shape lines
    re-split by ``read_csv_quarantined`` (one text scan; the parse
    runs in the projection), the CLEAN lane aggregated per lang, and
    ``n_bad`` read back from the dead-letter parquet the single-pass
    ``quarantine_to`` sink landed.  The oracle recomputes both from
    the raw table with the same modular rule, so the hash certifies
    the wrong-SHAPE vs wrong-TYPE boundary (extra separators
    quarantine; a bad field value would only null-cast), zero row
    loss across the split, and the observe-riding sink count.

    100 TB story: identical to the JSONL twin — one text scan feeds
    both lanes, and the dead letter carries raw line + source file,
    everything a replay needs.  The reference's pandas CSV load dies
    on the first malformed line instead (``pipeline.py:139``)."""
    import os

    from week4_musemotion_spark.sources.quarantine import read_csv_quarantined

    fixture = _csv_quarantine_fixture(spark, sf_dir)
    clean, _ = read_csv_quarantined(
        spark,
        os.path.join(fixture, "lines"),
        "doc_id bigint, lang string, n_chars bigint",
    )
    n_bad = spark.read.parquet(os.path.join(fixture, "dead_letter")).agg(
        F.count(F.lit(1)).cast("long").alias("n_bad")
    )
    return (
        clean.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_clean"),
            F.sum("n_chars").cast("long").alias("chars_sum"),
        )
        .crossJoin(F.broadcast(n_bad))
    )

#: Snapshot count written before the vacuum, and how many survive.
#: Versions are 1-based (write_version numbering); version k holds
#: docs with doc_id % 10 <= 4 + k, so each snapshot is a strictly
#: wider slice and version _N_VERSIONS is the full table — growth a
#: real corpus shows, and a predicate both engines replay exactly.
_N_VERSIONS = 5
_KEEP_LAST = 2


def _vacuum_fixture(spark: SparkSession, sf_dir: str) -> str:
    """Cached versioned dataset + its vacuum: {n} committed
    snapshots, the oldest {n}-{k} removed by ``vacuum(keep_last={k})``.
    The build asserts the removed/kept version lists AND each kept
    snapshot's row count against its predicate, so retention drift
    (a mis-claimed version number, an over-eager delete) kills the
    fixture loudly instead of hash-failing downstream."""
    import json
    import os

    from week4_musemotion_spark.operators.versioned import (
        list_versions,
        read_version,
        vacuum,
        write_version,
    )
    from week4_musemotion_spark.queries.pipeline_ops import cached_fixture

    def _build(tmp: str) -> None:
        base = os.path.join(tmp, "versions")
        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", "lang", "n_chars"
        )
        expected = {}
        for k in range(1, _N_VERSIONS + 1):
            snap = docs.filter(F.col("doc_id") % 10 <= 4 + k)
            expected[k] = snap.count()
            got = write_version(snap, base)
            if got != k:
                raise AssertionError(f"vacuum fixture drift: wrote v{got}, wanted v{k}")
        removed = vacuum(base, keep_last=_KEEP_LAST)
        doomed = list(range(1, _N_VERSIONS - _KEEP_LAST + 1))
        if removed != doomed:
            raise AssertionError(f"vacuum fixture drift: removed {removed}, wanted {doomed}")
        kept = list_versions(base)
        if kept != list(range(_N_VERSIONS - _KEEP_LAST + 1, _N_VERSIONS + 1)):
            raise AssertionError(f"vacuum fixture drift: kept {kept}")
        for k in kept:
            n = read_version(spark, base, k).count()
            if n != expected[k]:
                raise AssertionError(
                    f"vacuum fixture drift: v{k} rereads {n} rows, wrote {expected[k]}"
                )
        with open(os.path.join(tmp, "retention.json"), "w") as fh:
            json.dump(
                {"versions_before": _N_VERSIONS, "removed": len(doomed), "kept": kept},
                fh,
            )
        open(os.path.join(tmp, "_SUCCESS"), "w").close()

    return cached_fixture(
        "musemotion_vacuum",
        sf_dir,
        f"vacuum:{_N_VERSIONS}:{_KEEP_LAST}".encode(),
        _build,
        table="documents",
    )


if _vacuum_fixture.__doc__:  # None under python -OO
    _vacuum_fixture.__doc__ = _vacuum_fixture.__doc__.format(
        n=_N_VERSIONS, k=_KEEP_LAST
    )


_VACUUM_ORACLE = f"""
    SELECT CAST(v.version AS BIGINT) AS version, d.lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS chars_sum,
           CAST({_N_VERSIONS} AS BIGINT) AS versions_before,
           CAST({_N_VERSIONS - _KEEP_LAST} AS BIGINT) AS versions_removed,
           CAST({_KEEP_LAST} AS BIGINT) AS versions_kept
    FROM documents d
    CROSS JOIN (SELECT unnest(range({_N_VERSIONS - _KEEP_LAST + 1}, {_N_VERSIONS + 1})) AS version) v
    WHERE d.doc_id % 10 <= 4 + v.version
    GROUP BY v.version, d.lang
"""


@query("q_vacuum_retention", covers=("X-VACUUM-RETENTION",), oracle=_VACUUM_ORACLE)
def q_vacuum_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VACUUM-style snapshot retention under the value oracle: after
    5 committed snapshots and a ``vacuum(keep_last=2)``, both
    surviving versions are read back THROUGH the time-travel path
    and aggregated per lang, with the retention counts riding every
    row.  The oracle re-derives each kept snapshot from the raw
    table by its writing predicate, so a hash match certifies zero
    loss/duplication across write → vacuum → version-addressed read,
    and the fixture asserts the removed list is exactly the doomed
    prefix (never the latest — ``vacuum`` pins it regardless of
    keep_last).

    100 TB story: vacuum is pure manifest-and-rmtree metadata work —
    cost scales with file count of the doomed versions, zero data
    read or shuffled; the certificate query reads only the kept
    snapshots.  Retention is what makes the versioned-write pattern
    (atomic rename commits, ``operators/versioned.py``) viable
    long-term: without it a daily-written 100 TB table holds every
    version forever.

    Reference analogue: the reference's only "retention" is
    drop-and-recreate (load_local_to_db.py:122-150) — one mutable
    copy, no history, nothing to reclaim."""
    import json
    import os

    from week4_musemotion_spark.operators.versioned import read_version

    fixture = _vacuum_fixture(spark, sf_dir)
    with open(os.path.join(fixture, "retention.json")) as fh:
        ret = json.load(fh)
    base = os.path.join(fixture, "versions")
    from week4_musemotion_spark.functions.exact import dec

    parts = [
        read_version(spark, base, k)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            # widen INSIDE the aggregation: a raw long sum wraps
            # silently past 2^63 while the oracle's DuckDB sum
            # promotes to HUGEINT (then errors loudly on the BIGINT
            # cast) — decimal keeps the two engines failure-parallel
            F.sum(dec(F.col("n_chars"))).cast("long").alias("chars_sum"),
        )
        .select(F.lit(k).cast("long").alias("version"), "lang", "n_docs", "chars_sum")
        for k in ret["kept"]
    ]
    return (
        reduce(DataFrame.unionByName, parts)
        .withColumn("versions_before", F.lit(ret["versions_before"]).cast("long"))
        .withColumn("versions_removed", F.lit(ret["removed"]).cast("long"))
        .withColumn("versions_kept", F.lit(len(ret["kept"])).cast("long"))
    )
