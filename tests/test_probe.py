"""operators/probe.py — exact-integer batch perceptron: sequential
pure-Python replay (the determinism contract), partition invariance,
scoring consistency, and the fail-loudly input guard."""

from __future__ import annotations

import math

import duckdb
import pytest

from tests.conftest import SF_SMOKE

_POS = 0
_ITERS = 3


def _reference(rows, iters=_ITERS):
    """Sequential big-int replay of the batch perceptron."""
    data = [
        (1 if label == _POS else -1, [math.floor(x * 1_000_000 + 0.5) for x in vec])
        for label, vec in rows
    ]
    d = len(data[0][1])
    w = [0] * d
    out = []
    for t in range(1, iters + 1):
        n_err = 0
        delta = [0] * d
        for y, q in data:
            if y * sum(wi * qi for wi, qi in zip(w, q)) <= 0:
                n_err += 1
                for i, qi in enumerate(q):
                    delta[i] += y * qi
        w = [wi + di for wi, di in zip(w, delta)]
        out.append({"iter": t, "n_err": n_err, "w": list(w)})
        if n_err == 0:
            break
    return out


def _emb_rows():
    return duckdb.sql(
        f"SELECT label, embedding FROM '{SF_SMOKE}/embeddings.parquet' ORDER BY vec_id"
    ).fetchall()


def test_perceptron_matches_sequential_reference(spark):
    from week4_musemotion_spark.operators.probe import perceptron_fit
    from week4_musemotion_spark.sources.tables import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    got = perceptron_fit(emb, positive_label=_POS, iters=_ITERS)
    want = _reference(_emb_rows())
    assert got == want
    # the zero-weight seed round updates on every row by convention
    assert got[0]["n_err"] == 500


def test_perceptron_partition_invariant(spark):
    from week4_musemotion_spark.operators.probe import perceptron_fit
    from week4_musemotion_spark.sources.tables import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    a = perceptron_fit(emb, positive_label=_POS, iters=2)
    b = perceptron_fit(emb.repartition(7), positive_label=_POS, iters=2)
    assert a == b


def test_score_probe_consistent_with_training_errors(spark):
    from week4_musemotion_spark.operators.probe import perceptron_fit, score_probe
    from week4_musemotion_spark.sources.tables import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    fit = perceptron_fit(emb, positive_label=_POS, iters=_ITERS)
    w = fit[-1]["w"]
    scored = score_probe(emb, w).select("label", "margin", "pred").collect()
    # errors under the FINAL weights == the n_err the next iteration
    # would report (margin == 0 counts as an error, training convention)
    n_err = sum(
        1
        for r in scored
        if (1 if r.label == _POS else -1) * int(r.margin) <= 0
    )
    ref = _reference(_emb_rows(), iters=_ITERS + 1)
    if len(ref) > _ITERS:  # did not converge within _ITERS
        assert n_err == ref[_ITERS]["n_err"]
    # pred matches the sign convention
    for r in scored:
        assert r.pred == (1 if int(r.margin) > 0 else -1)


def _perceptron_sql(iters: int = _ITERS, pos=_POS, d: int = 64) -> str:
    """Unrolled per-iteration DuckDB oracle for the batch perceptron
    (the coreset-oracle pattern: every chained CTE MATERIALIZED so
    the prefix is not re-evaluated per reference).  Returns one row
    per iteration: (iter, n_err, w) with w a pos-ordered list —
    ready to lift into a registry query."""
    parts = [
        f"WITH q AS MATERIALIZED (SELECT vec_id,"
        f" CASE WHEN label = {pos} THEN 1 ELSE -1 END AS y,"
        " list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)"
        " * 1000000 + 0.5) AS BIGINT)) AS qv FROM embeddings)",
        f"idx AS (SELECT unnest(range(1, {d + 1})) AS pos)",
    ]
    prev = None
    for t in range(1, iters + 1):
        if prev is None:
            parts.append(f"m{t} AS MATERIALIZED (SELECT y, qv FROM q)")
        else:
            parts.append(
                f"s{t} AS MATERIALIZED (SELECT q.vec_id,"
                f" sum(CAST({prev}.w AS HUGEINT) * q.qv[{prev}.pos]) AS score"
                f" FROM q CROSS JOIN {prev} GROUP BY q.vec_id)"
            )
            parts.append(
                f"m{t} AS MATERIALIZED (SELECT q.y, q.qv FROM q"
                f" JOIN s{t} USING (vec_id) WHERE q.y * s{t}.score <= 0)"
            )
        delta = (
            f"(SELECT i.pos, sum(m.y * m.qv[i.pos]) AS delta"
            f" FROM m{t} m CROSS JOIN idx i GROUP BY i.pos)"
        )
        carry = f"COALESCE({prev}.w, 0) + " if prev else ""
        join_prev = f" LEFT JOIN {prev} ON {prev}.pos = i.pos" if prev else ""
        parts.append(
            f"w{t} AS MATERIALIZED (SELECT i.pos,"
            f" {carry}COALESCE(d.delta, 0) AS w FROM idx i{join_prev}"
            f" LEFT JOIN {delta} d ON d.pos = i.pos)"
        )
        prev = f"w{t}"
    finals = [
        f"SELECT {t} AS iter, (SELECT count(*) FROM m{t}) AS n_err,"
        f" (SELECT list(w ORDER BY pos) FROM w{t}) AS w"
        for t in range(1, iters + 1)
    ]
    return ",\n".join(parts) + "\n" + " UNION ALL ".join(finals) + " ORDER BY iter"


def test_perceptron_matches_unrolled_duckdb_oracle(spark):
    """Fourth-engine check (Spark == pure-Python == DuckDB): the
    unrolled per-iteration SQL re-derives the full trajectory."""
    from week4_musemotion_spark.operators.probe import perceptron_fit
    from week4_musemotion_spark.sources.tables import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    got = perceptron_fit(emb, positive_label=_POS, iters=_ITERS)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{SF_SMOKE}/embeddings.parquet'"
    )
    want = con.execute(_perceptron_sql()).fetchall()
    for g, (it, n_err, w) in zip(got, want):
        assert g["iter"] == it
        assert g["n_err"] == n_err
        assert g["w"] == [int(x) for x in w]


def test_perceptron_rejects_null_embeddings(spark):
    from pyspark.sql import functions as F

    from week4_musemotion_spark.operators.probe import perceptron_fit
    from week4_musemotion_spark.sources.tables import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings").withColumn(
        "embedding",
        F.when(F.col("vec_id") == 3, F.lit(None)).otherwise(F.col("embedding")),
    )
    with pytest.raises(ValueError, match="null or ragged"):
        perceptron_fit(emb, positive_label=_POS, iters=1)


def test_perceptron_rejects_null_components_and_empty_vectors(spark):
    from pyspark.sql import functions as F

    from week4_musemotion_spark.operators.probe import perceptron_fit
    from week4_musemotion_spark.sources.tables import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    # one NaN component: the row would otherwise be silently dropped
    # from every update sum (null dot → null misclassification test)
    poisoned = emb.withColumn(
        "embedding",
        F.when(
            F.col("vec_id") == 3,
            F.expr("transform(embedding, (x, i) -> IF(i = 0, float('nan'), x))"),
        ).otherwise(F.col("embedding")),
    )
    with pytest.raises(ValueError, match="null/NaN"):
        perceptron_fit(poisoned, positive_label=_POS, iters=1)
    # all-empty vectors: posexplode would emit no update rows and
    # fake convergence at n_err=0
    empty = emb.withColumn("embedding", F.expr("array()").cast("array<float>"))
    with pytest.raises(ValueError, match="min dim"):
        perceptron_fit(empty, positive_label=_POS, iters=1)
    # an Inf component saturates to Long.MaxValue under ansi-off
    # quantization (and DuckDB would error outright)
    inf = emb.withColumn(
        "embedding",
        F.when(
            F.col("vec_id") == 3,
            F.expr("transform(embedding, (x, i) -> IF(i = 0, float('inf'), x))"),
        ).otherwise(F.col("embedding")),
    )
    with pytest.raises(ValueError, match="null/NaN"):
        perceptron_fit(inf, positive_label=_POS, iters=1)


def test_score_probe_fails_loudly_on_dimension_mismatch(spark):
    from week4_musemotion_spark.operators.probe import score_probe
    from week4_musemotion_spark.sources.tables import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    bad = score_probe(emb, [1, 2, 3])  # w shorter than dim 64
    with pytest.raises(Exception, match="score_probe"):
        bad.collect()
    # and the internal qv column does not leak into the output
    ok = score_probe(emb, [0] * 64)
    assert "qv" not in ok.columns
