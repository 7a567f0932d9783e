"""Spark-vs-DuckDB differentials at sf0.001 and semantic invariants
for the data-governance queries (``queries/governance.py``)."""

from __future__ import annotations

import glob
import os

from tests.conftest import SF_SMOKE, oracle_diff


def test_quasi_identifier_risk_matches_oracle(spark):
    got = oracle_diff(spark, "q_quasi_identifier_risk")
    assert len(got) == 20
    assert (got.risky_groups <= got.n_groups).all()
    assert (got.risky_docs >= got.risky_groups).all() | (got.risky_groups == 0).all()
    assert (got.risky_ppm <= 1_000_000).all()
    # a risky group has at most k-1 docs
    assert (got.risky_docs <= got.risky_groups * 4).all()
    # min_group == 1 somewhere is expected on a 500-doc corpus with
    # a 3-dim QI; the audit exists to surface exactly that
    assert (got.min_group >= 1).all()


def test_benford_audit_matches_oracle(spark):
    got = oracle_diff(spark, "q_benford_audit")
    assert set(got.first_digit) <= set(range(1, 10))
    assert abs(got.observed_ppm.sum() - 1_000_000) < 10  # trunc slack
    assert (got.abs_dev_ppm == (got.observed_ppm - got.benford_ppm).abs()).all()
    # the benford constants are the Python-side log table
    import math

    for _, row in got.iterrows():
        assert row.benford_ppm == round(math.log10(1 + 1 / row.first_digit) * 1e6)


def test_fd_violations_matches_oracle_and_semantics(spark):
    got = oracle_diff(spark, "q_fd_violations")
    assert len(got) == 3
    assert (got.n_violations <= got.n_rows).all()
    assert got.violation_ppm.between(0, 1_000_000).all()
    # a determinant with a single value per group would read 0; this
    # corpus' lang/source are near-independent, so rates must be high
    ind = got[got.fd == "lang->source"].iloc[0]
    assert ind.violation_ppm > 500_000  # far from a functional dependency


def test_fd_violations_detects_a_planted_exact_fd(spark):
    # plant an exact FD (lang -> source) and assert 0 violations
    import pandas as pd
    from pyspark.sql import functions as F

    from week4_musemotion_spark.functions.exact import dec, int_div_trunc

    rows = [(i, f"l{i%3}", f"s{i%3}") for i in range(30)]  # lang determines source
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "lang", "source"]))
    c = df.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("cnt"))
    per = c.groupBy("lang").agg(F.sum("cnt").alias("tot"), F.max("cnt").alias("mx"))
    viol = per.agg(F.sum(F.col("tot") - F.col("mx")).alias("v")).collect()[0].v
    assert viol == 0


def test_schema_evolution_read_matches_oracle(spark):
    got = oracle_diff(spark, "q_schema_evolution_read")
    # the dropped-lang generation groups under NULL
    assert got.lang.isna().any()
    assert (got.generations == 2).all()
    # gen0 (every third doc) has no source column value
    assert (got.with_source <= got.n_docs).all()
    assert got.with_source.sum() < got.n_docs.sum()


def test_evolution_fixture_files_span_physical_types(spark):
    """The dataset really holds MIXED physical schemas (int32 and
    int64 n_chars files) — the read is an up-cast, not a rewrite."""
    import pyarrow.parquet as pq

    from week4_musemotion_spark.queries.governance import _evolution_fixture

    ds = os.path.join(_evolution_fixture(spark, SF_SMOKE), "dataset")
    types = set()
    for f in glob.glob(os.path.join(ds, "*.parquet")):
        s = pq.ParquetFile(f).schema_arrow
        if "n_chars" in s.names:
            types.add(str(s.field("n_chars").type))
    assert types == {"int32", "int64"}


def test_quarantine_split_matches_oracle_and_loses_nothing(spark):
    import duckdb

    from tests.conftest import SF_SMOKE

    got = oracle_diff(spark, "q_quarantine_split")
    con = duckdb.connect()
    total = con.execute(
        f"SELECT count(*) FROM '{SF_SMOKE}/documents.parquet'"
    ).fetchone()[0]
    # zero loss: every line is in exactly one lane
    assert got.n_clean.sum() + got.n_bad.iloc[0] == total
    assert got.n_bad.iloc[0] > 0  # the fixture really planted breakage


def test_csv_quarantine_split_matches_oracle_and_loses_nothing(spark):
    import duckdb

    from tests.conftest import SF_SMOKE

    got = oracle_diff(spark, "q_csv_quarantine_split")
    total = duckdb.sql(
        f"SELECT count(*) FROM '{SF_SMOKE}/documents.parquet'"
    ).fetchone()[0]
    n_bad = int(got.n_bad.iloc[0])
    assert n_bad > 0  # the plant really landed
    assert int(got.n_clean.sum()) + n_bad == total  # zero loss


def test_vacuum_retention_matches_oracle_and_certifies(spark):
    import duckdb

    from tests.conftest import SF_SMOKE

    got = oracle_diff(spark, "q_vacuum_retention")
    # both kept snapshots present, retention constants pinned
    assert sorted(got.version.unique()) == [4, 5]
    assert (got.versions_before == 5).all()
    assert (got.versions_removed == 3).all()
    assert (got.versions_kept == 2).all()
    # the newest snapshot is the FULL table (predicate covers all ids)
    total = duckdb.sql(
        f"SELECT count(*) FROM '{SF_SMOKE}/documents.parquet'"
    ).fetchone()[0]
    assert got[got.version == 5].n_docs.sum() == total
    # snapshots are strictly widening slices
    assert got[got.version == 4].n_docs.sum() < total


def test_vacuum_never_removes_latest(spark, tmp_path):
    from week4_musemotion_spark.operators.versioned import (
        list_versions,
        vacuum,
        write_version,
    )

    base = str(tmp_path / "v")
    df = spark.range(5).withColumnRenamed("id", "x")
    write_version(df, base)
    # keep_last=0 still pins the latest version
    assert vacuum(base, keep_last=0) == []
    assert list_versions(base) == [1]
