from __future__ import annotations

import sys
from pathlib import Path

import pytest

REPO_ROOT = Path(__file__).resolve().parent.parent
if str(REPO_ROOT) not in sys.path:
    sys.path.insert(0, str(REPO_ROOT))

SF_SMOKE = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from week4_musemotion_spark.session import get_spark

    spark = get_spark("pytest", master="local[4]")
    yield spark
    spark.stop()


#: Every testdata table; DuckDB views are lazy, so an oracle reads only
#: the tables its SQL names.
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


@pytest.fixture(scope="session")
def musemotion_csv(tmp_path_factory) -> str:
    """Headerless MuseMotion CSV in the reference's layout (11 named +
    4 junk fields): 1,500 seeded dirty records from
    ``perfbench.datagen``, so the ETL and dashboard tests need no
    reference data."""
    from perfbench.datagen import musemotion_rows, write_csv

    path = str(tmp_path_factory.mktemp("musemotion") / "musemotion.csv")
    write_csv(path, musemotion_rows(seed=7, n=1500))
    return path


def duckdb_oracle(sql: str) -> "pandas.DataFrame":  # noqa: F821
    """DuckDB answer for ``sql`` over views of the smoke-SF parquet
    tables, one connection per call."""
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_SMOKE}/{t}.parquet'")
    return con.execute(sql).fetchdf()


def oracle_diff(spark, name: str):
    """Spark-vs-DuckDB differential for a registry query at the smoke
    SF: same column set, same row count, order-insensitive value
    equality.  Returns the Spark result for extra asserts."""
    import pandas as pd

    from week4_musemotion_spark.queries import REGISTRY

    spec = REGISTRY[name]
    got = spec.builder(spark, SF_SMOKE).toPandas()
    want = duckdb_oracle(spec.oracle)
    assert sorted(got.columns) == sorted(want.columns), (got.columns, want.columns)
    cols = sorted(got.columns)
    g = got[cols].sort_values(cols).reset_index(drop=True)
    w = want[cols].sort_values(cols).reset_index(drop=True)
    assert len(g) == len(w), (name, len(g), len(w))
    pd.testing.assert_frame_equal(g, w, check_dtype=False)
    return got
