"""DuckDB answers for the registry queries the workloads run.

Answers are computed once per checkout over the generated tables and
kept with the build; every run compares each query's Spark result
against them with the same rule as ``tools/check_correctness.py`` (row
count, column names, order-insensitive values), imported from it.
"""

from __future__ import annotations

import duckdb

from tools.check_correctness import _rows

#: Registry queries without a SQL oracle (``oracle=None``): the answer is
#: their documented shape, checked on columns and row count only.
ROWS_ONLY = {
    # top-3 ADC neighbours for each of the 5 query vectors (vec_id < 5)
    "q_pq_adc_knn": (["query_id", "neighbor_id", "rank"], 15),
}

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def answers(sf_dir: str, oracles: dict[str, str]) -> dict[str, tuple[list[str], list[tuple]]]:
    """``{query: (columns, rows)}`` from DuckDB over the tables in
    ``sf_dir``; rows-only queries get ``(columns, [None] * rows)``."""
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        out = {}
        for name, sql in oracles.items():
            if name in ROWS_ONLY:
                cols, n = ROWS_ONLY[name]
                out[name] = (cols, [None] * n)
                continue
            res = con.execute(sql)
            out[name] = ([d[0] for d in res.description], res.fetchall())
        return out
    finally:
        con.close()


def mismatch(name: str, scols: list[str], srows: list[tuple], answer: tuple[list[str], list[tuple]]) -> str | None:
    """None when query ``name``'s Spark result equals ``answer``, else the
    first problem (row count and columns only for :data:`ROWS_ONLY`)."""
    ocols, orows = answer
    if len(srows) != len(orows):
        return f"rowcount spark={len(srows)} duckdb={len(orows)}"
    if sorted(scols) != sorted(ocols):
        return f"cols spark={sorted(scols)} duckdb={sorted(ocols)}"
    if name in ROWS_ONLY:
        return None
    a, b = _rows(srows, scols), _rows(orows, ocols)
    diff = [i for i, (x, y) in enumerate(zip(a, b)) if x != y]
    if diff:
        i = diff[0]
        return f"{len(diff)} value mismatches; first@{i}: spark={a[i]} duckdb={b[i]}"
    return None
