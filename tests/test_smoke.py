"""Driver-contract smoke tests (SURVEY.md §5 item 4)."""

from __future__ import annotations

from tests.conftest import SF_SMOKE


def test_entry_returns_rows(spark):
    import __spark_entry__ as mod

    df = mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert df.columns == ["l_orderkey", "l_linenumber", "p_brand", "cnt", "l_quantity"]


def test_registry_contract(spark):
    import __spark_entry__ as mod

    qs = mod.queries()
    oracles = mod.oracle_sql()
    assert qs, "registry must not be empty"
    # every oracle key corresponds to a query
    assert set(oracles) <= set(qs)
    for name, sql in oracles.items():
        assert sql.strip(), name


def test_every_query_module_registers_on_package_import():
    """Importing every module under ``queries/`` adds no name to
    REGISTRY: a query exists only if the package import registers it,
    so no unregistered query code can hide in the package."""
    import importlib
    import pkgutil

    from week4_musemotion_spark import queries

    before = set(queries.REGISTRY)
    for info in pkgutil.iter_modules(queries.__path__):
        importlib.import_module(f"{queries.__name__}.{info.name}")
    assert set(queries.REGISTRY) == before, sorted(set(queries.REGISTRY) - before)


def test_all_queries_run_at_smoke_sf(spark):
    import __spark_entry__ as mod

    for name, builder in mod.queries().items():
        df = builder(spark, SF_SMOKE)
        assert df.count() >= 0, name
