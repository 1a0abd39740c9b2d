"""Driver-contract invariants: the external driver checks EXACTLY 50
registered queries, each oracle-backed, plus a working entry(). A
rotation or refactor that breaks any of these fails here before it
costs a round (see VERDICT r04: two silently-unregistered entries)."""

import pytest

import __spark_entry__ as entrymod

import bench
from compute_histogram_spark import registry


def test_registry_is_exactly_50_oracle_backed():
    qs = entrymod.queries()
    os_ = entrymod.oracle_sql()
    assert len(qs) == 50, f"driver window must hold exactly 50, got {len(qs)}"
    assert set(os_) == set(qs), (
        "rows-only entries present: " + str(sorted(set(qs) - set(os_)))
    )
    assert all(callable(f) for f in qs.values())
    assert all(isinstance(s, str) and s.strip() for s in os_.values())


def test_registry_module_matches_entry_module():
    assert entrymod.queries().keys() == registry.QUERIES.keys()
    assert entrymod.oracle_sql().keys() == registry.ORACLES.keys()


def test_window_is_the_declared_slice_of_the_catalog():
    assert len(registry.DECLARED) == len(set(registry.DECLARED)) == 50
    assert registry.QUERIES == {
        n: registry.CATALOG[n].build for n in registry.DECLARED
    }
    assert registry.ORACLES == {
        n: registry.CATALOG[n].oracle for n in registry.DECLARED
    }


def test_bench_names_resolve_to_oracle_backed_entries():
    for name in [*bench.HEADLINE, *bench.TPCH.values()]:
        oracle = registry.CATALOG[name].oracle
        assert isinstance(oracle, str) and oracle.strip(), name


def test_register_refuses_a_name_registered_twice():
    name = registry.DECLARED[0]
    entry = registry.CATALOG[name]
    with pytest.raises(ValueError, match=name):
        registry.register(name, "SELECT 1")(lambda spark, sf_dir: None)
    assert registry.CATALOG[name] is entry


def test_entry_runs_flagship(spark):
    df = entrymod.entry(spark)
    # stable, non-degenerate output with a stable schema
    assert len(df.columns) >= 2
    assert df.count() > 0
