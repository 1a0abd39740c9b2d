"""Driver-contract invariants: the external driver checks EXACTLY 50
registered queries, each oracle-backed, plus a working entry(), and each
declared entry must match its DuckDB oracle with ANSI on. A
rotation or refactor that breaks any of these fails here before it
costs a round (see VERDICT r04: two silently-unregistered entries)."""

import os
import sys

import pytest

import __spark_entry__ as entrymod

import bench
from compute_histogram_spark import registry
from compute_histogram_spark.session import release_persists

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
from catalog_pins import check  # noqa: E402
from check_oracle import duck_connection  # noqa: E402

# Returns one row at sf0.001 and five at sf0.01, so it runs at sf0.01.
# (dedup_triangles is a one-row count at any scale: 5 triangles at
# sf0.001, 1 at sf0.01, so it stays at the session scale.)
_SF01 = {"local_supplier_revenue"}


def _scale_dir(sf_dir, name):
    return os.path.join(os.path.dirname(sf_dir), "sf0.01") if name in _SF01 else sf_dir


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


@pytest.fixture(scope="module")
def ansi_spark(spark):
    """Spark 4's default session, which the entry point is called with,
    runs with ANSI on; the shared test session keeps it off
    (tests/test_session.py), so restore it afterwards."""
    old = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    yield spark
    spark.conf.set("spark.sql.ansi.enabled", old)


@pytest.fixture(scope="module")
def cons(sf_dir):
    dirs = {_scale_dir(sf_dir, name) for name in registry.DECLARED}
    return {sf: duck_connection(sf) for sf in dirs}


@pytest.mark.parametrize("name", registry.DECLARED)
def test_declared_entry_matches_its_oracle(ansi_spark, sf_dir, cons, name):
    """The declared-query correctness gate, one entry at a time: the
    Spark result under ANSI equals its DuckDB oracle, value for value."""
    sf = _scale_dir(sf_dir, name)
    build, oracle = registry.CATALOG[name]
    df = build(ansi_spark, sf)
    check(name, df, cons[sf], oracle)
    release_persists(df)
