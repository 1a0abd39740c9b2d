"""Value-exact checks of registry.CATALOG entries against their oracles,
shared by tests/test_rotated_out.py and tests/test_staged_twins.py."""

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
from check_oracle import compare  # noqa: E402

from compute_histogram_spark.registry import CATALOG  # noqa: E402


def check(name, sdf, con, sql):
    pdf = sdf.toPandas()
    odf = con.sql(sql).df()
    assert len(pdf) > 0
    assert compare(name, pdf, odf) == []


def add_pins(namespace: dict, names, suffix: str, ids=None) -> None:
    """Add ``test_<id><suffix>`` to ``namespace`` for each entry name in
    ``names`` (the id is the name unless ``ids`` maps it): the test builds
    the entry at the session ``sf_dir`` and compares it with the entry's
    oracle over the module's ``con`` fixture."""
    for name in names:
        def test(spark, sf_dir, con, name=name):
            build, oracle = CATALOG[name]
            check(name, build(spark, sf_dir), con, oracle)

        test.__name__ = f"test_{(ids or {}).get(name, name)}{suffix}"
        namespace[test.__name__] = test
