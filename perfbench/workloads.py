"""The benchmark's workloads: which package entry points each one calls,
and how the first execution of each is checked.

Every op is resolved from the package itself (``registry.QUERIES`` and
``cli.main``), so the timed plan is the plan the oracle checks. Expected
answers come from outside Spark: the registry's DuckDB oracle SQL over the
same parquet files, or ``np.histogram`` over the generated tile arrays.
"""

from __future__ import annotations

import glob
import os
import sys
from dataclasses import dataclass
from typing import Callable

import numpy as np

import gen

OPS = {
    "histogram": (
        "raster_program",
        "minmax",
        "histogram_linear",
        "histogram_log",
        "histogram_deciles",
    ),
    "streaming_ingest": ("streaming_drift",),
}

# Untimed passes after the checked first execution: the first passes after
# it still run while the JIT compiles (measured up to a third slower than the
# passes that follow). Without one, a 15 s streaming run that fits two
# passes reports the mean of a cold and a warm pass, and one that fits
# three the warm middle one (26% spread between seeded runs).
SETTLE_PASSES = {"histogram": 1, "streaming_ingest": 1}


def _check_oracle_module():
    root = os.path.dirname(os.path.dirname(os.path.abspath(gen.__file__)))
    sys.path.insert(0, os.path.join(root, "tools"))
    import check_oracle

    return check_oracle


@dataclass
class Op:
    """One timed unit of work.

    ``build`` returns the op's DataFrame (a registry query; its action is a
    noop-sink write); ``call`` runs a whole program that performs its own
    actions. ``first`` runs the op once and returns what ``check``
    compares against ``expected``."""

    name: str
    expected: object
    check: Callable[[object, object], list]
    build: Callable | None = None
    call: Callable | None = None
    read_output: Callable | None = None
    reads_tiles: bool = False

    def first(self, spark):
        if self.build is not None:
            from compute_histogram_spark.session import release_persists

            df = self.build(spark)
            out = df.toPandas()
            release_persists(df)
            return out
        self.call(spark)
        return self.read_output()


def _query_op(name: str, table_dir: str, con, compare) -> Op:
    from compute_histogram_spark import registry

    fn = registry.QUERIES[name]
    return Op(
        name=name,
        expected=con.sql(registry.ORACLES[name]).df(),
        check=lambda got, want, _n=name: compare(_n, got, want),
        build=lambda spark, _fn=fn: _fn(spark, table_dir),
    )


def _expected_histogram_csv(inputs: gen.Inputs, bins: int) -> list[str]:
    """The reference's ``histogram.csv`` lines from the generated arrays:
    valid pixels are not NaN and not the declared nodata value; the range
    is their min/max; counts are ``np.histogram``'s."""
    valid = []
    for a in gen.raster_arrays(inputs.seed, inputs.tiles, inputs.tile_px):
        px = a.ravel()
        px = px[~np.isnan(px.astype(np.float64))]
        valid.append(px[px != gen.NODATA])
    px = np.concatenate(valid)
    lo, hi = float(px.min()), float(px.max())
    counts, _ = np.histogram(px.astype(np.float64), bins=bins, range=(lo, hi))
    width = (hi - lo) / bins
    return ["%1.2f, %d" % (lo + b * width, c) for b, c in enumerate(counts)]


def _raster_program_op(inputs: gen.Inputs, run_dir: str) -> Op:
    """The paper's program end to end through the package CLI: min/max
    pass, 256-bin histogram pass, ``histogram.csv`` sink."""
    import contextlib
    import io

    from compute_histogram_spark import cli

    bins = 256
    out_dir = os.path.join(run_dir, "histogram_csv")
    argv = [inputs.tile_dir, "--raster", "--bins", str(bins), "--output", out_dir]

    def call(spark):
        with contextlib.redirect_stdout(io.StringIO()):
            rc = cli.main(argv, spark=spark)
        if rc != 0:
            raise RuntimeError(f"cli exited {rc}")

    def read_output():
        lines = []
        for path in sorted(glob.glob(os.path.join(out_dir, "part-*"))):
            with open(path) as f:
                lines += f.read().splitlines()
        return lines

    def check(got, want):
        if len(got) != len(want):
            return [f"{len(got)} csv lines, expected {len(want)}"]
        bad = [i for i, (g, w) in enumerate(zip(got, want)) if g != w]
        if bad:
            i = bad[0]
            return [f"{len(bad)} csv lines differ, first {i}: {got[i]!r} != {want[i]!r}"]
        return []

    return Op(
        name="raster_program",
        expected=_expected_histogram_csv(inputs, bins),
        check=check,
        call=call,
        read_output=read_output,
        reads_tiles=True,
    )


def build_ops(workload: str, inputs: gen.Inputs, run_dir: str) -> list[Op]:
    """The workload's ops with their expected answers (computed here,
    before any Spark session exists)."""
    co = _check_oracle_module()
    con = co.duck_connection(inputs.table_dir)
    ops = []
    for name in OPS[workload]:
        if name == "raster_program":
            ops.append(_raster_program_op(inputs, run_dir))
        else:
            ops.append(_query_op(name, inputs.table_dir, con, co.compare))
    con.close()
    return ops


class _TmpRootPath:
    def __init__(self, tmp: str):
        self._tmp = tmp

    def join(self, a, *rest):
        return os.path.join(self._tmp if a == "/tmp" else a, *rest)

    def __getattr__(self, name):
        return getattr(os.path, name)


class _TmpRootOs:
    """``os`` as seen by a module, with ``os.path.join("/tmp", ...)``
    rooted at another directory instead."""

    def __init__(self, tmp: str):
        self.path = _TmpRootPath(tmp)

    def __getattr__(self, name):
        return getattr(os, name)


def keep_staging_in(tmp: str) -> None:
    """The drained streaming ops stage their micro-batch files under a
    fixed ``/tmp`` root; point that root at the run's own directory so a
    run reads and writes only inside its checkout."""
    from compute_histogram_spark.streaming import stream_ops

    stream_ops.os = _TmpRootOs(tmp)
