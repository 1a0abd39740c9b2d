"""Seeded input generation for the benchmark workloads.

Every input is a pure function of (workload, scale, seed): the same seed
gives byte-identical files. Tables follow the TESTDATA.md schema the package
reads through ``sources.tables.load`` (``<dir>/<table>.parquet``); raster
tiles are float32 deflate GeoTIFFs written by the package's own
``multimodal.geotiff.encode_geotiff``.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from dataclasses import asdict, dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
NODATA = -9999.0
ROW_GROUP = 131_072


@dataclass(frozen=True)
class Scale:
    """Input sizes. ``events_sf`` follows TESTDATA.md's scale factors
    (1M events per sf)."""

    events_sf: float
    tiles: int
    tile_px: int


# histogram: events.value at sf1 plus 1024x1024 tiles (the paper's input);
# streaming_ingest: events at sf0.1.
SCALES = {
    ("histogram", "full"): Scale(events_sf=1.0, tiles=10, tile_px=1024),
    ("histogram", "tiny"): Scale(events_sf=0.02, tiles=3, tile_px=128),
    ("streaming_ingest", "full"): Scale(events_sf=0.1, tiles=0, tile_px=0),
    ("streaming_ingest", "tiny"): Scale(events_sf=0.01, tiles=0, tile_px=0),
}


@dataclass
class Inputs:
    """What a run works on, as recorded in its artifact."""

    table_dir: str
    tile_dir: str | None
    rows: dict
    bytes: int
    tiles: int
    tile_px: int
    seed: int

    def save(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(asdict(self), f)

    @classmethod
    def load(cls, path: str) -> "Inputs":
        with open(path) as f:
            return cls(**json.load(f))


def _pick(values, idx: np.ndarray) -> pa.Array:
    """Plain string column ``values[idx]``, built without Python strings."""
    return pa.DictionaryArray.from_arrays(
        pa.array(idx.astype(np.int32)), pa.array(values)
    ).cast(pa.string())


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, row_group_size=ROW_GROUP)


def events(rng: np.random.Generator, sf: float, specials: bool) -> pa.Table:
    """``events(event_id, ts, user_id, event_type, value, props)``.

    Values are non-negative with two decimals, like TESTDATA.md's tables.
    ``specials`` mixes NULL and NaN values in (the reference's NaN filter,
    main.py:241); the streaming workload keeps every value valid."""
    n = int(1_000_000 * sf)
    users = max(1, int(15_000 * sf))
    start = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 24 * 3600 * 1_000_000
    ts = start + np.sort(rng.integers(0, span_us, n)).astype("timedelta64[us]")
    value = np.round(rng.exponential(50.0, n), 2)
    mask = None
    if specials:
        value[rng.random(n) < 0.001] = np.nan
        mask = rng.random(n) < 0.001
    props = pa.array([f'{{"k": {k}}}' for k in range(100)])
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, users, n, dtype=np.int64)),
            "event_type": _pick(EVENT_TYPES, rng.integers(0, 5, n)),
            "value": pa.array(value, mask=mask),
            "props": _pick(props, rng.integers(0, 100, n)),
        }
    )


def tile(rng: np.random.Generator, px: int, all_nan: bool) -> np.ndarray:
    """One float32 band: a smooth ramp plus noise spanning negative and
    positive values, with NaN pixels and pixels at the declared nodata."""
    if all_nan:
        return np.full((px, px), np.nan, dtype=np.float32)
    y, x = np.mgrid[0:px, 0:px] / px
    base = rng.uniform(-50.0, 50.0) + 100.0 * x * y
    a = (base + rng.normal(0.0, 10.0, (px, px))).astype(np.float32)
    a[rng.random((px, px)) < 0.01] = np.nan
    a[rng.random((px, px)) < 0.01] = NODATA
    return a


def raster_arrays(seed: int, tiles: int, px: int) -> list[np.ndarray]:
    """The tile pixel arrays; the last tile is all NaN."""
    rng = np.random.default_rng([seed, 1])
    return [tile(rng, px, i == tiles - 1) for i in range(tiles)]


def ensure(workload: str, scale: str, seed: int, root: str) -> Inputs:
    """Generate the workload's inputs under ``root`` unless this exact
    (workload, scale, seed, generator) set is already there. Other sets
    are removed so the directory holds one set per workload."""
    from compute_histogram_spark.multimodal.geotiff import encode_geotiff

    s = SCALES[(workload, scale)]
    base = os.path.join(root, workload)
    with open(__file__, "rb") as f:  # a generator change invalidates old inputs
        version = hashlib.sha256(f.read()).hexdigest()[:8]
    out = os.path.join(base, f"{scale}-{seed}-{version}")
    manifest = os.path.join(out, "inputs.json")
    if os.path.exists(manifest):
        return Inputs.load(manifest)
    shutil.rmtree(base, ignore_errors=True)
    table_dir = os.path.join(out, "tables")
    os.makedirs(table_dir)
    rng = np.random.default_rng([seed, 0])
    rows = {}
    ev = events(rng, s.events_sf, specials=workload == "histogram")
    _write(ev, os.path.join(table_dir, "events.parquet"))
    rows["events"] = ev.num_rows
    tile_dir = None
    if s.tiles:
        tile_dir = os.path.join(out, "tiles")
        os.makedirs(tile_dir)
        for i, a in enumerate(raster_arrays(seed, s.tiles, s.tile_px)):
            with open(os.path.join(tile_dir, f"tile_{i:03d}.tif"), "wb") as f:
                f.write(encode_geotiff(a, nodata=NODATA, compression="deflate"))
    size = sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(out)
        for f in files
    )
    inputs = Inputs(table_dir, tile_dir, rows, size, s.tiles, s.tile_px, seed)
    inputs.save(manifest)
    return inputs
