"""CLI facade (A12): minmax_only actually stops after pass 1 (unlike the
reference's dead flag, main.py:27-33), bounds pruning, csv output."""

import glob
import os

import pytest

from compute_histogram_spark.cli import main


def _events(sf_dir):
    return os.path.join(sf_dir, "events.parquet")


def test_minmax_only(spark, sf_dir, capsys):
    rc = main([_events(sf_dir), "--minmax_only"], spark=spark)
    assert rc == 0
    out = capsys.readouterr().out
    assert out.startswith("min=") and "max=" in out


def test_histogram_csv_output(spark, sf_dir, tmp_path):
    out_dir = str(tmp_path / "h")
    rc = main([_events(sf_dir), "-o", out_dir], spark=spark)
    assert rc == 0
    parts = glob.glob(os.path.join(out_dir, "part-*"))
    assert parts and open(parts[0]).readline().count(",") == 1


def test_bounds_prune_and_deciles(spark, sf_dir, capsys):
    rc = main(
        [_events(sf_dir), "--min_value", "0", "--max_value", "500",
         "--sparse", "--deciles"],
        spark=spark,
    )
    assert rc == 0
    out = capsys.readouterr().out
    assert "p100" in out or "p90" in out


def _tif_dir(tmp_path, n=5, h=24, w=24):
    import numpy as np

    from compute_histogram_spark.multimodal.geotiff import encode_geotiff

    rng = np.random.default_rng(11)
    d = tmp_path / "tiles"
    d.mkdir()
    vals = []
    for i in range(n):
        a = rng.normal(40.0, 8.0, size=(h, w)).astype(np.float32)
        a[rng.random(size=(h, w)) < 0.05] = np.nan
        (d / f"tile_{i}.tif").write_bytes(
            # mixed codecs AND container versions, incl. LZW + BigTIFF:
            # --raster must read an inventory of in-the-wild COGs
            # regardless of per-file compression or offset width
            encode_geotiff(
                a,
                compression=["deflate", "lzw"][i % 2],
                bigtiff=(i % 3 == 2),
            )
        )
        vals.append(a[~np.isnan(a)])
    return str(d), np.concatenate(vals).astype(np.float64)


def test_raster_minmax_only(spark, tmp_path, capsys):
    d, valid = _tif_dir(tmp_path)
    rc = main([d, "--raster", "--minmax_only"], spark=spark)
    assert rc == 0
    out = capsys.readouterr().out
    assert f"min={float(valid.min())}" in out
    assert f"max={float(valid.max())}" in out


def test_raster_histogram_stdout_matches_numpy(spark, tmp_path, capsys):
    import numpy as np

    d, valid = _tif_dir(tmp_path)
    rc = main([d, "--raster", "--bins", "16"], spark=spark)
    assert rc == 0
    lines = [
        ln for ln in capsys.readouterr().out.splitlines() if ", " in ln
    ]
    assert len(lines) == 16
    counts = [int(ln.split(", ")[1]) for ln in lines]
    expect, _ = np.histogram(
        valid, bins=16, range=(float(valid.min()), float(valid.max()))
    )
    assert counts == expect.tolist()
    # reference CSV byte format: "%1.2f, %d" (main.py:124)
    assert all(len(ln.split(", ")[0].rsplit(".", 1)[1]) == 2 for ln in lines)


def test_raster_csv_output_and_bounds_prune(spark, tmp_path):
    d, valid = _tif_dir(tmp_path)
    out_dir = str(tmp_path / "rh")
    rc = main(
        [d, "--raster", "--bins", "8", "--min_value", "20",
         "--max_value", "60", "-o", out_dir],
        spark=spark,
    )
    assert rc == 0
    parts = glob.glob(os.path.join(out_dir, "part-*"))
    assert parts
    rows = open(parts[0]).read().splitlines()
    assert len(rows) == 8 and rows[0].startswith("20.00, ")


def test_raster_deciles(spark, tmp_path, capsys):
    d, _ = _tif_dir(tmp_path)
    rc = main([d, "--raster", "--bins", "32", "--deciles"], spark=spark)
    assert rc == 0
    out = capsys.readouterr().out
    assert "p100" in out or "p90" in out


@pytest.mark.parametrize(
    "flag",
    [["--method", "log"], ["--ref-compat"], ["--sparse"], ["--column", "v"]],
    ids=["method-log", "ref-compat", "sparse", "column"],
)
def test_raster_rejects_parquet_only_flags(spark, tmp_path, flag, capsys):
    # --raster bins linearly and densely; a flag it cannot honour is an
    # argument error (exit 2), not a silently different histogram.
    d, _ = _tif_dir(tmp_path)
    with pytest.raises(SystemExit) as exc:
        main([d, "--raster", *flag], spark=spark)
    assert exc.value.code == 2
    assert "--raster does not take" in capsys.readouterr().err


@pytest.mark.parametrize(
    "flag",
    [["--bins", "8"], ["--band", "2"]],
    ids=["bins", "band"],
)
def test_parquet_rejects_raster_only_flags(spark, sf_dir, flag, capsys):
    # the parquet path picks its own bins and reads a column, not a band
    with pytest.raises(SystemExit) as exc:
        main([_events(sf_dir), *flag], spark=spark)
    assert exc.value.code == 2
    assert "need --raster" in capsys.readouterr().err


@pytest.mark.parametrize(
    "workers, master",
    [([], None), (["--workers", "3"], "local[3]")],
    ids=["default", "workers"],
)
def test_own_session_master(monkeypatch, tmp_path, workers, master):
    # Without --workers the CLI leaves the master to get_session, which
    # honours SPARK_GRAFT_CPUS.
    from compute_histogram_spark import session

    class Built(Exception):
        pass

    seen = []

    def fake_get_session(app_name, master=None, **kw):
        seen.append(master)
        raise Built

    monkeypatch.setattr(session, "get_session", fake_get_session)
    with pytest.raises(Built):
        main([str(tmp_path), *workers])
    assert seen == [master]
