"""CLI facade — Spark-first twin of the reference's click driver
(``cli``, main.py:17-57).

Differences from the reference, all deliberate:

- SOURCE is a parquet path (or a GeoJSON tile catalog via ``--catalog``,
  S1) instead of an S3 GeoJSON+rasters pair — the engine's data model is
  columnar tables (SURVEY §1.4).
- ``--minmax_only`` actually works: the reference declares the flag but
  ignores it (main.py:27-33 vs 42-57, SURVEY §4 quirk 5). Here it stops
  after pass 1 and prints the bounds.
- ``--min_value/--max_value`` prune pass 1 exactly like the reference
  (main.py:53-54): one Spark job instead of two.
- ``--ref-compat`` opts into the reference's numeric quirks (zero-seeded
  min/max, hardcoded log offset 100, int16 bin keys — SURVEY §4 1-3);
  default is the sane mode the oracles check.
- ``--raster`` runs the reference's ACTUAL input path: SOURCE is a
  directory of GeoTIFF tiles read through Spark's built-in ``binaryFile``
  source, decoded by the stdlib reader (multimodal/geotiff.py), band 1 by
  default (main.py:239), two passes exactly like main.py:53-57, CSV rows
  in the reference's ``%1.2f, %d`` format (main.py:124). Its bins are
  always linear and dense, so it rejects ``--method log``,
  ``--ref-compat`` and ``--sparse``; it reads a band, not a column, so it
  rejects ``--column``. ``--band`` and ``--bins`` need ``--raster``.
"""

from __future__ import annotations

import argparse
import sys

from pyspark.sql import SparkSession


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="compute-histogram-spark",
        description="Distributed histogram + deciles over a parquet column.",
    )
    p.add_argument("source", help="parquet file/dir with the value column")
    p.add_argument("--column", "-c", help="value column name (default: value)")
    p.add_argument(
        "--method", "-m", choices=("linear", "log"), default="linear"
    )
    p.add_argument("--min_value", type=float, default=None)
    p.add_argument("--max_value", type=float, default=None)
    p.add_argument(
        "--minmax_only",
        action="store_true",
        help="stop after the min/max pass and print bounds",
    )
    p.add_argument("--ref-compat", action="store_true")
    p.add_argument("--sparse", action="store_true", help="occupied bins only")
    p.add_argument("--deciles", action="store_true", help="also print deciles")
    p.add_argument("--output", "-o", default=None, help="histogram.csv dir")
    p.add_argument("--workers", "-w", type=int, default=None, help="local cores")
    p.add_argument(
        "--raster",
        action="store_true",
        help="SOURCE is a dir of GeoTIFF tiles (binaryFile scan + decode)",
    )
    p.add_argument("--band", type=int, help="raster band, 1-based (default: 1)")
    p.add_argument("--bins", type=int, help="raster histogram bins (default: 256)")
    return p


def _raster_main(args, spark: SparkSession) -> int:
    from pyspark.sql import functions as F

    from compute_histogram_spark.multimodal.geotiff import (
        raster_histogram,
        raster_minmax,
    )

    band = 1 if args.band is None else args.band
    bins = 256 if args.bins is None else args.bins
    tiles = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.tif*")
        .load(args.source)
        .select(
            F.xxhash64("path").alias("asset_id"),
            F.lit("raster").alias("kind"),
            "content",
        )
    )
    if args.minmax_only:
        row = raster_minmax(tiles, band=band).first()
        if row is None or not row["n_valid"]:
            print("no valid pixels", file=sys.stderr)
            return 1
        print(f"min={row['min_value']} max={row['max_value']}")
        return 0
    if args.min_value is not None and args.max_value is not None:
        lo, hi = args.min_value, args.max_value  # skip pass 1 (main.py:53-54)
    else:
        row = raster_minmax(tiles, band=band).first()
        if row is None or not row["n_valid"]:
            print("no valid pixels", file=sys.stderr)
            return 1
        lo, hi = float(row["min_value"]), float(row["max_value"])
    histo = raster_histogram(tiles, lo, hi, bins=bins, band=band)
    if args.output:
        from compute_histogram_spark.sources.sinks import write_histogram_csv

        write_histogram_csv(
            histo.select(
                "bin",
                F.col("bin_left").alias("value"),
                "pixel_count",
            ),
            args.output,
        )
        print(f"wrote {args.output}")
    else:
        for r in histo.collect():
            print("%1.2f, %d" % (r["bin_left"], r["pixel_count"]))
    if args.deciles:
        from compute_histogram_spark.operators import deciles as D

        dh = histo.select(
            F.col("bin_left").alias("value"), "pixel_count"
        )
        for r in D.deciles(dh).collect():
            print(
                f"p{r['percentile']}: [{r['min_value']}, {r['max_value']}] "
                f"n={r['bucket_count']}"
            )
    return 0


def main(argv: list[str] | None = None, spark: SparkSession | None = None) -> int:
    parser = build_parser()
    args = parser.parse_args(argv)
    if args.raster and (
        args.method == "log" or args.ref_compat or args.sparse
        or args.column is not None
    ):
        parser.error(
            "--raster does not take --method log, --ref-compat, --sparse or --column"
        )
    if not args.raster and (args.band is not None or args.bins is not None):
        parser.error("--band and --bins need --raster")

    from compute_histogram_spark.operators import deciles as D
    from compute_histogram_spark.operators import histogram as H
    from compute_histogram_spark.session import get_session
    from compute_histogram_spark.sources.sinks import write_histogram_csv

    own_session = spark is None
    if own_session:
        # None lets get_session pick local[$SPARK_GRAFT_CPUS].
        master = f"local[{args.workers}]" if args.workers else None
        spark = get_session("compute-histogram-spark", master=master)

    try:
        if args.raster:
            return _raster_main(args, spark)
        # TIMESTAMP(NANOS) columns (e.g. the driver's events table) are
        # unreadable by the vectorized reader without this; epoch-nanos
        # BIGINT is the documented engine representation (sources/tables.py).
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(args.source)
        column = "value" if args.column is None else args.column

        if args.minmax_only:
            mn, mx = H.compute_min_max(df, column, ref_compat=args.ref_compat)
            print(f"min={mn} max={mx}")
            return 0

        histo = H.histogram(
            df,
            column,
            args.method,
            min_value=args.min_value,
            max_value=args.max_value,
            ref_compat=args.ref_compat,
            dense=not args.sparse,
        )
        if args.output:
            write_histogram_csv(histo, args.output)
            print(f"wrote {args.output}")
        else:
            for r in histo.collect():
                print("%1.2f, %d" % (r["value"], r["pixel_count"]))
        if args.deciles:
            for r in D.deciles(histo).collect():
                print(
                    f"p{r['percentile']}: [{r['min_value']}, {r['max_value']}] "
                    f"n={r['bucket_count']}"
                )
        return 0
    finally:
        if own_session:
            spark.stop()


if __name__ == "__main__":
    sys.exit(main())
