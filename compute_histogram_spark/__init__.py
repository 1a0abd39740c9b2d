"""compute_histogram_spark — a PySpark-native analytics engine.

A from-scratch re-expression of the capabilities of ``wri/compute_histogram``
(reference at /root/reference, cited as ``main.py:NN``) on idiomatic Spark:
DataFrame/SQL plans optimized by Catalyst, two-phase hash aggregation instead
of hand-rolled multiprocessing map/fold, plus the LLM-data-pipeline operators
(dedup, similarity search, text analysis, streaming) the reference's shape
generalizes to.

Layout
------
- ``plans``      : driver-side logical planning (bin schemes — main.py:152-179)
- ``operators``  : batch operators (histogram, deciles, relational, dedup,
                   similarity, text, windows)
- ``sources``    : catalogs, table loaders, sinks (main.py:60-79,124)
- ``functions``  : reusable Column-expression helpers (vector math, portable
                   hashing, text kernels)
- ``streaming``  : Structured Streaming variants (windowed/sessionized
                   histograms)
- ``multimodal`` : binary columns over mapInPandas: the GeoTIFF raster
                   reader and two-pass raster histogram (``geotiff``), and
                   the asset feature kernel (``binary``), which parses real
                   image headers for PNG and TIFF only, and video
                   metadata readers (MP4, H.264 SPS)

Every operator is designed for a 1000-executor / 100 TB deployment:
aggregations rely on Spark's partial->final hash aggregation, small
dimensions are broadcast, scans push filters/projections into parquet, and
nothing ever collects a data-sized structure onto the driver.
"""

from compute_histogram_spark.plans.bin_scheme import BinScheme
from compute_histogram_spark.operators.histogram import (
    bin_counts,
    compute_min_max,
    histogram,
    merge_histograms,
)
from compute_histogram_spark.operators.deciles import deciles, deciles_sql

__version__ = "0.1.0"

__all__ = [
    "BinScheme",
    "bin_counts",
    "compute_min_max",
    "histogram",
    "merge_histograms",
    "deciles",
    "deciles_sql",
]
