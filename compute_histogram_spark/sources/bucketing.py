"""Physical layout helpers: bucketed tables and partitioned writes.

These are the two storage-side levers that remove whole shuffles at 100 TB:

- **Bucketing** (:func:`write_bucketed`): pre-shuffle a fact table ONCE at
  write time into N buckets on the join/agg key. Any later equi-join or
  groupBy on that key between tables bucketed the same way runs with NO
  Exchange — the join is per-bucket, map-side. This is the right call for
  fact-to-fact joins (orders ⋈ lineitem) that repeat across many queries;
  the write-time shuffle amortizes over every downstream read.
  (Bucketed tables must go through the catalog — ``saveAsTable`` — because
  bucket metadata lives in the metastore, not the parquet footer.)

- **Partitioned layout** (:func:`write_partitioned` +
  :func:`read_pruned`): directory partitioning on a low-cardinality filter
  column (date, event_type, region). Predicates on the partition column
  prune entire directories at planning time — the scan never lists, opens,
  or reads excluded partitions. Verified in tests by asserting the pushed
  PartitionFilters in the physical plan.

Guidance: partition on columns queries FILTER by (low cardinality, stable);
bucket on columns queries JOIN/GROUP by (high cardinality keys). Don't
partition on high-cardinality keys — millions of tiny directories kill the
listing step and the small-files problem eats the gain.

A layout is an INPUT, not a second copy of a query: the writers below
return catalog table names, and a caller passes ``spark.table(name)`` to
the same relational operator it would give plain parquet. Where the
best plan over a bucketed input differs (a join hint or join order that
only pays without co-bucketing), the operator decides by asking
:func:`bucketed_on` about the DataFrames it was handed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table: str,
    key: str,
    buckets: int = 16,
    sort_by: str | None = None,
) -> None:
    """Persist ``df`` as a bucketed (and optionally sorted) catalog table."""
    w = df.write.mode("overwrite").bucketBy(buckets, key)
    if sort_by:
        w = w.sortBy(sort_by)
    w.saveAsTable(table)


def bucketed_join(spark: SparkSession, left_table: str, right_table: str, key_l: str, key_r: str) -> DataFrame:
    """Equi-join two same-bucketed tables — plans with zero Exchange."""
    lt, rt = spark.table(left_table), spark.table(right_table)
    return lt.join(rt, lt[key_l] == rt[key_r])


def bucketed_on(df: DataFrame, key: str) -> bool:
    """True when ``df`` reads a table bucketed on ``key`` alone, so a
    join or aggregate on ``key`` needs no Exchange on its side. Read
    from the planned output partitioning of ``df`` (filters and
    projections keep it); plain parquet plans as UnknownPartitioning.
    Plans only — no job runs."""
    part = df._jdf.queryExecution().sparkPlan().outputPartitioning()
    return part.toString().startswith(f"hashpartitioning({key}#")


def write_partitioned(df: DataFrame, path: str, partition_by: list[str]) -> None:
    df.write.mode("overwrite").partitionBy(*partition_by).parquet(path)


def read_pruned(spark: SparkSession, path: str) -> DataFrame:
    """Plain read; apply partition-column filters and Spark prunes
    directories at planning time (see tests for the plan assertion)."""
    return spark.read.parquet(path)


def write_q5_layout(
    spark: SparkSession,
    sf_dir: str,
    buckets: int = 32,
    database: str | None = None,
) -> tuple[str, str]:
    """Write orders + lineitem as same-bucketed, key-sorted catalog tables
    for exchange-free ORDERKEY joins (the Q5 star layout — also serves
    shipping_priority/Q3 and late_order_priority/Q4, whose fact join and
    pre-aggregation both key on orderkey)."""
    names = write_layout(
        spark, sf_dir,
        (("orders", "o_orderkey"), ("lineitem", "l_orderkey")),
        buckets, database,
    )
    return names["orders"], names["lineitem"]


def write_partkey_layout(
    spark: SparkSession,
    sf_dir: str,
    buckets: int = 32,
    database: str | None = None,
) -> tuple[str, str]:
    """Write lineitem + part as same-bucketed, key-sorted catalog tables
    for exchange-free PARTKEY joins (r15, VERDICT r14 #4 — the layout
    attack on Q16, the largest remaining sf100 row): the orderkey
    family cannot help Q16, whose one data-scaled exchange is the
    600M-row lineitem shuffle into the part join. Partkey-bucketed,
    that join is bucket-local and the partial distinct over
    (class_id, suppkey) runs inside the bucket — the only shuffle left
    is the ~59M distinct-pair exchange, Q16's structural floor (the
    subset-key pattern that carried Q21/Q18/Q10 on the orderkey
    family)."""
    names = write_layout(
        spark, sf_dir,
        (("lineitem", "l_partkey"), ("part", "p_partkey")),
        buckets, database,
    )
    return names["lineitem"], names["part"]


def write_custkey_layout(
    spark: SparkSession,
    sf_dir: str,
    buckets: int = 32,
    database: str | None = None,
) -> tuple[str, str]:
    """orders + customer same-bucketed on CUSTKEY (r12, the layout attack
    on the orders-star weak class): the per-customer pre-aggregation
    (groupBy o_custkey) runs bucket-local AND the customer join is
    co-bucketed, so region_revenue/rollup_revenue/top_customers plans
    carry ZERO fact-side Exchange — only the bounded post-dim aggregate
    shuffles (≤ |nations| rows)."""
    from pyspark.sql import functions as F

    names = write_layout(
        spark, sf_dir,
        (("orders", "o_custkey"), ("customer", "c_custkey")),
        buckets, database,
        # r14: the per-run cents cast moves into the write (measured at
        # sf10: the cast is half of the orders pre-aggregation)
        derive={"orders": {
            "tp_c": F.round(F.col("o_totalprice") * 100).cast("bigint")
        }},
    )
    return names["orders"], names["customer"]


def scaled_buckets(
    sf_dir: str,
    table: str = "lineitem",
    per_bucket_bytes: int = 64 << 20,
    floor: int = 32,
) -> int:
    """Bucket count for a write-once layout, scaled to the fact table's
    on-disk size (r13, found at sf100): a bucketed scan reads ONE WHOLE
    file per task — no split points — so every bucket-local operator's
    per-task state is bounded by bucket size, not by shuffle partitions.
    Q21's pair-grained aggregation on a 32-bucket sf100 layout put
    ~19M-row hash-agg states in 32 concurrent unsplittable tasks and
    killed the 8 GB JVM; the same plan on a scale-proportional layout is
    the family's biggest win. Rule: ~64 MiB of parquet per bucket
    (power of two, floor 32) — sf10 and below keep their historical 32
    by construction; only genuinely large tiles move.
    """
    import math
    import os

    total = 0
    path = os.path.join(sf_dir, f"{table}.parquet")
    if os.path.isdir(path):
        for root, _dirs, files in os.walk(path):
            total += sum(
                os.path.getsize(os.path.join(root, f)) for f in files
            )
    elif os.path.exists(path):
        total = os.path.getsize(path)
    if total <= floor * per_bucket_bytes:
        return floor
    return 2 ** math.ceil(math.log2(total / per_bucket_bytes))


def write_layout(
    spark: SparkSession,
    sf_dir: str,
    tables_keys: tuple[tuple[str, str], ...],
    buckets: int = 32,
    database: str | None = None,
    derive: dict | None = None,
) -> dict[str, str]:
    """Write the given (table, bucket_key) pairs as same-bucketed,
    key-sorted catalog tables for exchange-free equi-joins/groupBys on
    the key. Idempotent per (sf_dir, key, buckets): returns the existing
    tables when already built, so the one-time pre-shuffle amortizes
    across every downstream run — the production claim this layout
    exists to make.

    ``repartition(buckets, key)`` before the bucketed write gives exactly
    ONE file per bucket, which is the condition Spark requires to trust
    the sortBy metadata at scan time (many files per bucket would re-Sort
    before the merge join).

    ``derive`` maps table -> {column_name: Column} of DERIVED columns
    materialized at write time (r14, the cents-projection trade folded
    into the bucketed family: per-run expression chains over columns
    that never change move into the one-time write). Derived names AND
    the canonical string of each derive expression join the layout tag
    (ADVICE r14: names alone would silently reuse a stale table with
    old stored values when an expression changes under the same name),
    so any derive change builds a NEW layout."""
    import hashlib
    import os

    from compute_histogram_spark.sources.tables import load

    db = database or spark.catalog.currentDatabase()
    names = {}
    for tbl, key in tables_keys:
        extra = (derive or {}).get(tbl, {})
        dtag = ("" if not extra
                else ":" + ",".join(
                    f"{c}={extra[c]}" for c in sorted(extra)))
        tag = hashlib.md5(
            f"{os.path.abspath(sf_dir)}:{key}:{buckets}{dtag}".encode()
        ).hexdigest()[:10]
        name = f"{db}.{tbl}_bk_{tag}"
        names[tbl] = name
        if spark.catalog.tableExists(name):
            continue
        # The warehouse dir can outlive the metastore (fresh in-process
        # derby catalog, persistent spark-warehouse): a COMPLETE prior
        # layout (marked by _SUCCESS) is re-registered over its existing
        # files — bucket ids are parsed from the file names Spark wrote —
        # instead of being deleted and rebuilt every process (ADVICE r8).
        # Only an incomplete write (died mid-write, no _SUCCESS) is
        # removed; saveAsTable refuses to reuse such a location.
        # Single-writer assumption: concurrent processes building the
        # same (sf_dir, buckets) tag race on this directory.
        loc = spark.sql(f"DESCRIBE DATABASE {db}").where(
            "info_name = 'Location'"
        ).first()["info_value"]
        orphan = os.path.join(
            loc.removeprefix("file:"), name.rsplit(".", 1)[-1]
        )
        if os.path.isdir(orphan):
            if os.path.exists(os.path.join(orphan, "_SUCCESS")):
                try:
                    sch = spark.read.parquet(orphan).schema
                    cols = ", ".join(
                        f"`{f.name}` {f.dataType.simpleString()}"
                        for f in sch.fields
                    )
                    spark.sql(
                        f"CREATE TABLE {name} ({cols}) USING parquet "
                        f"CLUSTERED BY ({key}) SORTED BY ({key}) "
                        f"INTO {buckets} BUCKETS LOCATION '{orphan}'"
                    )
                    continue
                except Exception:  # noqa: BLE001 - fall through to rebuild
                    # CREATE TABLE may have HALF-registered the name (or a
                    # concurrent writer won the race) before failing; a
                    # lingering entry would make the saveAsTable below die
                    # with 'table already exists'. Re-check and drop it so
                    # the rebuild path starts clean (ADVICE r9). Note the
                    # re-registered table above is EXTERNAL (DROP keeps its
                    # files, unlike the managed saveAsTable path) — the
                    # deliberate trade for surviving a fresh metastore.
                    if spark.catalog.tableExists(name):
                        spark.sql(f"DROP TABLE IF EXISTS {name}")
            import shutil

            shutil.rmtree(orphan)
        df = load(spark, sf_dir, tbl)
        for cname, cexpr in extra.items():
            df = df.withColumn(cname, cexpr)
        df = df.repartition(buckets, key)
        (
            df.write.mode("overwrite")
            # Writer-reader heap asymmetry (r13, found at sf100): row-group
            # size is decided by the WRITER's heap (parquet's MemoryManager
            # only scales it down under writer memory pressure), but the
            # read side allocates per row group — an ingest job with a big
            # heap wrote ~240 MB groups that 32 concurrent bucketed-scan
            # tasks (whole file per task, no split points) could not read
            # in the default 8 GB JVM (JDK17 G1 GCLocker starvation on
            # 128 MiB humongous allocations -> spurious OOM). A layout is
            # a SHARED artifact: cap the row group explicitly so any
            # executor size can read what any ingest size wrote.
            .option("parquet.block.size", 32 * 1024 * 1024)
            .bucketBy(buckets, key)
            .sortBy(key)
            .saveAsTable(name)
        )
    return names


def write_pricing_projection(
    spark: SparkSession, sf_dir: str, path: str | None = None
) -> str:
    """Write-once DERIVED-COLUMN projection for the scan-agg family
    (r14): the integer-cents money columns Q1 recomputes on every run
    — round(x * 100) -> BIGINT, four columns per row — materialize at
    WRITE time instead, alongside the group/filter keys. Measured at
    sf10 the per-query cast chain is HALF of pricing_summary (1.53 s
    full vs 0.73 raw-double vs 0.15 scan-only), so amortizing it into
    the layout is the same write-once trade as the bucketed families —
    and int64 cents delta-encode tighter than the doubles they replace.
    Idempotent per sf_dir (same _SUCCESS convention as the bucketed
    layouts)."""
    import hashlib
    import os

    from compute_histogram_spark.operators.relational import cents
    from compute_histogram_spark.sources.tables import load
    from pyspark.sql import functions as F

    if path is None:
        tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:10]
        path = f"/tmp/cents_proj_{tag}"
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return path
    li = load(spark, sf_dir, "lineitem")
    (
        li.select(
            "l_returnflag",
            "l_linestatus",
            "l_shipdate",
            cents("l_quantity").alias("qc"),
            cents("l_extendedprice").alias("pc"),
            cents("l_discount").alias("dc"),
            cents("l_tax").alias("tc"),
        )
        .write.mode("overwrite")
        .parquet(path)
    )
    return path
