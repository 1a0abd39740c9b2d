"""Physical-layout levers, proven at the PLAN level: bucketed joins must
show zero Exchange; partition-column predicates must show PartitionFilters
(directory pruning), not data filters."""

import os

from pyspark.sql import functions as F

from compute_histogram_spark.sources import bucketing as B
from compute_histogram_spark.sources.tables import load


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_bucketed_join_has_no_exchange(spark, sf_dir, tmp_path):
    # warehouse.dir is static; a db LOCATION keeps test tables in tmp_path
    spark.sql(f"CREATE DATABASE IF NOT EXISTS bktest LOCATION '{tmp_path / 'wh'}'")
    spark.catalog.setCurrentDatabase("bktest")
    orders = load(spark, sf_dir, "orders")
    lineitem = load(spark, sf_dir, "lineitem")
    B.write_bucketed(orders, "bktest.o_b", "o_orderkey", buckets=8)
    B.write_bucketed(lineitem, "bktest.l_b", "l_orderkey", buckets=8)

    joined = B.bucketed_join(spark, "bktest.o_b", "bktest.l_b", "o_orderkey", "l_orderkey")
    # disable broadcast so the join would OTHERWISE be a shuffle SMJ
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _plan(joined)
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    assert "Exchange hashpartitioning" not in plan, plan
    assert "SortMergeJoin" in plan
    # and the result is right
    assert joined.count() == lineitem.count()


def test_partitioned_write_prunes_directories(spark, sf_dir, tmp_path):
    events = load(spark, sf_dir, "events")
    path = str(tmp_path / "ev_part")
    B.write_partitioned(events, path, ["event_type"])
    # one directory per event_type
    dirs = {d for d in os.listdir(path) if d.startswith("event_type=")}
    assert len(dirs) == 5

    pruned = B.read_pruned(spark, path).where(F.col("event_type") == "click")
    plan = _plan(pruned)
    assert "PartitionFilters" in plan and "event_type" in plan.split("PartitionFilters")[1][:200]
    n_click = events.where(F.col("event_type") == "click").count()
    assert pruned.count() == n_click


def test_dynamic_partition_overwrite_is_incremental(spark, sf_dir, tmp_path):
    """Dynamic mode rewrites ONLY the partitions present in the incoming
    batch — the incremental-update pattern for a partitioned 100 TB table
    (static mode would wipe every other partition)."""
    events = load(spark, sf_dir, "events")
    path = str(tmp_path / "ev_incr")
    B.write_partitioned(events, path, ["event_type"])
    n_click = spark.read.parquet(path).where("event_type = 'click'").count()
    n_total = spark.read.parquet(path).count()

    update = (
        events.where("event_type = 'click'").limit(10)
    )  # a small click-only batch
    old = spark.conf.get("spark.sql.sources.partitionOverwriteMode", None)
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        update.write.mode("overwrite").partitionBy("event_type").parquet(path)
    finally:
        if old:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", old)
        else:
            spark.conf.unset("spark.sql.sources.partitionOverwriteMode")

    back = spark.read.parquet(path)
    assert back.where("event_type = 'click'").count() == 10  # replaced
    assert back.count() == n_total - n_click + 10  # others untouched


def test_merge_schema_evolution(spark, tmp_path):
    """Schema evolution across file generations: new columns appear as
    nulls for old files under mergeSchema — the append-only contract for
    long-lived landing tables."""
    from pyspark.sql import Row

    p = str(tmp_path / "evolving")
    spark.createDataFrame([Row(id=1, a="x")]).write.parquet(p + "/gen=1")
    spark.createDataFrame([Row(id=2, a="y", b=3.5)]).write.parquet(p + "/gen=2")
    df = spark.read.option("mergeSchema", "true").parquet(p)
    rows = {r["id"]: (r["a"], r["b"]) for r in df.collect()}
    assert rows == {1: ("x", None), 2: ("y", 3.5)}


def test_q5_on_bucketed_layout_plan_and_values(spark, sf_dir, tmp_path):
    """Q5 on the write-once bucketed fact layout: the orders⋈lineitem join
    must plan with ZERO Exchange and ZERO Sort on either fact (one sorted
    file per bucket), and values must match the raw-parquet plan exactly."""
    from compute_histogram_spark.operators import relational as R

    spark.sql(
        f"CREATE DATABASE IF NOT EXISTS q5test LOCATION '{tmp_path / 'wh'}'"
    )
    spark.catalog.setCurrentDatabase("q5test")
    try:
        ot, lt = B.write_q5_layout(spark, sf_dir, buckets=8)
        # idempotent: second call returns the same tables, no rewrite
        assert B.write_q5_layout(spark, sf_dir, buckets=8) == (ot, lt)

        dims = {
            t: load(spark, sf_dir, t)
            for t in ("region", "nation", "customer", "supplier")
        }
        bucketed = R.local_supplier_revenue(
            dims["region"], dims["nation"], dims["customer"],
            dims["supplier"], spark.table(ot), spark.table(lt),
        )
        raw = R.local_supplier_revenue(
            dims["region"], dims["nation"], dims["customer"],
            dims["supplier"], load(spark, sf_dir, "orders"),
            load(spark, sf_dir, "lineitem"),
        )
        assert bucketed.collect() == raw.collect()

        # the FINAL AQE plan never re-shuffles LINEITEM (the big fact,
        # always the streamed side) on its orderkey. The orders side is
        # scale-inverted at sf0.001 — AQE broadcasts tiny orders INTO the
        # customer join, which discards its bucketing; at bench scale
        # customer broadcasts instead and both facts keep their buckets
        # (plan recorded at sf10 in BASELINE.md). The layout property
        # itself is pinned deterministically below.
        plan = _plan(bucketed).split("== Initial Plan ==")[0]
        assert "hashpartitioning(l_orderkey" not in plan, plan

        # the layout property itself, with broadcast off so the join
        # would OTHERWISE be shuffle+sort SMJ: same-bucketed sorted scans
        # plan with ZERO Exchange and ZERO Sort (one file per bucket is
        # what lets Spark trust the sortBy metadata)
        ot_df, lt_df = spark.table(ot), spark.table(lt)
        j = ot_df.join(lt_df, ot_df["o_orderkey"] == lt_df["l_orderkey"])
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            jplan = _plan(j)
        finally:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        assert "Exchange hashpartitioning" not in jplan, jplan
        assert "SortMergeJoin" in jplan
        assert "Sort [" not in jplan, jplan
    finally:
        spark.catalog.setCurrentDatabase("default")


def test_q5_layout_reregisters_complete_prior_layout(spark, sf_dir, tmp_path):
    """A complete prior layout (files + _SUCCESS, no catalog entry — the
    fresh-metastore/persistent-warehouse case) is re-registered over its
    existing files instead of deleted and rebuilt (ADVICE r8), and the
    re-registered tables keep the exchange-free sorted-bucket plan."""
    import os
    import shutil

    spark.sql(
        f"CREATE DATABASE IF NOT EXISTS q5rereg LOCATION '{tmp_path / 'wh'}'"
    )
    spark.catalog.setCurrentDatabase("q5rereg")
    try:
        ot, lt = B.write_q5_layout(spark, sf_dir, buckets=8)
        before = spark.table(lt).count()
        loc = spark.sql("DESCRIBE DATABASE q5rereg").where(
            "info_name = 'Location'"
        ).first()["info_value"].removeprefix("file:")
        # drop the catalog entries but keep the files (DROP TABLE on a
        # managed table deletes them — move aside, drop, move back)
        mtimes = {}
        for t in (ot, lt):
            d = os.path.join(loc, t.split(".")[-1])
            shutil.move(d, d + ".keep")
            spark.sql(f"DROP TABLE {t}")
            shutil.move(d + ".keep", d)
            mtimes[t] = os.path.getmtime(d)

        ot2, lt2 = B.write_q5_layout(spark, sf_dir, buckets=8)
        assert (ot2, lt2) == (ot, lt)
        assert spark.table(lt2).count() == before
        for t in (ot, lt):  # re-registered, NOT rewritten
            d = os.path.join(loc, t.split(".")[-1])
            assert os.path.getmtime(d) == mtimes[t]

        # bucket+sort metadata survived re-registration: exchange-free SMJ
        ot_df, lt_df = spark.table(ot2), spark.table(lt2)
        j = ot_df.join(lt_df, ot_df["o_orderkey"] == lt_df["l_orderkey"])
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            jplan = _plan(j)
        finally:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        assert "Exchange hashpartitioning" not in jplan, jplan
        assert "SortMergeJoin" in jplan
        assert "Sort [" not in jplan, jplan
    finally:
        spark.catalog.setCurrentDatabase("default")


def test_custkey_layout_star_aggs_plan_and_values(spark, sf_dir, tmp_path):
    """The r12 layout attack on the orders-star weak class: on the
    custkey layout, region_revenue/rollup_revenue plan with ZERO
    custkey Exchange (pre-agg bucket-local, customer join co-bucketed)
    and match the raw-parquet plans value-exact."""
    from compute_histogram_spark.operators import relational as R

    spark.sql(
        f"CREATE DATABASE IF NOT EXISTS cktest LOCATION '{tmp_path / 'wh'}'"
    )
    spark.catalog.setCurrentDatabase("cktest")
    try:
        ot, ct = B.write_custkey_layout(spark, sf_dir, buckets=8)
        assert B.write_custkey_layout(spark, sf_dir, buckets=8) == (ot, ct)
        region = load(spark, sf_dir, "region")
        nation = load(spark, sf_dir, "nation")
        o_bk, c_bk = spark.table(ot), spark.table(ct)

        for bucketed, raw in (
            (
                R.region_revenue(region, nation, c_bk, o_bk),
                R.region_revenue(
                    region, nation, load(spark, sf_dir, "customer"),
                    load(spark, sf_dir, "orders"),
                ),
            ),
            (
                R.rollup_revenue(region, nation, c_bk, o_bk),
                R.rollup_revenue(
                    region, nation, load(spark, sf_dir, "customer"),
                    load(spark, sf_dir, "orders"),
                ),
            ),
        ):
            assert bucketed.collect() == raw.collect()
            # layout property pinned with the size-based broadcast OFF
            # (the dim hints still apply): no custkey re-shuffle anywhere
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            try:
                plan = _plan(bucketed)
            finally:
                spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
            assert "Exchange hashpartitioning(o_custkey" not in plan, plan
            assert "Exchange hashpartitioning(c_custkey" not in plan, plan
    finally:
        spark.catalog.setCurrentDatabase("default")


def test_orderkey_layout_q3_q4_plan_and_values(spark, sf_dir, tmp_path):
    """shipping_priority / late_order_priority on the SAME write-once
    orderkey layout Q5 uses: value-exact vs the raw plans, zero orderkey
    Exchange (pre-agg and fact join both bucket-local)."""
    from compute_histogram_spark.operators import relational as R

    spark.sql(
        f"CREATE DATABASE IF NOT EXISTS oktest LOCATION '{tmp_path / 'wh'}'"
    )
    spark.catalog.setCurrentDatabase("oktest")
    try:
        ot, lt = B.write_q5_layout(spark, sf_dir, buckets=8)
        customer = load(spark, sf_dir, "customer")
        orders = load(spark, sf_dir, "orders")
        lineitem = load(spark, sf_dir, "lineitem")

        o_bk, l_bk = spark.table(ot), spark.table(lt)
        b3 = R.shipping_priority(customer, o_bk, l_bk)
        r3 = R.shipping_priority(customer, orders, lineitem)
        assert b3.collect() == r3.collect()

        b4 = R.late_order_priority(o_bk, l_bk)
        r4 = R.late_order_priority(orders, lineitem)
        assert b4.collect() == r4.collect()

        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            p3, p4 = _plan(b3), _plan(b4)
        finally:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        for plan in (p3, p4):
            assert "Exchange hashpartitioning(l_orderkey" not in plan, plan
            assert "Exchange hashpartitioning(o_orderkey" not in plan, plan
    finally:
        spark.catalog.setCurrentDatabase("default")


def test_orderkey_layout_q12_plan_and_values(spark, sf_dir, tmp_path):
    """latency_mode_priority (Q12) on the same write-once orderkey
    layout: value-exact vs the raw plan, zero orderkey Exchange — the
    fact-fact join was the plain form's heaviest shuffle (sf10
    measured 2.63 -> 1.10 s; BASELINE.md r12 continuation)."""
    from compute_histogram_spark.operators import relational as R

    spark.sql(
        f"CREATE DATABASE IF NOT EXISTS ok12test LOCATION '{tmp_path / 'wh'}'"
    )
    spark.catalog.setCurrentDatabase("ok12test")
    try:
        ot, lt = B.write_q5_layout(spark, sf_dir, buckets=8)
        orders = load(spark, sf_dir, "orders")
        lineitem = load(spark, sf_dir, "lineitem")

        b12 = R.latency_mode_priority(spark.table(ot), spark.table(lt))
        r12 = R.latency_mode_priority(orders, lineitem)
        assert b12.collect() == r12.collect()

        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            plan = _plan(b12)
        finally:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        assert "Exchange hashpartitioning(l_orderkey" not in plan, plan
        assert "Exchange hashpartitioning(o_orderkey" not in plan, plan
    finally:
        spark.catalog.setCurrentDatabase("default")


def test_custkey_layout_q22_plan_and_values(spark, sf_dir, tmp_path):
    """sales_opportunity (Q22) on the write-once custkey layout:
    value-exact vs the raw plan, zero custkey Exchange — the anti join
    (both sides keyed on custkey) was the plain form's only data-scaled
    shuffle (sf100 solo probe 2.64 -> 1.00 s, r16)."""
    from compute_histogram_spark.operators import relational as R

    spark.sql(
        f"CREATE DATABASE IF NOT EXISTS ck22test LOCATION '{tmp_path / 'wh'}'"
    )
    spark.catalog.setCurrentDatabase("ck22test")
    try:
        ot, ct = B.write_custkey_layout(spark, sf_dir, buckets=8)
        orders = load(spark, sf_dir, "orders")
        customer = load(spark, sf_dir, "customer")

        b22 = R.sales_opportunity(spark.table(ct), spark.table(ot))
        r22 = R.sales_opportunity(customer, orders)
        assert b22.collect() == r22.collect()

        plan = _plan(b22)
        assert "Exchange hashpartitioning(c_custkey" not in plan, plan
        assert "Exchange hashpartitioning(o_custkey" not in plan, plan
    finally:
        spark.catalog.setCurrentDatabase("default")


def test_orderkey_layout_q7_q9_plan_and_values(spark, sf_dir, tmp_path):
    """volume_shipping / product_type_profit on the shared orderkey
    layout: value-exact vs the raw plans, zero orderkey Exchange.
    Adopted from measurement (sf10 -25%/-36%, sf100 cold -27%/-26% —
    BASELINE.md r12 continuation); the partkey family for the same
    queries was measured-and-rejected."""
    from compute_histogram_spark.operators import relational as R

    spark.sql(
        f"CREATE DATABASE IF NOT EXISTS ok79test LOCATION '{tmp_path / 'wh'}'"
    )
    spark.catalog.setCurrentDatabase("ok79test")
    try:
        ot, lt = B.write_q5_layout(spark, sf_dir, buckets=8)
        c, s, n, r, o, li, p = [
            load(spark, sf_dir, t)
            for t in ("customer", "supplier", "nation", "region", "orders",
                      "lineitem", "part")
        ]

        o_bk, l_bk = spark.table(ot), spark.table(lt)
        b7 = R.volume_shipping(l_bk, o_bk, c, s, n, r)
        assert b7.collect() == R.volume_shipping(li, o, c, s, n, r).collect()

        b9 = R.product_type_profit(l_bk, o_bk, s, p, n)
        assert b9.collect() == R.product_type_profit(li, o, s, p, n).collect()

        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            p7, p9 = _plan(b7), _plan(b9)
        finally:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        for plan in (p7, p9):
            assert "Exchange hashpartitioning(l_orderkey" not in plan, plan
            assert "Exchange hashpartitioning(o_orderkey" not in plan, plan
    finally:
        spark.catalog.setCurrentDatabase("default")


def test_userkey_layout_cohort_transitions_plan_and_values(
    spark, sf_dir, tmp_path
):
    """The r13 layout attack on the events weak class (VERDICT r12 #4):
    on a user_id-bucketed events table, cohort_retention's per-user
    aggregation and event_transitions' per-user window both cluster on
    the bucket key (or a superset), so the fact side plans with ZERO
    user_id Exchange — only the bounded final aggregates shuffle.
    Measured sf100: cohort 5.5->4.45 s, transitions 18.3->8.0 s
    (crossing the comparator's ~8.3 s)."""
    from compute_histogram_spark.operators import behavior as BH

    spark.sql(
        f"CREATE DATABASE IF NOT EXISTS uktest LOCATION '{tmp_path / 'wh'}'"
    )
    spark.catalog.setCurrentDatabase("uktest")
    try:
        name = B.write_layout(
            spark, sf_dir, (("events", "user_id"),), buckets=8
        )["events"]
        ev_raw = load(spark, sf_dir, "events")
        ev_bk = spark.table(name)
        for fn in (BH.cohort_retention, BH.event_transitions):
            assert fn(ev_bk).collect() == fn(ev_raw).collect()
            plan = _plan(fn(ev_bk))
            assert "Exchange hashpartitioning(user_id" not in plan, plan
    finally:
        spark.catalog.setCurrentDatabase("default")


def test_orderkey_layout_q21_plan_and_values(spark, sf_dir, tmp_path):
    """waiting_suppliers (Q21) on the same write-once orderkey layout —
    the family's 7th member and its deepest plan collapse: the fact-fact
    join, groupBy(l_orderkey, l_suppkey), groupBy(l_orderkey) and the
    qualifying semi join ALL cluster on an orderkey superset, so the only
    data-scaled Exchange left is the supplier-bounded numwait count.
    sf10 A/B (min-of-3, interleaved): plain 12.96 -> bucketed 7.96 s."""
    from compute_histogram_spark.operators import relational as R

    spark.sql(
        f"CREATE DATABASE IF NOT EXISTS oktest21 LOCATION '{tmp_path / 'wh'}'"
    )
    spark.catalog.setCurrentDatabase("oktest21")
    try:
        ot, lt = B.write_q5_layout(spark, sf_dir, buckets=8)
        supplier = load(spark, sf_dir, "supplier")
        orders = load(spark, sf_dir, "orders")
        lineitem = load(spark, sf_dir, "lineitem")

        b = R.waiting_suppliers(spark.table(ot), spark.table(lt), supplier)
        r = R.waiting_suppliers(orders, lineitem, supplier)
        assert b.collect() == r.collect()

        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            plan = _plan(b)
        finally:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        assert "Exchange hashpartitioning(l_orderkey" not in plan, plan
        assert "Exchange hashpartitioning(o_orderkey" not in plan, plan
    finally:
        spark.catalog.setCurrentDatabase("default")


def test_orderkey_layout_q18_q10_plan_and_values(spark, sf_dir, tmp_path):
    """large_volume_customers (Q18) and returned_item_customers (Q10) on
    the same write-once orderkey layout — family members 8 and 9
    (VERDICT r13 #5): Q18's HAVING pre-aggregate and orders join, and
    Q10's filtered fact-fact join, all cluster on the bucket key, so
    neither plan re-shuffles either fact on orderkey. sf10 A/B
    (min-of-5, value-equal asserted): q18 3.04 -> 1.27 s (-58%),
    q10 2.15 -> 1.16 s (-46%)."""
    from compute_histogram_spark.operators import relational as R

    spark.sql(
        f"CREATE DATABASE IF NOT EXISTS oktest1810 LOCATION '{tmp_path / 'wh'}'"
    )
    spark.catalog.setCurrentDatabase("oktest1810")
    try:
        ot, lt = B.write_q5_layout(spark, sf_dir, buckets=8)
        customer = load(spark, sf_dir, "customer")
        nation = load(spark, sf_dir, "nation")
        orders = load(spark, sf_dir, "orders")
        lineitem = load(spark, sf_dir, "lineitem")

        o_bk, l_bk = spark.table(ot), spark.table(lt)
        b18 = R.large_volume_customers(customer, o_bk, l_bk)
        r18 = R.large_volume_customers(customer, orders, lineitem)
        assert b18.collect() == r18.collect()

        b10 = R.returned_item_customers(customer, nation, o_bk, l_bk)
        r10 = R.returned_item_customers(customer, nation, orders, lineitem)
        assert b10.collect() == r10.collect()

        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            p18, p10 = _plan(b18), _plan(b10)
        finally:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        for plan in (p18, p10):
            assert "Exchange hashpartitioning(l_orderkey" not in plan, plan
            assert "Exchange hashpartitioning(o_orderkey" not in plan, plan
    finally:
        spark.catalog.setCurrentDatabase("default")


def test_pricing_projection_values_and_idempotence(spark, sf_dir, tmp_path):
    """The derived-column cents projection (write_pricing_projection):
    Q1 over the materialized integer-cents columns equals the plain
    form exactly — the stored bigints ARE the round(x*100) values the
    plain form derives per run — and the write is idempotent. sf10 A/B
    (min-of-4 interleaved, value-equal asserted): 1.52 -> 0.66 s
    (-56%); sf100 warm 8.88 -> 5.53 (crosses under the 2x weak bar)."""
    from compute_histogram_spark.operators import relational as R

    path = str(tmp_path / "cents_proj")
    p1 = B.write_pricing_projection(spark, sf_dir, path=path)
    assert B.write_pricing_projection(spark, sf_dir, path=path) == p1

    plain = R.pricing_summary(load(spark, sf_dir, "lineitem"))
    proj = R.pricing_summary_projected(spark.read.parquet(p1))
    assert plain.collect() == proj.collect()


def test_orderkey_layout_q8_plan_and_values(spark, sf_dir, tmp_path):
    """market_share (Q8) on the shared orderkey layout — family member
    10 (r14): with every dimension slice gated, the plain plan's one
    remaining data-scaled exchange is the fact-fact orderkey join,
    which the co-bucketed layout removes. sf100 warm fresh-JVM:
    17.05 (gated plain) -> 12.38 s (-27%)."""
    from compute_histogram_spark.operators import relational as R

    spark.sql(
        f"CREATE DATABASE IF NOT EXISTS oktest8 LOCATION '{tmp_path / 'wh'}'"
    )
    spark.catalog.setCurrentDatabase("oktest8")
    try:
        ot, lt = B.write_q5_layout(spark, sf_dir, buckets=8)
        dims = {t: load(spark, sf_dir, t)
                for t in ("customer", "supplier", "part", "nation", "region")}
        b = R.market_share(
            spark.table(lt), spark.table(ot), dims["customer"],
            dims["supplier"], dims["part"], dims["nation"], dims["region"],
        )
        r = R.market_share(
            load(spark, sf_dir, "lineitem"), load(spark, sf_dir, "orders"),
            dims["customer"], dims["supplier"], dims["part"],
            dims["nation"], dims["region"],
        )
        assert b.collect() == r.collect()
        plan = _plan(b)
        assert "Exchange hashpartitioning(l_orderkey" not in plan, plan
        assert "Exchange hashpartitioning(o_orderkey" not in plan, plan
    finally:
        spark.catalog.setCurrentDatabase("default")


def test_partkey_layout_q14_plan_and_values(spark, sf_dir, tmp_path):
    """promo_revenue_share (Q14) on the write-once partkey layout —
    family member 4 (r16 optimization round): the plain form
    force-broadcasts the FULL part dimension (it scales with the fact,
    2M rows at sf10), a per-run hash-table build the co-bucketed merge
    join does not need. Value-exact vs the plain form, zero partkey
    Exchange. sf10 A/B: warm 1.21 -> 1.08 s."""
    from compute_histogram_spark.operators import relational as R

    spark.sql(
        f"CREATE DATABASE IF NOT EXISTS pk14test LOCATION '{tmp_path / 'wh'}'"
    )
    spark.catalog.setCurrentDatabase("pk14test")
    try:
        lt, pt = B.write_partkey_layout(spark, sf_dir, buckets=8)
        plain = R.promo_revenue_share(
            load(spark, sf_dir, "part"), load(spark, sf_dir, "lineitem")
        )
        bucketed = R.promo_revenue_share(spark.table(pt), spark.table(lt))
        assert bucketed.collect() == plain.collect()
        plan = _plan(bucketed)
        assert "Exchange hashpartitioning(l_partkey" not in plan, plan
        assert "Exchange hashpartitioning(p_partkey" not in plan, plan
    finally:
        spark.catalog.setCurrentDatabase("default")


def test_partkey_layout_q16_q17_q20_plan_and_values(spark, sf_dir, tmp_path):
    """bucketed_on sees the partkey layout; supplier_part_counts (Q16),
    small_quantity_revenue (q17) and promotion_suppliers (q20) over it
    are value-exact vs plain parquet with no partkey Exchange — Q16's
    part join is a bucket-local merge (no SHUFFLE_HASH), q17's per-part
    window and q20's pair aggregate + window cluster on the bucket key
    (q20's repartition is skipped)."""
    from compute_histogram_spark.operators import relational as R

    spark.sql(
        f"CREATE DATABASE IF NOT EXISTS pk1620 LOCATION '{tmp_path / 'wh'}'"
    )
    spark.catalog.setCurrentDatabase("pk1620")
    try:
        # a bucket count unlike the session's shuffle partitions: with
        # equal counts Spark drops a user repartition on the bucket key
        # by itself, which would hide q20's guard
        lt, pt = B.write_partkey_layout(spark, sf_dir, buckets=4)
        l_bk, p_bk = spark.table(lt), spark.table(pt)
        li, part, supplier = (
            load(spark, sf_dir, t) for t in ("lineitem", "part", "supplier")
        )
        # what the operators observe: the bucket key, through filters and
        # projections, and nothing for other keys or plain parquet
        assert B.bucketed_on(l_bk, "l_partkey")
        assert B.bucketed_on(
            l_bk.where(F.col("l_quantity") > 3).select("l_partkey"), "l_partkey"
        )
        assert not B.bucketed_on(l_bk, "l_orderkey")
        assert not B.bucketed_on(l_bk, "l_part")
        assert not B.bucketed_on(li, "l_partkey")
        for bucketed, raw in (
            (R.supplier_part_counts(l_bk, supplier, p_bk),
             R.supplier_part_counts(li, supplier, part)),
            (R.small_quantity_revenue(l_bk, part),
             R.small_quantity_revenue(li, part)),
            (R.promotion_suppliers(l_bk, supplier, part),
             R.promotion_suppliers(li, supplier, part)),
        ):
            assert bucketed.collect() == raw.collect()
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            try:
                plan = _plan(bucketed)
            finally:
                spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
            assert "Exchange hashpartitioning(l_partkey" not in plan, plan
            assert "Exchange hashpartitioning(p_partkey" not in plan, plan
            assert "ShuffledHashJoin" not in plan, plan
    finally:
        spark.catalog.setCurrentDatabase("default")
