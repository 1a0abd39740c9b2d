"""Relational coverage: joins, group aggregates, top-k — the obligations the
reference's decile SQL implies (CTE/cross-join/window/group-agg,
compute_histogram.sql:1-3) extended to the star schema the engine serves.

Cross-engine determinism: money columns are summed in integer *cents*
(``round(x*100)`` -> BIGINT). Floating-point summation order differs between
engines (and between Spark partitions run-to-run); integer sums are exact and
associative, so results are bit-identical everywhere and at any parallelism.
The final division back to dollars is a single double op on identical
integers. Overflow headroom: int64 holds ~9.2e18 — cents-scale sums are safe
beyond SF 10k; the charge product (cents x 100 x 100) is safe through ~SF100,
beyond which the same pattern moves to DECIMAL(38,x).

Scale notes: only BOUNDED dimensions (region/nation/band lists/query
sets) are force-broadcast. Tables that grow with the data (customer,
supplier, part) are joined plainly and left to cost-based/AQE planning:
Spark broadcasts them while their runtime size fits the threshold and
switches to a shuffle join beyond it — forcing `F.broadcast` on a
data-scaled table is exactly the plan that dies at 100x (measured: a
forced customer broadcast made the sf1 Q5 join 3.4x slower). AQE handles
skewed group keys. The middle ground — a FILTERED slice of a data-scaled
dimension whose static estimate (pre-filter file bytes) blocks the
broadcast the runtime size would allow — goes through the driver-side
cardinality gate (plans/broadcast_gate.py): count the slice, broadcast
iff it fits a deployment budget, else keep the shuffle plan.

Layouts: each operator has one formulation and takes DataFrames. A
write-once bucketed layout (sources/bucketing.py) is passed in as
``spark.table(name)`` in place of the plain parquet read. Where the best
plan over co-bucketed facts differs (a hint or join order that only pays
when the fact join would otherwise shuffle), the operator picks it from
:func:`~compute_histogram_spark.sources.bucketing.bucketed_on`, which
reads the inputs' planned partitioning. Over plain parquet that check is
False and the plan is the one each operator documents.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from ..plans.broadcast_gate import broadcast_if_fits, counted_rows, fits
from ..session import defer_release
from ..sources.bucketing import bucketed_on


def cents(col: Column | str) -> Column:
    """Dollars (2-decimal double) -> exact integer cents.

    floor(x*100 + 0.5), not F.round: Spark's Round on DoubleType goes
    through a per-row BigDecimal setScale (allocation + slow path in
    the generated code), while floor is a single FP instruction —
    measured r15 at sf100: the Q9 profit math dropped 11.92 -> 10.33 s
    on the swap, and an exhaustive comparison over all four lineitem
    money columns at sf100 (2.4e9 conversions) found ZERO value
    differences. The two agree exactly for NON-NEGATIVE inputs
    (round-half-up == HALF_UP away-from-zero there); every column this
    engine converts (prices, quantities, discounts, taxes) is
    non-negative by schema construction. For signed money a caller
    must not use this helper."""
    c = F.col(col) if isinstance(col, str) else col
    return F.floor(c * 100 + F.lit(0.5)).cast("bigint")


def pricing_summary(lineitem: DataFrame, cutoff: str = "1998-09-02") -> DataFrame:
    """TPC-H Q1-shaped pricing summary with cents-exact money math."""
    li = lineitem.where(F.col("l_shipdate") <= F.lit(cutoff).cast("timestamp"))
    qty_c = cents("l_quantity")
    price_c = cents("l_extendedprice")
    disc_c = cents("l_discount")  # discount fraction at 1e-2 scale
    tax_c = cents("l_tax")
    return (
        li.select(
            "l_returnflag",
            "l_linestatus",
            qty_c.alias("qc"),
            price_c.alias("pc"),
            disc_c.alias("dc"),
            (price_c * (100 - disc_c)).alias("disc_pc"),
            (price_c * (100 - disc_c) * (100 + tax_c)).alias("charge_pc"),
        )
        .select(
            "*",
            F.expr("charge_pc div 1000000").alias("ch_hi"),
            F.expr("charge_pc % 1000000").alias("ch_lo"),
        )
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            (F.sum("qc") / 100.0).alias("sum_qty"),
            (F.sum("pc") / 100.0).alias("sum_base_price"),
            (F.sum("disc_pc") / 10000.0).alias("sum_disc_price"),
            # charge_pc is ~1e11 per row (pc ~1e7 x 100 x 100), so a
            # per-group int64 sum wraps silently a little past sf100
            # (~5e18 measured there; ADVICE r14). The r15 form: split
            # each non-negative charge into (div 1e6, % 1e6), sum BOTH
            # as plain codegen int64 (hi headroom to ~sf1.6e7), and
            # reconstruct the exact integer total in decimal only at
            # the |groups| final rows — measured at sf100: decimal
            # per-row sum 6.5 s, this split 3.9, unsafe bigint 3.5;
            # bit-identical output to the decimal form at every scale.
            ((F.sum("ch_hi").cast("decimal(38,0)")
              * F.lit(1_000_000).cast("decimal(38,0)")
              + F.sum("ch_lo").cast("decimal(38,0)"))
             / 1000000.0).alias("sum_charge"),
            (F.sum("qc") / F.count(F.lit(1)) / 100.0).alias("avg_qty"),
            (F.sum("pc") / F.count(F.lit(1)) / 100.0).alias("avg_price"),
            (F.sum("dc") / F.count(F.lit(1)) / 100.0).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def pricing_summary_projected(
    proj: DataFrame, cutoff: str = "1998-09-02"
) -> DataFrame:
    """:func:`pricing_summary` over the write-once cents projection
    (sources/bucketing.py:write_pricing_projection): identical
    aggregate expressions on the MATERIALIZED integer-cents columns —
    value-exact by construction (the stored values are the same
    round(x*100) bigints the plain form derives per run), with the
    four-cast-per-row chain amortized into the layout write."""
    li = proj.where(F.col("l_shipdate") <= F.lit(cutoff).cast("timestamp"))
    return (
        li.select(
            "l_returnflag",
            "l_linestatus",
            "qc",
            "pc",
            "dc",
            (F.col("pc") * (100 - F.col("dc"))).alias("disc_pc"),
            F.expr("pc * (100 - dc) * (100 + tc) div 1000000").alias("ch_hi"),
            F.expr("pc * (100 - dc) * (100 + tc) % 1000000").alias("ch_lo"),
        )
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            (F.sum("qc") / 100.0).alias("sum_qty"),
            (F.sum("pc") / 100.0).alias("sum_base_price"),
            (F.sum("disc_pc") / 10000.0).alias("sum_disc_price"),
            # charge_pc is ~1e11 per row (pc ~1e7 x 100 x 100), so a
            # per-group int64 sum wraps silently a little past sf100
            # (~5e18 measured there; ADVICE r14). The r15 form: split
            # each non-negative charge into (div 1e6, % 1e6), sum BOTH
            # as plain codegen int64 (hi headroom to ~sf1.6e7), and
            # reconstruct the exact integer total in decimal only at
            # the |groups| final rows — measured at sf100: decimal
            # per-row sum 6.5 s, this split 3.9, unsafe bigint 3.5;
            # bit-identical output to the decimal form at every scale.
            ((F.sum("ch_hi").cast("decimal(38,0)")
              * F.lit(1_000_000).cast("decimal(38,0)")
              + F.sum("ch_lo").cast("decimal(38,0)"))
             / 1000000.0).alias("sum_charge"),
            (F.sum("qc") / F.count(F.lit(1)) / 100.0).alias("avg_qty"),
            (F.sum("pc") / F.count(F.lit(1)) / 100.0).alias("avg_price"),
            (F.sum("dc") / F.count(F.lit(1)) / 100.0).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def top_customers(customer: DataFrame, orders: DataFrame, k: int = 10) -> DataFrame:
    """Highest-spend customers: exact cents sum, deterministic
    tie-break, TakeOrdered top-k (no global sort shuffle). The fact side
    pre-aggregates per customer (:func:`_orders_per_customer`) so the
    c_name join probes |customers| rows, not |orders|; customer is
    data-scaled — join strategy left to AQE (see module docstring)."""
    return (
        _orders_per_customer(orders)
        .join(customer, F.col("o_custkey") == customer["c_custkey"])
        .select(
            "c_custkey",
            "c_name",
            (F.col("rev_c") / 100.0).alias("total_spent"),
            F.col("n_o").alias("n_orders"),
        )
        .orderBy(F.desc("total_spent"), F.asc("c_custkey"))
        .limit(k)
    )


def _orders_per_customer(orders: DataFrame) -> DataFrame:
    """Pre-aggregate the fact table BEFORE the dimension join: exact
    integer-cents partial sums per customer. Catalyst never pushes an
    aggregation below a join on its own, but revenue is additive, so
    summing partials after the join is value-identical — and the join
    input drops from |orders| to |customers| rows (the orders-per-customer
    factor, unboundedly large at 100 TB).

    The custkey layout (sources/bucketing.py:write_custkey_layout)
    stores the cents as a ``tp_c`` column: the same round(x*100) bigints
    the expression derives, so the sum is value-exact and the per-row
    cast moves into the one-time write. Plain parquet has no ``tp_c``."""
    rev_c = F.col("tp_c") if "tp_c" in orders.columns else cents("o_totalprice")
    return orders.groupBy("o_custkey").agg(
        F.sum(rev_c).alias("rev_c"),
        F.count(F.lit(1)).alias("n_o"),
    )


def region_revenue(
    region: DataFrame, nation: DataFrame, customer: DataFrame, orders: DataFrame
) -> DataFrame:
    """Revenue by region/nation; the fact side pre-aggregates per customer
    (see :func:`_orders_per_customer`), bounded dims (nation/region)
    broadcast, the data-scaled customer join stays AQE's stats-based
    choice. Over the custkey layout (orders + customer co-bucketed) the
    pre-aggregation and the customer join are bucket-local: zero
    fact-side Exchange, only the ≤ |nations|-group aggregate moves."""
    j = (
        _orders_per_customer(orders)
        .join(customer, F.col("o_custkey") == customer["c_custkey"])
        .join(F.broadcast(nation), customer["c_nationkey"] == nation["n_nationkey"])
        .join(F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"])
    )
    return (
        j.groupBy("r_name", "n_name")
        .agg(
            (F.sum("rev_c") / 100.0).alias("revenue"),
            F.sum("n_o").alias("n_orders"),
        )
        .orderBy("r_name", "n_name")
    )


def top_n_per_group(
    df: DataFrame,
    part_cols: list[str],
    order_cols: list[Column],
    n: int,
) -> DataFrame:
    """Generic partitioned top-N (row_number window). Deterministic only if
    ``order_cols`` includes a tie-breaking unique key."""
    w = Window.partitionBy(*part_cols).orderBy(*order_cols)
    return (
        df.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= n)
    )


def rollup_revenue(
    region: DataFrame, nation: DataFrame, customer: DataFrame, orders: DataFrame
) -> DataFrame:
    """Region/nation revenue with ROLLUP subtotals + grand total.

    One aggregation pass computes all three grouping levels (Spark expands
    the rollup before the shuffle — still a single Exchange, over the
    customer-cardinality pre-aggregate, not the raw fact table). Group
    labels are coalesced to 'ALL' so every engine sorts/compares the
    subtotal rows identically (NULL ordering differs across engines).
    """
    j = (
        _orders_per_customer(orders)
        .join(customer, F.col("o_custkey") == customer["c_custkey"])
        .join(F.broadcast(nation), customer["c_nationkey"] == nation["n_nationkey"])
        .join(F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"])
    )
    return (
        j.rollup("r_name", "n_name")
        .agg(
            (F.sum("rev_c") / 100.0).alias("revenue"),
            F.sum("n_o").alias("n_orders"),
        )
        .select(
            F.coalesce("r_name", F.lit("ALL")).alias("r_name"),
            F.coalesce("n_name", F.lit("ALL")).alias("n_name"),
            "revenue",
            "n_orders",
        )
        .orderBy("r_name", "n_name")
    )


ORDER_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")


def orders_pivot(orders: DataFrame) -> DataFrame:
    """Order counts per year x priority — pivot with a PINNED value list.

    Always pass explicit pivot values at scale: without them Spark runs an
    extra distinct job over the fact table just to discover the columns.
    Absent combinations surface as 0, matching the oracle's FILTER counts.
    """
    p = (
        orders.groupBy(F.year("o_orderdate").alias("order_year"))
        .pivot("o_orderpriority", list(ORDER_PRIORITIES))
        .agg(F.count(F.lit(1)))
    )
    return p.select(
        "order_year",
        *[
            F.coalesce(F.col(f"`{v}`"), F.lit(0)).cast("bigint").alias(v)
            for v in ORDER_PRIORITIES
        ],
    ).orderBy("order_year")


def users_in_both(events: DataFrame, type_a: str, type_b: str) -> DataFrame:
    """INTERSECT: users who emitted both event types (set semantics)."""
    a = events.where(F.col("event_type") == type_a).select("user_id")
    b = events.where(F.col("event_type") == type_b).select("user_id")
    return a.intersect(b).orderBy("user_id")


def users_only_in(events: DataFrame, type_a: str, type_b: str) -> DataFrame:
    """EXCEPT: users with event type A but never type B (set semantics)."""
    a = events.where(F.col("event_type") == type_a).select("user_id")
    b = events.where(F.col("event_type") == type_b).select("user_id")
    return a.subtract(b).orderBy("user_id")  # EXCEPT (distinct) semantics


def lapsed_customers(customer: DataFrame, orders: DataFrame, since: str) -> DataFrame:
    """Anti join: customers with NO order at/after ``since``.

    left_anti against a broadcast-able filtered fact projection — at scale
    the filtered keys are far smaller than the fact, so the dimension never
    shuffles. (The semi-join dual is ``left_semi`` on the same predicate.)
    """
    recent = orders.where(
        F.col("o_orderdate") >= F.lit(since).cast("timestamp")
    ).select(F.col("o_custkey").alias("c_custkey"))
    return (
        customer.join(recent, "c_custkey", "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str,
    salt: int = 16,
) -> DataFrame:
    """Skew-resistant equi-join: salt the fact key, explode the dim side.

    For when the dim is too big to broadcast AND the fact key is skewed:
    fact rows get a random salt in [0, salt); each dim row is replicated
    ``salt`` times; the join key becomes (key, salt), splitting a hot key
    across ``salt`` reducers. AQE's skew-join handles most cases now — this
    is the explicit fallback when runtime stats miss (e.g. skew appears
    after a filter AQE can't see through). Salting uses a hash of the fact
    row (not rand()) so the plan stays deterministic and retry-safe.
    """
    f = fact.withColumn(
        "__salt", F.pmod(F.xxhash64(*fact.columns), F.lit(salt)).cast("int")
    )
    d = dim.withColumn("__salt", F.explode(F.array(*[F.lit(i) for i in range(salt)])))
    out = f.join(
        d, (f[fact_key] == d[dim_key]) & (f["__salt"] == d["__salt"]), "inner"
    )
    return out.drop("__salt")


def shipping_priority(
    customer: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    segment: str = "BUILDING",
    cutoff: str = "1998-01-01",
    k: int = 10,
) -> DataFrame:
    """TPC-H Q3 shape: top unshipped-revenue orders for one market segment.

    Join strategy for scale: ``customer`` (dim, pre-filtered to one segment)
    broadcasts into ``orders`` — the orders fact never shuffles for that
    join. The lineitem side pre-aggregates its additive revenue per
    ``l_orderkey`` BEFORE the fact-to-fact join (integer-cents partials,
    value-identical; same rationale as :func:`_orders_per_customer`), so
    that join moves one row per order, not one per line item. It remains
    the one real shuffle; with both tables bucketed by orderkey
    (sources/bucketing.py:write_q5_layout) it too becomes exchange-free.
    Revenue sums in integer cents*1e2 (pc * (100-dc)) so the result is
    bit-identical across engines and partitionings; top-k is TakeOrdered
    (no global sort).

    Over the orderkey layout the gated path drops the SHUFFLE_HASH hint
    (the co-bucketed merge needs no shuffle to skip), and the declined
    path joins the facts FIRST: a custkey exchange on orders before the
    fact join would discard its buckets. sf100 warm fresh-JVM on the
    layout: 15.4 s (pre-aggregated) -> 7.65 s (gate + join-first).
    """
    bucketed = bucketed_on(orders, "o_orderkey") and bucketed_on(
        lineitem, "l_orderkey"
    )
    cust = customer.where(F.col("c_mktsegment") == segment).select("c_custkey")
    ords = orders.where(F.col("o_orderdate") < F.lit(cutoff).cast("timestamp"))
    disc_pc = cents("l_extendedprice") * (100 - cents("l_discount"))
    # r15: the JOIN-FIRST rewrite (measured over the orderkey layout, same
    # selectivity argument without it): Q3's shipdate filter leaves
    # ~1.1x compression for the per-order pre-aggregation, so the
    # 134M-group hash table was overhead on rows that mostly lose the
    # segment join anyway. When the gated segment slice broadcasts, the
    # semi-filtered orders (~1/|segments| x date) hash-build against
    # the filtered lines (SHUFFLE_HASH skips sorting the big side) and
    # the aggregate hashes only the ~2% surviving rows.
    if fits(cust):
        oc = ords.join(
            F.broadcast(cust), ords["o_custkey"] == cust["c_custkey"],
            "left_semi",
        ).select("o_orderkey", "o_orderdate", "o_orderpriority")
        if not bucketed:
            oc = oc.hint("shuffle_hash")
        li = lineitem.where(
            F.col("l_shipdate") > F.lit(cutoff).cast("timestamp")
        ).select("l_orderkey", "l_extendedprice", "l_discount")
        j = oc.join(
            li, oc["o_orderkey"] == li["l_orderkey"]
        ).select(
            "l_orderkey", "o_orderdate", "o_orderpriority",
            disc_pc.alias("pc"),
        )
        return (
            j.groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
            .agg((F.sum("pc") / 10000.0).alias("revenue"))
            .select(
                "l_orderkey", "o_orderdate", "o_orderpriority", "revenue"
            )
            .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
            .limit(k)
        )
    li = (
        lineitem.where(F.col("l_shipdate") > F.lit(cutoff).cast("timestamp"))
        .groupBy("l_orderkey")
        .agg(F.sum(disc_pc).alias("rev_pc"))
    )
    by_cust = ords["o_custkey"] == cust["c_custkey"]
    by_order = ords["o_orderkey"] == li["l_orderkey"]
    if bucketed:
        j = ords.join(li, by_order).join(cust, by_cust)
    else:
        j = ords.join(cust, by_cust).join(li, by_order)
    return (
        j.select(
            "l_orderkey",
            "o_orderdate",
            "o_orderpriority",
            (F.col("rev_pc") / 10000.0).alias("revenue"),
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(k)
    )


def returned_item_customers(
    customer: DataFrame,
    nation: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    start: str = "1997-01-01",
    end: str = "1998-01-01",
    k: int = 20,
) -> DataFrame:
    """TPC-H Q10 shape: customers who returned the most revenue in a window.

    lineitem is pre-filtered to returns ('R') and orders to the date window
    BEFORE the fact-to-fact join — predicate pushdown keeps the shuffle to
    the small filtered slices. customer and nation broadcast.
    """
    ords = orders.where(
        (F.col("o_orderdate") >= F.lit(start).cast("timestamp"))
        & (F.col("o_orderdate") < F.lit(end).cast("timestamp"))
    )
    li = lineitem.where(F.col("l_returnflag") == "R")
    disc_pc = cents("l_extendedprice") * (100 - cents("l_discount"))
    j = (
        li.join(ords, li["l_orderkey"] == ords["o_orderkey"])
        .join(customer, ords["o_custkey"] == customer["c_custkey"])
        .join(F.broadcast(nation), customer["c_nationkey"] == nation["n_nationkey"])
    )
    return (
        j.groupBy("c_custkey", "c_name", "n_name")
        .agg((F.sum(disc_pc) / 10000.0).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(k)
    )


def late_order_priority(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """TPC-H Q4 shape: per-priority count of orders with a late shipment
    (EXISTS lineitem with l_shipdate > o_orderdate).

    Instead of a correlated EXISTS (fact-to-fact semi-join shuffling all of
    lineitem), pre-aggregate lineitem to ONE row per order — max(l_shipdate)
    — map-side partials shrink the shuffle to distinct orderkeys, and the
    correlated predicate collapses to ``max_ship > o_orderdate`` after a
    plain equi-join. Same semantics: a late line exists iff the latest line
    is late.
    """
    last_ship = lineitem.groupBy("l_orderkey").agg(
        F.max("l_shipdate").alias("max_ship")
    )
    j = orders.join(last_ship, orders["o_orderkey"] == last_ship["l_orderkey"])
    return (
        j.where(F.col("max_ship") > F.col("o_orderdate"))
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


def priority_year_grouping_sets(orders: DataFrame) -> DataFrame:
    """Explicit GROUPING SETS — {(year, priority), (priority), ()} — the
    non-hierarchical shape neither ROLLUP nor CUBE expresses (rollup's
    middle level would be (year), not (priority)).

    Same single-Exchange property as rollup/cube: Spark expands the sets
    before the shuffle, so all three levels aggregate in one pass. Labels
    coalesce to 'ALL' (cross-engine NULL-ordering hazard, as in rollup).
    """
    o = orders.withColumn("order_year", F.year("o_orderdate"))
    return (
        o.groupingSets(
            [["order_year", "o_orderpriority"], ["o_orderpriority"], []],
            "order_year",
            "o_orderpriority",
        )
        .agg(
            (F.sum(cents("o_totalprice")) / 100.0).alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .select(
            F.coalesce(F.col("order_year").cast("string"), F.lit("ALL")).alias(
                "order_year"
            ),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("o_orderpriority"),
            "revenue",
            "n_orders",
        )
        .orderBy("order_year", "o_orderpriority")
    )


def local_supplier_revenue(
    region: DataFrame,
    nation: DataFrame,
    customer: DataFrame,
    supplier: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    # default must be a name that EXISTS in the testdata (driver tables
    # use TPC-H region names): the old "REGION0" fossil silently produced
    # an empty result, and every ad-hoc Q5 timing taken with the default
    # benchmarked a no-op — the source of the irreconcilable "0.25 s vs
    # 1.7-2.2 s" readings in r6 (BASELINE.md round-7 reconciliation)
    region_name: str = "ASIA",
) -> DataFrame:
    """TPC-H Q5 shape: revenue from orders where customer and supplier sit
    in the SAME nation, per nation of one region.

    Six-table star, selectivity-first join order: region⋈nation collapse
    into ONE pre-filtered broadcast dim (≤ nations-per-region rows), which
    semi-filters customer AND supplier map-side BEFORE any fact join — the
    region predicate (1-of-R selectivity) reaches the fact shuffle instead
    of applying after it, so orders⋈lineitem moves ~1/R of the rows it used
    to. Catalyst does not reorder joins without CBO stats, so the order is
    written selective-first by hand. Customer and supplier stay data-scaled:
    their join strategy remains AQE's stats-based choice, and the shrunken
    post-filter sizes make the runtime broadcast kick in far longer
    (forcing it would still die at 100x). The customer-supplier
    co-nationality predicate rides ON the supplier join
    (c_nationkey = s_nationkey), not as a post-filter.

    Over the orderkey layout (sources/bucketing.py:write_q5_layout) the
    facts join FIRST. The selectivity-first order puts a custkey shuffle
    on orders before the fact join, and Catalyst then disables the
    bucketed scan ("Bucketed: false, disabled by query planner").
    Fact-first, the orderkey join is single-key, bucket-local and
    sorted: zero Exchange and zero Sort on either fact. When the
    region's customer KEY slice fits the gate it semi-joins into orders
    before the merge and broadcasts into the pair join. sf100 warm
    fresh-JVM on the layout: 16.08 s (wide-slice join) -> 7.70 s.
    """
    from pyspark import StorageLevel

    bucketed = bucketed_on(orders, "o_orderkey") and bucketed_on(
        lineitem, "l_orderkey"
    )
    disc_pc = cents("l_extendedprice") * (100 - cents("l_discount"))
    # one bounded broadcast dim: nations of the target region (≤25 rows)
    nat = (
        nation.join(
            F.broadcast(region.where(F.col("r_name") == region_name)),
            nation["n_regionkey"] == region["r_regionkey"],
        )
        .select("n_nationkey", "n_name")
    )

    def by_nationkey(j: DataFrame) -> DataFrame:
        # group by the bounded s_nationkey and attach n_name after the
        # aggregate (1:1 on nationkey, value-identical to grouping by name)
        agg = j.groupBy("s_nationkey").agg(
            (F.sum(disc_pc) / 10000.0).alias("revenue")
        )
        return (
            agg.join(F.broadcast(nat), agg["s_nationkey"] == nat["n_nationkey"])
            .select("n_name", "revenue")
            .orderBy(F.desc("revenue"), F.asc("n_name"))
        )

    def by_name(j: DataFrame) -> DataFrame:
        return (
            j.groupBy("n_name")
            .agg((F.sum(disc_pc) / 10000.0).alias("revenue"))
            .orderBy(F.desc("revenue"), F.asc("n_name"))
        )

    def region_customers(*cols: str) -> DataFrame:
        return customer.join(
            F.broadcast(nat), customer["c_nationkey"] == nat["n_nationkey"]
        ).select(*cols)

    # The region-filtered supplier slice (~1/|regions|, single-digit MB
    # at sf100) rides the cardinality gate: broadcast, it kills the
    # supplier shuffle and prunes lineitem to the region's lines
    # map-side before its one orderkey join (the raw supplier scan
    # exceeds the static threshold past sf10, and lineitem then shuffled
    # all 600M rows into that join: 41-44 s warm at sf100).
    # Region-filtering supplier early is semantics-preserving: the final
    # c_nationkey = s_nationkey pair condition already constrains
    # suppliers to the region's nations.
    supp = supplier.join(
        F.broadcast(nat.select("n_nationkey")),
        supplier["s_nationkey"] == nat["n_nationkey"],
    ).select("s_suppkey", "s_nationkey")
    li = lineitem.join(
        broadcast_if_fits(supp), lineitem["l_suppkey"] == supp["s_suppkey"]
    ).select("l_orderkey", "l_extendedprice", "l_discount", "s_nationkey")

    if bucketed:
        # the key slice is referenced three times per run (the gate's
        # count, the orders semi, the pair join): persist it so the
        # count warms the cache both broadcasts read
        cust_keys = region_customers("c_custkey", "c_nationkey").persist(
            StorageLevel.MEMORY_AND_DISK
        )
        if fits(cust_keys):
            ords = orders.join(
                F.broadcast(cust_keys.select("c_custkey")),
                orders["o_custkey"] == F.col("c_custkey"),
                "left_semi",
            )
            facts = ords.join(
                li, ords["o_orderkey"] == li["l_orderkey"]
            ).select("o_custkey", "s_nationkey", "l_extendedprice", "l_discount")
            j = facts.join(
                F.broadcast(cust_keys),
                (facts["o_custkey"] == cust_keys["c_custkey"])
                & (facts["s_nationkey"] == cust_keys["c_nationkey"]),
            )
            return defer_release(by_nationkey(j), cust_keys)
        cust_keys.unpersist()
        facts = orders.join(
            li, orders["o_orderkey"] == li["l_orderkey"]
        ).select("o_custkey", "s_nationkey", "l_extendedprice", "l_discount")
        cust = region_customers("c_custkey", "c_nationkey", "n_name")
        return by_name(
            facts.join(
                cust,
                (facts["o_custkey"] == cust["c_custkey"])
                & (facts["s_nationkey"] == cust["c_nationkey"]),
            )
        )

    # The region-filtered customer slice rides the cardinality gate
    # (plans/broadcast_gate.py): ~1/|regions| of customer fits the
    # budget through sf10 (~300k rows, ~26 MB est), which removes the
    # o_custkey shuffle of ORDERS entirely; at sf100 the ~3M-row slice
    # (~264 MB est) exceeds the 256 MiB budget. It is referenced twice
    # per run (the gate's count + the join broadcast), so it is
    # persisted and the count doubles as the cache-warmer. Bounded: the
    # 1-of-|regions| slice is what the broadcast budget admits.
    cust_wide = region_customers("c_custkey", "c_nationkey", "n_name").persist(
        StorageLevel.MEMORY_AND_DISK
    )
    wide_fits = fits(cust_wide)
    # SHUFFLE_HASH on the region-filtered orders side of the fact join:
    # the SMJ here sorted all of lineitem just to merge; hashing the
    # ~1/R orders slice instead skips both Sorts. A/B (value-equal
    # asserted): sf1 1.21->1.12 s, sf10 5.0->3.6 s. Scale-safe: the
    # build side shuffles on orderkey across autoscale_shuffle's
    # input-sized partition count, so per-task build state is bounded by
    # BYTES_PER_SHUFFLE_PARTITION at any input volume, and AQE skew
    # splitting applies to SHJ as it does to SMJ.
    cust_keys = region_customers("c_custkey", "c_nationkey")
    if not wide_fits and fits(cust_keys):
        # the wide slice is over budget but its two-bigint KEY projection
        # (~40 B/row vs ~88; sf100 ~120 MB) fits: broadcast the keys —
        # the custkey shuffle of orders vanishes. This path never reads
        # the wide slice, so release it now.
        cust_wide.unpersist()
        oc = orders.join(
            F.broadcast(cust_keys), orders["o_custkey"] == cust_keys["c_custkey"]
        ).select("o_orderkey", "c_nationkey").hint("shuffle_hash")
        return by_nationkey(
            oc.join(
                li,
                (oc["o_orderkey"] == li["l_orderkey"])
                & (oc["c_nationkey"] == li["s_nationkey"]),
            )
        )
    cust = F.broadcast(cust_wide) if wide_fits else cust_wide
    oc = orders.join(cust, orders["o_custkey"] == cust["c_custkey"]).hint(
        "shuffle_hash"
    )
    j = oc.join(
        li,
        (oc["o_orderkey"] == li["l_orderkey"])
        & (oc["c_nationkey"] == li["s_nationkey"]),
    )
    # the returned plan reads the cached slice — tag it for deterministic
    # release by the caller after its action
    return defer_release(by_name(j), cust_wide)


def promo_revenue_share(
    part: DataFrame,
    lineitem: DataFrame,
    start: str = "1997-01-01",
    end: str = "1997-04-01",
) -> DataFrame:
    """TPC-H Q14 shape: fraction of revenue from PROMO parts in a window.

    One broadcast join (part is a dimension) + conditional aggregation —
    numerator and denominator in a single pass, no second scan. The share
    divides two exact integer cents*1e2 sums, so the double is identical
    cross-engine.

    Over the partkey layout (sources/bucketing.py:write_partkey_layout)
    part is NOT force-broadcast: |part| grows with the fact (2M rows at
    sf10), and co-bucketed on partkey the join is a bucket-local merge
    with no hash-table build and no exchange. sf10 A/B (value-equal
    asserted): warm 1.21 -> 1.08 s.
    """
    co_bucketed = bucketed_on(lineitem, "l_partkey") and bucketed_on(
        part, "p_partkey"
    )
    li = lineitem.where(
        (F.col("l_shipdate") >= F.lit(start).cast("timestamp"))
        & (F.col("l_shipdate") < F.lit(end).cast("timestamp"))
    )
    disc_pc = cents("l_extendedprice") * (100 - cents("l_discount"))
    dim = part if co_bucketed else F.broadcast(part)
    j = li.join(dim, li["l_partkey"] == part["p_partkey"])
    return j.agg(
        (
            F.sum(F.when(F.col("p_type") == "PROMO", disc_pc).otherwise(F.lit(0)))
            * 100.0
            / F.sum(disc_pc)
        ).alias("promo_pct"),
        (F.sum(disc_pc) / 10000.0).alias("total_revenue"),
    )


def fuzzy_name_pairs(
    part: DataFrame,
    max_distance: int = 2,
    name_col: str = "p_name",
    id_col: str = "p_partkey",
) -> DataFrame:
    """Entity-resolution style fuzzy self-match: pairs of parts whose names
    are within ``max_distance`` edits (Levenshtein, JVM built-in).

    Edit distance can't be hash-joined, so the crucial part is BLOCKING.
    The candidate SEMANTICS are: share the first character and have lengths
    within ``max_distance`` (necessary-condition pruning; strings whose
    first characters differ are declared non-candidates — the standard
    blocking trade-off, documented and oracle-matched). The PHYSICAL key is
    finer than the semantics: ``(first_char, length div (max_distance+1))``
    with the probe side exploded to the 3 adjacent length bands. Any pair
    within the length tolerance differs by at most one band, so it meets
    EXACTLY ONCE (at the build side's band — no distinct needed) and no
    candidate is ever lost: results are value-identical to first-char
    blocking while per-block cardinality drops from n/sigma to
    n/(sigma x L/(d+1)) and the number of blocks grows with the observed
    length spread instead of saturating at the alphabet size. (The
    escalation for web-scale names is k-deletion prefix neighborhoods —
    :func:`fuzzy_name_pairs_fastss` below, value-identical by test — whose
    key space grows with the prefix vocabulary instead of the alphabet.)
    """
    width = max_distance + 1
    sel = part.select(
        F.col(id_col).alias("id"),
        F.col(name_col).alias("nm"),
        F.substring(name_col, 1, 1).alias("blk"),
        F.length(name_col).alias("ln"),
        (F.length(name_col) / width).cast("bigint").alias("lb"),
    )
    a = sel.select(
        "*", F.explode(F.array(F.col("lb") - 1, F.col("lb"), F.col("lb") + 1)).alias("pb")
    ).alias("a")
    b = sel.alias("b")
    # THRESHOLDED levenshtein (3-arg, Spark 3.5+): the DP early-exits as
    # soon as the bound is exceeded — on the dominant non-matching pairs
    # this is the bulk of the query's CPU — and returns -1 past the bound,
    # so the surviving value IS the distance (computed once, no re-run on
    # the projection).
    d = F.levenshtein(F.col("a.nm"), F.col("b.nm"), max_distance)
    return (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.pb") == F.col("b.lb"))
            & (F.col("a.id") < F.col("b.id"))
            & (F.abs(F.col("a.ln") - F.col("b.ln")) <= max_distance),
        )
        .select(
            F.col("a.id").alias("id_1"),
            F.col("b.id").alias("id_2"),
            F.col("a.nm").alias("name_1"),
            F.col("b.nm").alias("name_2"),
            d.cast("int").alias("distance"),
        )
        .where(F.col("distance") >= 0)
        .orderBy("id_1", "id_2")
    )


def fuzzy_name_pairs_fastss(
    part: DataFrame,
    max_distance: int = 2,
    name_col: str = "p_name",
    id_col: str = "p_partkey",
    prefix_len: int = 4,
) -> DataFrame:
    """FastSS-style candidate blocking for the same fuzzy-match semantics
    as :func:`fuzzy_name_pairs` (value-identical, pinned in tests).

    Block keys are the DELETION NEIGHBORHOOD of the name's ``prefix_len``
    prefix: every variant obtainable by deleting up to ``max_distance``
    characters. Two strings within ``max_distance`` edits always share at
    least one variant (a substitution costs one deletion on each side, an
    insertion/deletion costs one on the longer side), so recall is total;
    precision comes from the unchanged residual predicate (first char,
    length band, thresholded levenshtein). Key space is the prefix
    vocabulary x deletion masks — it grows with the DATA's prefix
    diversity, not the alphabet, which is the web-scale answer to
    first-char blocking's 26-block ceiling. Candidates can meet through
    several shared variants, so pairs are distinct-ed BEFORE the
    levenshtein residual runs (each pair scored once).
    """
    from itertools import combinations

    # all retained-position masks for <= max_distance deletions of a
    # prefix_len-char string, as concat() column factories
    def variant(px, keep):  # px: Column of the prefix
        return F.concat_ws(
            "", *[F.substring(px, i + 1, 1) for i in keep]
        )

    sel = part.select(
        F.col(id_col).alias("id"),
        F.col(name_col).alias("nm"),
        F.substring(name_col, 1, 1).alias("c1"),
        F.length(name_col).alias("ln"),
        F.substring(name_col, 1, prefix_len).alias("px"),
    )
    keeps = []
    for d in range(max_distance + 1):
        keeps += [
            [i for i in range(prefix_len) if i not in cut]
            for cut in combinations(range(prefix_len), d)
        ]
    keyed = sel.select(
        "id", "nm", "c1", "ln",
        F.explode(
            F.array_distinct(F.array(*[variant(F.col("px"), k) for k in keeps]))
        ).alias("bk"),
    )
    a, b = keyed.alias("a"), keyed.alias("b")
    cand = (
        a.join(b, (F.col("a.bk") == F.col("b.bk")) & (F.col("a.id") < F.col("b.id")))
        .where(
            (F.col("a.c1") == F.col("b.c1"))
            & (F.abs(F.col("a.ln") - F.col("b.ln")) <= max_distance)
        )
        .select(
            F.col("a.id").alias("id_1"),
            F.col("b.id").alias("id_2"),
            F.col("a.nm").alias("name_1"),
            F.col("b.nm").alias("name_2"),
        )
        .distinct()
    )
    d = F.levenshtein(F.col("name_1"), F.col("name_2"), max_distance)
    return (
        cand.select("id_1", "id_2", "name_1", "name_2", d.cast("int").alias("distance"))
        .where(F.col("distance") >= 0)
        .orderBy("id_1", "id_2")
    )


def large_volume_customers(
    customer: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    min_qty: int = 300,
    k: int = 10,
) -> DataFrame:
    """TPC-H Q18 shape: customers behind the largest-quantity orders.

    The HAVING is evaluated on the lineitem pre-aggregate BEFORE any
    other join (one fact shuffle on orderkey, integer-cents quantities),
    so the surviving order set is tiny and AQE broadcasts it through
    the orders and customer joins — the full Q18 semi-join pyramid
    costs one data-scaled shuffle. Top-k is TakeOrdered with an
    (o_totalprice DESC, o_orderkey ASC) deterministic tie-break.
    """
    big = (
        lineitem.groupBy("l_orderkey")
        .agg(F.sum(cents("l_quantity")).alias("qty_c"))
        .where(F.col("qty_c") > min_qty * 100)
    )
    j = orders.join(big, orders["o_orderkey"] == big["l_orderkey"]).join(
        customer, orders["o_custkey"] == customer["c_custkey"]
    )
    return (
        j.select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            (cents("o_totalprice") / 100.0).alias("o_totalprice"),
            (F.col("qty_c") / 100.0).alias("total_qty"),
        )
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(k)
    )


def waiting_suppliers(
    orders: DataFrame,
    lineitem: DataFrame,
    supplier: DataFrame,
    k: int = 10,
) -> DataFrame:
    """TPC-H Q21 shape (suppliers who kept multi-supplier orders
    waiting), adapted to this schema's late convention (l_shipdate >
    o_orderdate, as in :func:`late_order_priority` — the testdata
    carries no commit/receipt dates).

    Q21's correlated EXISTS / NOT EXISTS pair is re-expressed as
    AGGREGATION — the Spark-native translation: per (order, supplier)
    compute lateness once (max shipdate vs the order date), then per
    order count suppliers and late suppliers; the qualifying rows are
    exactly "late AND n_supp >= 2 AND n_late == 1" (sole late supplier
    on a multi-supplier order — EXISTS another supplier, NOT EXISTS
    another LATE one). Top-k is TakeOrdered on (numwait DESC, s_name ASC).

    r16 optimization round: the per-order stats ride an UNORDERED window
    over the (order, supplier) aggregate instead of a second groupBy +
    semi-join-back. The old diamond referenced ``per`` twice, and with
    no common-subexpression reuse across the two consumers the
    lineitem⋈orders join and the first aggregation executed TWICE
    (before-plan: lineitem/orders each scanned twice). The window needs
    exactly the clustering the aggregate already produced (orderkey is a
    subset of the group key), so it adds no Exchange — the q17
    correlated-window precedent (relational.py small_quantity_revenue).
    Window-vs-aggregate equivalence: n_supp = count(*) over the orderkey
    partition and n_late = sum(late) over it are the same numbers the
    ostats join-back attached; the late/n_supp/n_late filter then keeps
    identical rows."""
    lo = lineitem.join(
        orders.select("o_orderkey", "o_orderdate"),
        lineitem["l_orderkey"] == orders["o_orderkey"],
    )
    per = lo.groupBy("l_orderkey", "l_suppkey").agg(
        F.max("l_shipdate").alias("ms"),
        F.max("o_orderdate").alias("od"),
    ).withColumn("late", (F.col("ms") > F.col("od")).cast("int"))
    w = Window.partitionBy("l_orderkey")
    qual = (
        per.withColumn("n_supp", F.count(F.lit(1)).over(w))
        .withColumn("n_late", F.sum("late").over(w))
        .where(
            (F.col("late") == 1)
            & (F.col("n_supp") >= 2)
            & (F.col("n_late") == 1)
        )
    )
    counts = qual.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).alias("numwait")
    )
    return (
        counts.join(supplier, counts["l_suppkey"] == supplier["s_suppkey"])
        .select("s_name", "numwait")
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(k)
    )


def customer_order_distribution(
    customer: DataFrame, orders: DataFrame
) -> DataFrame:
    """TPC-H Q13 shape: the distribution of customers by order count —
    INCLUDING zero-order customers, which is what makes this the outer-
    join coverage row (an inner join silently drops the c_count=0
    bucket, the single most business-relevant bar of the histogram).

    Plan: pre-aggregate orders per custkey (fact shuffle carries one
    row per customer, the _orders_per_customer lesson), LEFT join from
    customer so missing customers surface as NULL -> 0, then the
    second aggregation runs on a |distinct counts|-bounded key space.
    """
    per_cust = orders.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    j = customer.select("c_custkey").join(
        per_cust, customer["c_custkey"] == per_cust["o_custkey"], "left"
    )
    return (
        j.select(F.coalesce("n_orders", F.lit(0)).alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .select(F.col("c_count").cast("bigint").alias("c_count"), "custdist")
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


def forecast_revenue(
    lineitem: DataFrame,
    start: str = "1996-01-01",
    end: str = "1997-01-01",
    disc_lo_c: int = 5,
    disc_hi_c: int = 7,
    max_qty: int = 24,
) -> DataFrame:
    """TPC-H Q6 shape: revenue increase from dropping small discounts.

    The whole query is ONE scan: every predicate (shipdate window,
    discount band, quantity cap) references scan columns only, so
    Catalyst pushes all three into the parquet reader and min/max
    row-group stats prune date ranges for free — the canonical
    "filter-then-agg, zero shuffles beyond the final single-row
    combine" plan. Revenue is an exact integer cents*cents sum
    (extendedprice_c * discount_c, 1e-4 dollars), divided once.
    The discount band compares integer cents (``round(x*100)``), not
    raw doubles — 0.07 is not exactly representable, and a raw
    ``BETWEEN 0.05 AND 0.07`` drops the top band edge differently per
    engine.
    """
    li = lineitem.where(
        (F.col("l_shipdate") >= F.lit(start).cast("timestamp"))
        & (F.col("l_shipdate") < F.lit(end).cast("timestamp"))
        & cents("l_discount").between(disc_lo_c, disc_hi_c)
        & (F.col("l_quantity") < max_qty)
    )
    return li.agg(
        (F.sum(cents("l_extendedprice") * cents("l_discount")) / 10000.0)
        .alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


def latency_mode_priority(
    orders: DataFrame,
    lineitem: DataFrame,
    slow_days: int = 75,
    start: str = "1996-01-01",
    end: str = "1998-01-01",
) -> DataFrame:
    """TPC-H Q12 shape: order-priority mix per shipping class.

    The testdata carries no l_shipmode / commit / receipt dates, so the
    two-valued "mode" is DERIVED: a lineitem ships SLOW when it leaves
    more than ``slow_days`` after the order date, FAST otherwise —
    preserving Q12's real obligations: a fact-fact equi-join, a
    CASE-inside-SUM conditional aggregation (high-priority vs low) and
    a tiny output keyed by the derived class. One orderkey shuffle; the
    shipdate window is pushed to the lineitem scan before the join.
    """
    li = lineitem.where(
        (F.col("l_shipdate") >= F.lit(start).cast("timestamp"))
        & (F.col("l_shipdate") < F.lit(end).cast("timestamp"))
    ).select("l_orderkey", "l_shipdate")
    j = li.join(
        orders.select("o_orderkey", "o_orderdate", "o_orderpriority"),
        li["l_orderkey"] == orders["o_orderkey"],
    )
    mode = F.when(
        F.datediff(F.col("l_shipdate"), F.col("o_orderdate")) > slow_days,
        F.lit("SLOW"),
    ).otherwise(F.lit("FAST"))
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        j.select(mode.alias("ship_class"), high.alias("is_high"))
        .groupBy("ship_class")
        .agg(
            F.sum(F.when(F.col("is_high"), 1).otherwise(0)).alias(
                "high_line_count"
            ),
            F.sum(F.when(F.col("is_high"), 0).otherwise(1)).alias(
                "low_line_count"
            ),
        )
        .orderBy("ship_class")
    )


#: Q19's disjunctive (brand, size band, quantity band) triples — module
#: level so the Spark operator and the registry oracle share one source
#: of truth for the adapted bands (p_container does not exist here).
Q19_BANDS = (
    ("Brand#1", 1, 15, 1, 20),
    ("Brand#2", 10, 30, 10, 30),
    ("Brand#3", 20, 50, 20, 40),
)


def disjunctive_band_revenue(
    part: DataFrame,
    lineitem: DataFrame,
    bands: tuple = Q19_BANDS,
) -> DataFrame:
    """TPC-H Q19 shape: discounted revenue under an OR of (brand,
    size-band, quantity-band) predicates.

    Q19 is THE disjunctive-pushdown row: naively the OR straddles the
    join, so nothing prunes. Two things restore pruning: (1) the
    part side is pre-filtered to the union of band brands (every
    disjunct requires one of them) so the dimension scan prunes on
    p_brand; (2) the quantity range [min(lo), max(hi)] across bands is
    a necessary condition pushed to the lineitem scan. The exact
    disjunction then evaluates post-join inside codegen.

    The brand slice is dimension-derived but its STATIC estimate is the
    pre-filter file size, so past sf10 the planner refuses the broadcast
    and the fact takes a full shuffle (sf100: 53.8 s vs 7.0 s measured
    best — tools/tpch_sweep_sf100.json). The cardinality gate counts the
    slice driver-side and broadcasts it only when it actually fits
    (plans/broadcast_gate.py) — at sf100 the 3-brand slice is ~2.4M rows
    (~200 MB est), inside the 256 MiB budget; a hypothetical 1000x
    dimension would fail the gate and keep today's shuffle plan.
    """
    brands = sorted({b for b, *_ in bands})
    qlo = min(b[3] for b in bands)
    qhi = max(b[4] for b in bands)
    p = broadcast_if_fits(
        part.where(F.col("p_brand").isin(*brands)).select(
            "p_partkey", "p_brand", "p_size"
        )
    )
    li = lineitem.where(F.col("l_quantity").between(qlo, qhi))
    j = li.join(p, li["l_partkey"] == p["p_partkey"])
    cond = None
    for brand, slo, shi, blo, bhi in bands:
        c = (
            (F.col("p_brand") == brand)
            & F.col("p_size").between(slo, shi)
            & F.col("l_quantity").between(blo, bhi)
        )
        cond = c if cond is None else (cond | c)
    disc_pc = cents("l_extendedprice") * (100 - cents("l_discount"))
    return j.where(cond).agg(
        (F.sum(disc_pc) / 10000.0).alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


def sales_opportunity(
    customer: DataFrame,
    orders: DataFrame,
    since: str = "2000-01-01",
    n_groups: int = 5,
) -> DataFrame:
    """TPC-H Q22 shape: well-funded customers gone quiet, by country.

    The schema has no c_phone, and every customer has SOME order, so
    the adaptation keeps all three of Q22's structural obligations on
    live data: (1) a scalar subquery — average balance over customers
    with positive balance — broadcast-crossed into the row filter;
    (2) an ANTI join against orders placed since ``since`` (the
    "no recent orders" correlate of Q22's NOT EXISTS); (3) a final
    group-agg on a derived country code (nationkey mod ``n_groups``).
    The anti join's right side is pre-filtered and projected to one
    column before the shuffle; the scalar is one row (explicit
    broadcast is safe by construction).
    """
    avg_bal = customer.where(F.col("c_acctbal") > 0).agg(
        (F.sum(cents("c_acctbal")) / F.count(F.lit(1))).alias("avg_bal_c")
    )
    recent = orders.where(
        F.col("o_orderdate") >= F.lit(since).cast("timestamp")
    ).select("o_custkey")
    return (
        customer.join(F.broadcast(avg_bal))
        .where(cents("c_acctbal") > F.col("avg_bal_c"))
        .join(recent, customer["c_custkey"] == recent["o_custkey"], "left_anti")
        .select(
            (F.col("c_nationkey") % n_groups).alias("cntrycode"),
            cents("c_acctbal").alias("bal_c"),
        )
        .groupBy("cntrycode")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            (F.sum("bal_c") / 100.0).alias("totacctbal"),
        )
        .orderBy("cntrycode")
    )


def volume_shipping(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    region: DataFrame,
    region_a: str = "ASIA",
    region_b: str = "EUROPE",
    start: str = "1996-01-01",
    end: str = "1998-01-01",
) -> DataFrame:
    """TPC-H Q7 shape: bilateral trade volume by year between two
    geographies, adapted from nation pairs to REGION pairs (the
    testdata's 150 customers spread over 25 nations make any single
    nation pair empty at sf0.001; regions keep the directional-pair
    semantics on live data).

    Plan shape: the fact table resolves its supplier geography and its
    customer geography through two independent dimension chains —
    supplier->nation->region on the lineitem side, customer->nation->
    region on the orders side — then keeps only the two directed
    pairs. Both chains are bounded-dimension broadcasts (nation 25
    rows, region 5); the only data-scaled shuffle is the
    lineitem-orders orderkey join. The pair filter applies to each
    side's region BEFORE the fact join (each side keeps rows in
    {region_a, region_b}), shrinking both shuffle inputs; the exact
    directed-pair predicate evaluates post-join in codegen.
    """
    # both geography maps ride the cardinality gate (r14): the supplier
    # side fits at every measured SF (sf100 ~400k rows, ~29 MB est); the
    # customer side fits through sf10 (~43 MB) and exceeds the budget at
    # sf100 (~6M rows, ~430 MB est) where the gate falls back to the
    # keyed-shuffle plan — the per-scale adaptivity is the point.
    geo_s = broadcast_if_fits(
        supplier.join(
            F.broadcast(nation),
            supplier["s_nationkey"] == nation["n_nationkey"],
        )
        .join(F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"])
        .where(F.col("r_name").isin(region_a, region_b))
        .select("s_suppkey", F.col("r_name").alias("supp_region"))
    )
    geo_c = broadcast_if_fits(
        customer.join(
            F.broadcast(nation),
            customer["c_nationkey"] == nation["n_nationkey"],
        )
        .join(F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"])
        .where(F.col("r_name").isin(region_a, region_b))
        .select("c_custkey", F.col("r_name").alias("cust_region"))
    )
    li = lineitem.where(
        (F.col("l_shipdate") >= F.lit(start).cast("timestamp"))
        & (F.col("l_shipdate") < F.lit(end).cast("timestamp"))
    )
    j = (
        li.join(geo_s, li["l_suppkey"] == geo_s["s_suppkey"])
        .join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(geo_c, orders["o_custkey"] == geo_c["c_custkey"])
        .where(
            (
                (F.col("supp_region") == region_a)
                & (F.col("cust_region") == region_b)
            )
            | (
                (F.col("supp_region") == region_b)
                & (F.col("cust_region") == region_a)
            )
        )
    )
    disc_pc = cents("l_extendedprice") * (100 - cents("l_discount"))
    return (
        j.groupBy(
            "supp_region", "cust_region", F.year("l_shipdate").alias("l_year")
        )
        .agg((F.sum(disc_pc) / 10000.0).alias("revenue"))
        .orderBy("supp_region", "cust_region", "l_year")
    )


def market_share(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    supplier: DataFrame,
    part: DataFrame,
    nation: DataFrame,
    region: DataFrame,
    supp_region: str = "ASIA",
    market_region: str = "EUROPE",
    p_type: str = "STANDARD",
) -> DataFrame:
    """TPC-H Q8 shape: one geography's share of a market, by order year
    (supplier NATION lifted to supplier REGION — same sparsity reason
    as :func:`volume_shipping`).

    The share divides two sums over the SAME joined row set — a
    CASE-gated numerator inside the denominator's aggregation, one
    pass, no self-join. Both are exact integer cents*1e2 sums, so the
    double division is bit-identical cross-engine (zero numerators
    stay exactly 0.0). The part filter (p_type) prunes the fact join
    through the partkey dimension first; the market filter prunes the
    customer chain before the orders join.

    The p_type slice (1-of-|types| of part; sf100 ~3.3M single-key rows,
    ~79 MB est) and the supplier-region map (|supplier| rows, bounded by
    the dimension not the fact) both ride the cardinality gate — their
    static estimates block the broadcast their runtime sizes earn, and
    without it BOTH fact joins shuffle 600M rows at sf100 (92.9 s,
    tools/tpch_sweep_sf100.json). The orders semi-join stays a keyed
    shuffle on purpose: it is data-scaled (~1/|regions| of orders).

    Over the orderkey layout the lineitem-orders join, the one
    data-scaled exchange left once every slice is gated, is a
    bucket-local merge. sf100 warm fresh-JVM: 17.05 s (gated plain) ->
    12.38 s on the layout.
    """
    p = broadcast_if_fits(
        part.where(F.col("p_type") == p_type).select("p_partkey")
    )
    geo_s = (
        supplier.join(
            F.broadcast(nation),
            supplier["s_nationkey"] == nation["n_nationkey"],
        )
        .join(F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"])
        .select("s_suppkey", F.col("r_name").alias("supp_region"))
    )
    geo_s = broadcast_if_fits(geo_s)
    # The market-region customer key slice rides the gate too (sf100:
    # ~3M single-key rows, ~72 MB est): broadcasting it makes the
    # orders semi-join map-side, so orders is never shuffled on custkey.
    mkt_slice = (
        customer.join(
            F.broadcast(nation),
            customer["c_nationkey"] == nation["n_nationkey"],
        )
        .join(F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"])
        .where(F.col("r_name") == market_region)
        .select("c_custkey")
    )
    mkt_c = broadcast_if_fits(mkt_slice)
    # The fact join keeps an explicit hint: without one the static
    # estimator broadcasts the (orders ⋈ market-customers) subtree — a
    # DATA-SCALED intermediate (≈1/|regions| of orders) hiding a
    # shuffle, the exact misplan class tools/plan_audit.py exists to
    # catch. SHUFFLE_HASH (r14, the Q5 precedent): both sides still
    # shuffle on orderkey, but the ~1/R orders slice hash-builds
    # instead of BOTH sides sorting — per-task build state is bounded
    # by the input-scaled partition count, and AQE skew-splitting
    # applies to SHJ as to SMJ. Over the orderkey layout the merge is
    # bucket-local and needs no hint while the slice broadcasts (the
    # semi join then keeps the buckets); when the gate declines it, a
    # MERGE hint pins the bucket-local sort-merge against that misplan.
    o = orders.join(
        mkt_c, orders["o_custkey"] == mkt_c["c_custkey"], "left_semi"
    ).select("o_orderkey", "o_orderdate")
    if not (
        bucketed_on(orders, "o_orderkey") and bucketed_on(lineitem, "l_orderkey")
    ):
        o = o.hint("shuffle_hash")
    elif not fits(mkt_slice):
        o = o.hint("merge")
    j = (
        lineitem.join(p, lineitem["l_partkey"] == p["p_partkey"])
        .join(geo_s, lineitem["l_suppkey"] == geo_s["s_suppkey"])
        .join(o, lineitem["l_orderkey"] == o["o_orderkey"])
    )
    disc_pc = cents("l_extendedprice") * (100 - cents("l_discount"))
    num = F.sum(
        F.when(F.col("supp_region") == supp_region, disc_pc).otherwise(F.lit(0))
    )
    den = F.sum(disc_pc)
    return (
        j.groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            (num / den).alias("mkt_share"),
            (den / 10000.0).alias("total_volume"),
        )
        .orderBy("o_year")
    )


def product_type_profit(
    lineitem: DataFrame,
    orders: DataFrame,
    supplier: DataFrame,
    part: DataFrame,
    nation: DataFrame,
    name_token: str = "widget",
) -> DataFrame:
    """TPC-H Q9 shape: profit on a product family by supplier nation
    and order year. The schema has no partsupp/ps_supplycost, so unit
    cost is proxied by p_retailprice — profit per lineitem =
    extendedprice*(1-discount) - retailprice*quantity, both terms at
    the exact 1e-4-dollar integer scale, so the aggregate is
    associative and cross-engine exact (negative profits included).

    Q9's structural load is the five-way star with a substring filter
    on the part name: the p_name LIKE prunes the part dimension before
    its fact join; nation stays a bounded broadcast; the two
    data-scaled shuffles (partkey, orderkey) are unavoidable and keyed
    on the fact's own columns.
    """
    # both slices ride the cardinality gate (r14): the name slice is
    # ~1/8 of part (sf100 ~2.5M rows, ~100 MB est) and the supplier
    # geography map is dimension-bounded (~1M rows, ~72 MB est) — their
    # static estimates (pre-filter file size / join output) blocked the
    # broadcasts and both of these fact joins shuffled 600M rows at
    # sf100.
    p = broadcast_if_fits(
        part.where(F.col("p_name").contains(name_token)).select(
            "p_partkey", "p_retailprice"
        )
    )
    sn = broadcast_if_fits(
        supplier.join(
            F.broadcast(nation), supplier["s_nationkey"] == nation["n_nationkey"]
        ).select("s_suppkey", "n_name")
    )
    amount_e4 = cents("l_extendedprice") * (100 - cents("l_discount")) - cents(
        "p_retailprice"
    ) * cents("l_quantity")
    j = (
        lineitem.join(p, lineitem["l_partkey"] == p["p_partkey"])
        .join(sn, lineitem["l_suppkey"] == sn["s_suppkey"])
        .join(
            orders.select("o_orderkey", "o_orderdate"),
            lineitem["l_orderkey"] == orders["o_orderkey"],
        )
    )
    return (
        j.select(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
            amount_e4.alias("amount_e4"),
        )
        .groupBy("nation", "o_year")
        .agg((F.sum("amount_e4") / 10000.0).alias("sum_profit"))
        .orderBy("nation", F.desc("o_year"))
    )


def top_supplier(
    lineitem: DataFrame,
    supplier: DataFrame,
    start: str = "1996-01-01",
    end: str = "1996-04-01",
) -> DataFrame:
    """TPC-H Q15 shape: the supplier(s) with maximum revenue over a
    quarter — Q15's CREATE VIEW + scalar-max subquery re-expressed as
    one revenue aggregate reused for both the max and the equality
    filter (Spark's lazy DAG shares the subtree; no view machinery
    needed).

    The max-revenue filter compares EXACT integer 1e-4-dollar sums —
    never the divided double — so ties and the winner set are
    identical cross-engine. The scalar max rides a whole-partition
    window over the ALREADY-AGGREGATED per-supplier revenue (bounded
    by |suppliers|, never by |lineitem|) instead of a second agg over
    the shared subtree: Catalyst does NOT ReusedExchange the
    scalar-max formulation (verified sf10/sf100 plans, r16 — the fact
    table was scanned and aggregated twice, the whole 2.05x gap), so
    single-scan-ness must be structural, not an optimizer favor.
    Supplier joins after the filter, when only the winner row(s)
    remain.
    """
    rev = (
        lineitem.where(
            (F.col("l_shipdate") >= F.lit(start).cast("timestamp"))
            & (F.col("l_shipdate") < F.lit(end).cast("timestamp"))
        )
        .groupBy("l_suppkey")
        .agg(
            F.sum(cents("l_extendedprice") * (100 - cents("l_discount")))
            .alias("rev_e4")
        )
    )
    winners = rev.withColumn(
        "max_rev_e4", F.max("rev_e4").over(Window.partitionBy())
    ).where(F.col("rev_e4") == F.col("max_rev_e4"))
    return (
        winners.join(supplier, winners["l_suppkey"] == supplier["s_suppkey"])
        .select(
            "s_suppkey",
            "s_name",
            (F.col("rev_e4") / 10000.0).alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


def min_cost_supplier(
    lineitem: DataFrame,
    supplier: DataFrame,
    part: DataFrame,
    nation: DataFrame,
    region: DataFrame,
    region_name: str = "EUROPE",
    max_size: int = 25,
) -> DataFrame:
    """TPC-H Q2 shape: the cheapest regional supplier per part. The
    schema has no partsupp, so the supply-cost table is DERIVED from
    observed trades: per (part, supplier) the minimum unit price ever
    charged, in exact integer MILLI-dollars (price_c*10 floor-divided
    by quantity_c — floor division of positive ints is engine-stable,
    unlike a double divide whose rounding the join-back equality would
    then have to survive).

    Q2's structural load — a correlated min subquery re-joined on
    (partkey, min) equality — becomes: one (part, supplier) aggregate,
    a per-part min over the regional subset, and an equi-join back on
    the exact integers. The regional filter prunes the supplier side
    through bounded dimension broadcasts BEFORE the cost aggregate, so
    the min is computed only over rows that can win.

    r13 measured-and-rejected: swapping both merge hints for
    SHUFFLE_HASH (skip the SMJ sorts, still no misplan broadcast) read
    5.57 vs 5.24 s at sf10 min-of-3 interleaved — inside noise; the
    residual is the pair-aggregate shuffle itself, not the join
    algorithm. merge kept (more memory-stable on the aged JVM).

    r16 optimization round: the per-part min rides an UNORDERED window
    over the pair aggregate instead of a second groupBy + equality
    join-back. The old diamond referenced ``cost`` twice and Catalyst
    gives no reuse across its two consumers, so the lineitem semi-join
    + pair aggregate executed TWICE (before-plan: lineitem scanned
    twice, 15 scans / 9 Exchanges total). The window pays one
    |pairs|-sized Exchange on partkey — pairs-scaled, never
    fact-scaled — and the supplier-attribute join now touches only the
    WINNING pairs instead of all pairs. Equivalence: the semi-join
    already restricts pairs to regional suppliers, s_suppkey is unique
    in ``eu`` (supplier PK x single nation/region), so min-over-window
    = the old per-part min, and the equality filter keeps the same
    tied winners the join-back kept.
    """
    eu = (
        supplier.join(
            F.broadcast(nation), supplier["s_nationkey"] == nation["n_nationkey"]
        )
        .join(F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"])
        .where(F.col("r_name") == region_name)
        .select("s_suppkey", "s_acctbal", "s_name", "n_name")
    )
    # the heavy aggregate groups on the narrow (partkey, suppkey) pair
    # only — a LEFT SEMI keeps the regional filter without widening the
    # fact rows with supplier attributes; names/balances join back onto
    # the per-pair aggregate, which is |pairs|-sized, not |lineitem|-
    # sized. Measured at sf10: 9.5 s (wide keys, 3 carried strings per
    # fact row) -> 7.0 s (this form).
    pairs = (
        lineitem.join(
            # regional key slice through the cardinality gate (r14):
            # ~1/|regions| of supplier (sf100 ~200k keys, ~5 MB est) —
            # its join-derived static estimate forced an SMJ that
            # shuffled all of lineitem before the pair aggregate.
            broadcast_if_fits(eu.select("s_suppkey")),
            lineitem["l_suppkey"] == F.col("s_suppkey"),
            "left_semi",
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(
            F.min(
                F.expr(
                    "cast(round(l_extendedprice * 100) as bigint) * 10"
                    " div cast(round(l_quantity * 100) as bigint)"
                )
            ).alias("unit_milli")
        )
    )
    w = Window.partitionBy("l_partkey")
    winners = pairs.withColumn(
        "min_milli", F.min("unit_milli").over(w)
    ).where(F.col("unit_milli") == F.col("min_milli"))
    p = part.where(F.col("p_size") < max_size).select("p_partkey", "p_name")
    # merge hint: winners is pairs-scaled, but the static estimator
    # sees an aggregated+windowed subtree and would broadcast it — the
    # promotion_suppliers misplan class; keep the attrs join a keyed
    # shuffle (the r13 SHUFFLE_HASH A/B above applies unchanged)
    return (
        winners.hint("merge")
        .join(eu, F.col("l_suppkey") == eu["s_suppkey"])
        .join(p, F.col("l_partkey") == p["p_partkey"])
        .select(
            (cents("s_acctbal") / 100.0).alias("s_acctbal"),
            "s_name",
            "n_name",
            "p_partkey",
            "p_name",
            (F.col("unit_milli") / 1000.0).alias("unit_cost"),
        )
        .orderBy(F.desc("s_acctbal"), "s_name", "p_partkey")
    )


def important_parts(
    lineitem: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    region: DataFrame,
    region_name: str = "EUROPE",
    mult_num: int = 3,
    mult_den: int = 2,
) -> DataFrame:
    """TPC-H Q11 shape: parts holding an outsized share of a region's
    traded value. Q11's fixed fraction (0.0001/SF) scales with data
    size; here the threshold is SCALE-FREE — a part qualifies when its
    value exceeds mult_num/mult_den (default 1.5x) times the average
    per-part value — so the same constants yield rows at every SF. The
    comparison is pure integers: value_c * n_parts * mult_den >
    total_c * mult_num (both scalars come from one extra aggregate
    over the same value table; no doubles until display).

    Structure preserved from Q11: a filtered group-agg (regional
    suppliers only, pruned through bounded dimension broadcasts before
    the fact aggregate), a global scalar over THAT aggregate, and a
    HAVING comparing each group to the scalar — the scalar rides a
    one-row broadcast cross join.

    The regional supplier slice (1-of-|regions| of supplier; sf100
    ~200k single-key rows, ~5 MB est) rides the cardinality gate: its
    static estimate is a JOIN output (unbounded to the planner), so the
    semi-join planned as SMJ and shuffled all 600M fact rows even
    though AQE would have converted it AFTER the shuffle files were
    already written (sf100: 43.6 s, tools/tpch_sweep_sf100.json). With
    the gate the only fact exchange left is the partkey aggregate.
    """
    eu = broadcast_if_fits(
        supplier.join(
            F.broadcast(nation), supplier["s_nationkey"] == nation["n_nationkey"]
        )
        .join(F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"])
        .where(F.col("r_name") == region_name)
        .select("s_suppkey")
    )
    v = (
        lineitem.join(eu, lineitem["l_suppkey"] == eu["s_suppkey"], "left_semi")
        .groupBy("l_partkey")
        .agg(F.sum(cents("l_extendedprice")).alias("value_c"))
    )
    tot = v.agg(
        F.sum("value_c").alias("total_c"),
        F.count(F.lit(1)).alias("n_parts"),
    )
    return (
        v.join(F.broadcast(tot))
        .where(
            F.col("value_c") * F.col("n_parts") * F.lit(mult_den)
            > F.col("total_c") * F.lit(mult_num)
        )
        .select("l_partkey", (F.col("value_c") / 100.0).alias("part_value"))
        .orderBy(F.desc("part_value"), "l_partkey")
    )


def supplier_part_counts(
    lineitem: DataFrame,
    supplier: DataFrame,
    part: DataFrame,
    excluded_brand: str = "Brand#1",
    min_acctbal: float = 1000.0,
) -> DataFrame:
    """TPC-H Q16 shape: how many distinct suppliers serve each
    (brand, type, size) part class — with Q16's two exclusions kept
    structurally: a brand excluded by predicate (the <> filter prunes
    the part dimension scan) and a NOT-IN supplier set (suppliers
    below ``min_acctbal``, the schema's stand-in for Q16's complaint
    filter) applied as an ANTI join on the fact BEFORE the distinct
    aggregation.

    The supplier relationship is observed from lineitem (no partsupp);
    count(DISTINCT l_suppkey) per class is exact — partial distinct
    aggregation map-side, one shuffle on the class key.

    The class-ID indirection (measured sf10 min-of-3 interleaved,
    value-exact): the (brand, type, size) class space is bounded
    (O(brands x types x sizes), never data-scaled), so a dense int id broadcast onto part lets the
    distinct shuffle move (class_id, suppkey) = two ints instead of
    ~50 wide string bytes per fact row, and SHUFFLE_HASH on the part
    join (the one star whose part side CANNOT broadcast — the
    brand<>-filtered dim is ~80 MB at sf10) skips both SMJ sorts:
    9.98 -> 7.22 s (-28%); class_id without the hint 8.50 s, hint
    without class_id a wash (10.02) — both levers carry.

    Over the partkey layout the part join is a bucket-local merge: both
    broadcast prunes keep the fact's bucketing and sort order, so the
    scan-to-join pipeline has zero Exchange and zero Sort, and the hint
    (which exists to skip SMJ sorts) is dropped. The one shuffle left
    is the distinct (class_id, suppkey) pair exchange.
    """
    # the excluded-supplier key slice rides the cardinality gate (r14):
    # the anti join otherwise plans against the pre-filter supplier file
    # estimate and shuffles the fact (sf100: ~0.5M keys, ~12 MB est).
    bad = broadcast_if_fits(
        supplier.where(F.col("s_acctbal") < min_acctbal).select("s_suppkey")
    )
    p = part.where(F.col("p_brand") != excluded_brand).select(
        "p_partkey", "p_brand", "p_type", "p_size"
    )
    # MEASURED AND REJECTED (sf10): a two-stage distinct — collapsing
    # the fact to distinct (partkey, suppkey) pairs before the part
    # join — read 19.7 s vs 11.6 s for this direct form. The pre-pass
    # only pays when pairs repeat; here 60M fact rows hold 59.1M
    # distinct pairs (TPC-H spreads a part's lines across suppliers),
    # so the extra full-fact shuffle bought a 1.5% reduction. The
    # direct plan shuffles the fact once into the two-level
    # count-distinct expansion Catalyst already plans.
    # dense collision-FREE id via row_number over the sorted class set:
    # a 64-bit hash id would merge two classes' counts silently on
    # collision (ADVICE r13) — negligible odds, but the failure is
    # value-corrupting and the dense id costs nothing extra (the window
    # runs single-partition over a bounded O(brands x types x sizes)
    # table that is about to be broadcast anyway).
    classes = (
        p.select("p_brand", "p_type", "p_size")
        .distinct()
        .withColumn(
            "class_id",
            F.row_number().over(Window.orderBy("p_brand", "p_type", "p_size")),
        )
    )
    p_id = p.join(F.broadcast(classes), ["p_brand", "p_type", "p_size"]).select(
        "p_partkey", "class_id"
    )
    if not (
        bucketed_on(lineitem, "l_partkey") and bucketed_on(part, "p_partkey")
    ):
        p_id = p_id.hint("SHUFFLE_HASH")
    j = lineitem.select("l_partkey", "l_suppkey").join(
        bad, lineitem["l_suppkey"] == bad["s_suppkey"], "left_anti"
    ).join(p_id, F.col("l_partkey") == p_id["p_partkey"])
    counts = j.groupBy("class_id").agg(
        F.countDistinct("l_suppkey").alias("supplier_cnt")
    )
    return (
        counts.join(F.broadcast(classes), "class_id")
        .select("p_brand", "p_type", "p_size", "supplier_cnt")
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


def small_quantity_revenue(
    lineitem: DataFrame,
    part: DataFrame,
    brand: str = "Brand#2",
    fraction_denom: int = 5,
) -> DataFrame:
    """TPC-H Q17 shape: yearly revenue lost if sub-fifth-of-average
    quantity orders stopped. The correlated per-part average is one
    pre-aggregate joined back to the fact; the "below 1/5 of average"
    gate is INTEGER-exact — qty_c * denom * n_i < sum_qty_c_i avoids
    materializing avg as a double entirely (multiply through by the
    count instead of dividing by it).

    The brand filter prunes the part dimension before the fact scan
    (the key slice rides the cardinality gate, ~1/25 of part; sf100
    ~0.8M rows, ~19 MB est). avg_yearly divides one exact integer sum
    by 7.

    r15 ADOPTED (sf100 warm fresh-JVM, value-equal): the correlated
    per-part statistics come from ONE window over the semi-filtered
    rows instead of a groupBy re-joined to a second full fact scan —
    7.12 -> 4.58 s (1.55x the comparator). The r14 two-scan form
    gated both sides so the fact never shuffled, but it paid the
    600M-row scan TWICE; the window pays one scan plus one exchange
    of only the brand-filtered fraction (~4% of the fact — at any
    scale, shuffling 4% beats rescanning 100%). Per-partkey window
    state is bounded by lines-per-part (~30), skew-free; when the
    gate ever declines the slice, the semi join's partkey exchange
    already clusters the rows, so the window adds NO second shuffle.
    """
    p = part.where(F.col("p_brand") == brand).select("p_partkey")
    p = broadcast_if_fits(p, known_rows=counted_rows(p))
    li = lineitem.join(
        p, lineitem["l_partkey"] == p["p_partkey"], "left_semi"
    ).select(
        "l_partkey",
        cents("l_quantity").alias("qty_c"),
        cents("l_extendedprice").alias("price_c"),
    )
    w = Window.partitionBy("l_partkey")
    j = li.withColumn("sum_qty_c", F.sum("qty_c").over(w)).withColumn(
        "n_items", F.count(F.lit(1)).over(w)
    )
    small = (
        F.col("qty_c") * F.lit(fraction_denom) * F.col("n_items")
        < F.col("sum_qty_c")
    )
    return j.where(small).agg(
        (F.sum("price_c") / 100.0 / 7.0).alias("avg_yearly"),
        F.count(F.lit(1)).alias("n_small"),
    )


def promotion_suppliers(
    lineitem: DataFrame,
    supplier: DataFrame,
    part: DataFrame,
    name_token: str = "widget",
    start: str = "1996-01-01",
    end: str = "1997-01-01",
    multiple: int = 2,
) -> DataFrame:
    """TPC-H Q20 shape: suppliers positioned to run a promotion on a
    part family. Q20's availqty > 0.5 * shipped-qty gate becomes a
    peer-relative one (no partsupp): a supplier qualifies on a part
    when their shipped quantity in the window exceeds ``multiple``
    times the per-supplier average for that part — integer-exact as
    q_c * n_suppliers > total_c * multiple.

    The structural chain is Q20's nested-IN pyramid as semi-joins:
    part-name filter -> (part, supplier) pair aggregate -> per-part
    window totals -> qualifying supplier keys -> LEFT SEMI into
    supplier. Every data-scaled join is keyed; the name filter prunes
    the part scan with a pushed predicate.

    r15 ADOPTED (sf100 warm fresh-JVM, value-equal): ONE partkey
    repartition of the doubly-filtered fact slice (~1.9% of lineitem)
    feeds the pair aggregate AND the per-part window — HashPartitioning
    on partkey satisfies the (partkey, suppkey) clustering, so the pair
    groupBy, the per-part totals, and the peer comparison all run
    exchange-free on that one shuffle, replacing the r14 chain's
    pair-keyed exchange + per-part aggregate + merge-hinted join-back:
    9.44 -> 5.16 s (1.75x the comparator). Per-partkey window state is
    bounded by suppliers-per-part, skew-free. Over the partkey layout
    the bucketing IS that clustering, so the repartition is skipped and
    the pyramid down to the distinct supplier keys runs exchange-free.
    """
    # the name-slice semi join rides the cardinality gate (r14):
    # sf100 ~2.5M single-key rows, ~60 MB est — map-side semi instead
    # of a fact shuffle.
    p = broadcast_if_fits(
        part.where(F.col("p_name").contains(name_token)).select("p_partkey")
    )
    fil = (
        lineitem.where(
            (F.col("l_shipdate") >= F.lit(start).cast("timestamp"))
            & (F.col("l_shipdate") < F.lit(end).cast("timestamp"))
        )
        .join(p, lineitem["l_partkey"] == p["p_partkey"], "left_semi")
        .select(
            "l_partkey", "l_suppkey", cents("l_quantity").alias("qc")
        )
    )
    if not bucketed_on(lineitem, "l_partkey"):
        fil = fil.repartition("l_partkey")
    sq = fil.groupBy("l_partkey", "l_suppkey").agg(
        F.sum("qc").alias("q_c")
    )
    w = Window.partitionBy("l_partkey")
    qual = (
        sq.withColumn("total_c", F.sum("q_c").over(w))
        .withColumn("n_supp", F.count(F.lit(1)).over(w))
        .where(
            F.col("q_c") * F.col("n_supp")
            > F.col("total_c") * F.lit(multiple)
        )
        .select("l_suppkey")
        .distinct()
    )
    # merge hint: qual is bounded by |suppliers| — DATA-SCALED — but the
    # static estimator sees a twice-aggregated subtree and broadcasts it
    # (the r6 ngram-jaccard misplan class, flagged by plan_audit). The
    # semi join stays a keyed shuffle at any scale.
    return (
        supplier.join(
            qual.hint("merge"),
            supplier["s_suppkey"] == qual["l_suppkey"],
            "left_semi",
        )
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    )

