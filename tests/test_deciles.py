"""Decile query (compute_histogram.sql:1-3): SQL twin vs Window twin, plus
the verbatim reference SQL text executed by Spark SQL."""

from pyspark.sql import Row

from compute_histogram_spark import deciles, deciles_sql
from compute_histogram_spark.operators.deciles import quantiles

HISTO = [  # (value, pixel_count) incl. zero bins
    (0.0, 0),
    (0.1, 10),
    (0.2, 20),
    (0.3, 0),
    (0.4, 30),
    (0.5, 40),
]


def histo_df(spark):
    return spark.createDataFrame([Row(value=v, pixel_count=c) for v, c in HISTO])


def test_sql_and_window_twins_agree(spark):
    h = histo_df(spark)
    a = [tuple(r) for r in deciles_sql(h).collect()]
    b = [tuple(r) for r in deciles(h).collect()]
    assert a == b
    # totals preserved
    assert sum(r[3] for r in a) == 100


def test_reference_sql_verbatim(spark):
    # the reference file's exact text, modulo the column name `count`
    h = histo_df(spark).withColumnRenamed("pixel_count", "count")
    h.createOrReplaceTempView("histo")
    ref_sql = (
        "with s as (select sum(count) as total from histo) "
        "select pct * 10 as percentile, min(value), max(value), sum(count) as count "
        "from (select value, count, floor((sum(count) over (order by value) / total) * 10) as pct "
        "from histo, s) group by pct order by min(value)"
    )
    rows = spark.sql(ref_sql).collect()
    assert [r["percentile"] for r in rows] == sorted(r["percentile"] for r in rows)
    assert sum(r["count"] for r in rows) == 100


def test_quantiles_exact(spark):
    df = spark.createDataFrame([Row(v=float(i)) for i in range(101)])
    out = {r["p"]: r["q"] for r in quantiles(df, "v", [0.0, 0.5, 1.0]).collect()}
    assert out == {0.0: 0.0, 0.5: 50.0, 1.0: 100.0}


def test_approx_quantiles_within_accuracy(spark, sf_dir):
    from pyspark.sql import functions as F

    from compute_histogram_spark.operators import deciles as D
    from compute_histogram_spark.sources.tables import load

    ev = load(spark, sf_dir, "events")
    v = F.col("value")
    clean = ev.where(v.isNotNull() & ~F.isnan(v))
    probs = [0.1, 0.5, 0.9]
    exact = {r["p"]: r["q"] for r in D.quantiles(clean, "value", probs).collect()}
    approx = {
        r["p"]: r["q"] for r in D.approx_quantiles(clean, "value", probs).collect()
    }
    lo, hi = clean.agg(F.min(v), F.max(v)).first()
    span = hi - lo
    for p in probs:
        # KLL-style accuracy bound: rank error <= 1/accuracy; translate to a
        # loose value tolerance via the value span (distribution ~uniform)
        assert abs(approx[p] - exact[p]) <= 0.05 * span, (p, approx[p], exact[p])


def test_approx_count_distinct_within_rsd(spark, sf_dir):
    from pyspark.sql import functions as F

    from compute_histogram_spark.sources.tables import load

    ev = load(spark, sf_dir, "events")
    exact = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type")
        .agg(F.count_distinct("user_id").alias("n"))
        .collect()
    }
    approx = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type")
        .agg(F.approx_count_distinct("user_id", rsd=0.01).alias("n"))
        .collect()
    }
    for k in exact:
        # rsd 1% with ~5 sigma headroom
        assert abs(approx[k] - exact[k]) <= max(0.05 * exact[k], 2), (
            k, approx[k], exact[k],
        )


def test_fused_form_value_identical(spark, sf_dir):
    """deciles (one ordered pass, no scalar-agg + crossJoin) is
    value-identical to the reference-parity SQL form — on the synthetic
    histogram (zero bins included) AND the real events histogram at the
    test SF."""
    from compute_histogram_spark.operators.histogram import histogram
    from compute_histogram_spark.sources.tables import load

    h = histo_df(spark)
    assert [tuple(r) for r in deciles(h).collect()] == [
        tuple(r) for r in deciles_sql(h).collect()
    ]
    hr = histogram(load(spark, sf_dir, "events"), "value", "linear")
    assert [tuple(r) for r in deciles(hr).collect()] == [
        tuple(r) for r in deciles_sql(hr).collect()
    ]
