"""Value-exact checks of catalog entries outside the 50-name declared
window against their DuckDB oracles.

PINS lists the entries checked one to one; the tests written out below
build their Spark query inline and carry their oracle SQL with them.
"""

import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
from catalog_pins import add_pins, check as _check  # noqa: E402
from check_oracle import duck_connection  # noqa: E402

from compute_histogram_spark.operators import behavior as BH  # noqa: E402
from compute_histogram_spark.operators import pipeline as PL  # noqa: E402
from compute_histogram_spark.operators import relational as R  # noqa: E402
from compute_histogram_spark.registry import _SHINGLE_CTES  # noqa: E402
from compute_histogram_spark.sources.tables import load  # noqa: E402


@pytest.fixture(scope="module")
def con(sf_dir):
    return duck_connection(sf_dir)


def test_split_counts_oracle(spark, sf_dir, con):
    sdf = (
        PL.split_assign(load(spark, sf_dir, "documents"))
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
        )
        .orderBy("split")
    )
    _check("split_counts", sdf, con, """
    WITH s AS (
        SELECT n_chars,
               ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                   % 100 AS b
        FROM documents
    )
    SELECT CASE WHEN b < 80 THEN 'train'
                WHEN b < 90 THEN 'valid'
                ELSE 'test' END AS split,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars
    FROM s GROUP BY 1 ORDER BY split
    """)


def test_lang_capped_sample_oracle(spark, sf_dir, con):
    docs = load(spark, sf_dir, "documents").select("doc_id", "lang")
    sdf = PL.cap_per_group(docs, "lang", cap=30).orderBy("doc_id")
    _check("lang_capped_sample", sdf, con, """
    WITH r AS (
        SELECT doc_id, lang,
               row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
        FROM documents
    )
    SELECT doc_id, lang FROM r WHERE rn <= 30 ORDER BY doc_id
    """)


def test_doc_chunks_oracle(spark, sf_dir, con):
    sdf = PL.chunk_documents(load(spark, sf_dir, "documents")).orderBy(
        "doc_id", "chunk_id"
    )
    _check("doc_chunks", sdf, con, """
    WITH d AS (
        SELECT doc_id, string_split(text, ' ') AS toks,
               len(string_split(text, ' ')) AS n
        FROM documents
    ),
    c AS (
        SELECT doc_id, toks, n,
               unnest(generate_series(
                   0, greatest(1, ceil((n - 64) / 48.0)::INT + 1) - 1
               )) AS chunk_id
        FROM d
    )
    SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id,
           CAST(chunk_id * 48 AS INT) AS start_tok,
           CAST(least(64, n - chunk_id * 48) AS INT) AS n_chunk_tokens,
           array_to_string(
               list_slice(toks, chunk_id * 48 + 1, chunk_id * 48 + 64), ' '
           ) AS chunk_text
    FROM c ORDER BY doc_id, chunk_id
    """)


def test_contamination_report_oracle(spark, sf_dir, con):
    sdf = PL.contamination_report(load(spark, sf_dir, "documents"))
    _check("contamination_report", sdf, con, """
    WITH {shingles},
    bk AS (
        SELECT doc_id,
               ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                   % 100 AS b
        FROM documents
    ),
    tr AS (SELECT s.doc_id, md5(s.s) AS h FROM sh s
           JOIN bk ON s.doc_id = bk.doc_id WHERE bk.b < 80),
    te AS (SELECT s.doc_id, md5(s.s) AS h FROM sh s
           JOIN bk ON s.doc_id = bk.doc_id WHERE bk.b >= 90)
    SELECT te.doc_id AS test_doc_id,
           count(DISTINCT te.h) AS n_shared_shingles,
           count(DISTINCT tr.doc_id) AS n_train_docs
    FROM te JOIN tr ON te.h = tr.h
    GROUP BY te.doc_id ORDER BY test_doc_id
    """.format(shingles=_SHINGLE_CTES.strip()))


def test_pii_scrub_oracle(spark, sf_dir, con):
    sdf = PL.scrub_pii(load(spark, sf_dir, "documents"))
    _check("pii_scrub", sdf, con, r"""
    WITH ne AS (
        SELECT doc_id, text,
               regexp_replace(text,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                   '<EMAIL>', 'g') AS no_email
        FROM documents
    )
    SELECT doc_id,
           len(regexp_extract_all(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
           len(regexp_extract_all(no_email, '[0-9]{9,}')) AS n_long_numbers,
           md5(regexp_replace(no_email, '[0-9]{9,}', '<NUM>', 'g')) AS clean_md5
    FROM ne ORDER BY doc_id
    """)


def test_corpus_checksum_oracle(spark, sf_dir, con):
    sdf = PL.corpus_checksum(load(spark, sf_dir, "documents"))
    _check("corpus_checksum", sdf, con, """
    SELECT count(*) AS n_docs,
           CAST(sum(('0x' || substring(
               md5(CAST(doc_id AS VARCHAR) || ':' || text), 1, 6))::BIGINT)
             AS BIGINT) AS checksum
    FROM documents
    """)


def test_corpus_mix_counts_oracle(spark, sf_dir, con):
    mixed = PL.mix_corpus(
        load(spark, sf_dir, "documents"),
        rates={"src0": 2.5, "src1": 0.3, "src2": 0.0},
    )
    sdf = (
        mixed.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("doc_id").alias("n_docs_kept"),
        )
        .orderBy("source")
    )
    _check("corpus_mix_counts", sdf, con, """
    WITH b AS (
        SELECT doc_id, source,
               ('0x' || substring(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 8))
                   ::BIGINT % 100 AS bk
        FROM documents
    ),
    n AS (
        SELECT source,
               CASE source
                   WHEN 'src0' THEN 2 + CASE WHEN bk < 50 THEN 1 ELSE 0 END
                   WHEN 'src1' THEN CASE WHEN bk < 30 THEN 1 ELSE 0 END
                   WHEN 'src2' THEN 0
                   ELSE 1
               END AS nc
        FROM b
    )
    SELECT source, CAST(sum(nc) AS BIGINT) AS n_rows, count(*) AS n_docs_kept
    FROM n WHERE nc > 0
    GROUP BY source ORDER BY source
    """)


def test_orders_pivot_oracle(spark, sf_dir, con):
    sdf = R.orders_pivot(load(spark, sf_dir, "orders"))
    _check("orders_pivot", sdf, con, """
    SELECT CAST(year(o_orderdate) AS INT) AS order_year,
           count(*) FILTER (o_orderpriority = '1-URGENT') AS "1-URGENT",
           count(*) FILTER (o_orderpriority = '2-HIGH') AS "2-HIGH",
           count(*) FILTER (o_orderpriority = '3-MEDIUM') AS "3-MEDIUM",
           count(*) FILTER (o_orderpriority = '4-NOT SPECIFIED') AS "4-NOT SPECIFIED",
           count(*) FILTER (o_orderpriority = '5-LOW') AS "5-LOW"
    FROM orders GROUP BY 1 ORDER BY 1
    """)


def test_set_ops_users_oracle(spark, sf_dir, con):
    ev = load(spark, sf_dir, "events")
    blank = F.lit("").alias("c_name")
    i = R.users_in_both(ev, "purchase", "click").select(
        F.lit("purchase_and_click").alias("op"),
        F.col("user_id").alias("user_key"),
        blank,
    )
    x = R.users_only_in(ev, "error", "purchase").select(
        F.lit("error_not_purchase").alias("op"),
        F.col("user_id").alias("user_key"),
        blank,
    )
    lc = R.lapsed_customers(
        load(spark, sf_dir, "customer"),
        load(spark, sf_dir, "orders"),
        "2001-01-01",
    ).select(
        F.lit("lapsed_customer").alias("op"),
        F.col("c_custkey").alias("user_key"),
        F.col("c_name"),
    )
    sdf = i.unionByName(x).unionByName(lc).orderBy("op", "user_key")
    _check("set_ops_users", sdf, con, """
    WITH i AS (
        SELECT user_id FROM events WHERE event_type = 'purchase'
        INTERSECT
        SELECT user_id FROM events WHERE event_type = 'click'
    ),
    x AS (
        SELECT user_id FROM events WHERE event_type = 'error'
        EXCEPT
        SELECT user_id FROM events WHERE event_type = 'purchase'
    ),
    l AS (
        SELECT c_custkey, c_name FROM customer c
        WHERE NOT EXISTS (
            SELECT 1 FROM orders o
            WHERE o.o_custkey = c.c_custkey
              AND o.o_orderdate >= TIMESTAMP '2001-01-01 00:00:00'
        )
    )
    SELECT 'purchase_and_click' AS op, user_id AS user_key, '' AS c_name FROM i
    UNION ALL
    SELECT 'error_not_purchase' AS op, user_id AS user_key, '' AS c_name FROM x
    UNION ALL
    SELECT 'lapsed_customer' AS op, c_custkey AS user_key, c_name FROM l
    ORDER BY op, user_key
    """)


def test_cohort_retention_oracle(spark, sf_dir, con):
    sdf = BH.cohort_retention(load(spark, sf_dir, "events"))
    _check("cohort_retention", sdf, con, """
    WITH am AS (
        SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 // 7 AS wk
        FROM events
    ),
    f AS (SELECT user_id, min(wk) AS cwk FROM am GROUP BY user_id)
    SELECT cwk * 7 * 86400 AS cohort_week_start_s,
           CAST(wk - cwk AS INT) AS week_offset,
           count(DISTINCT a.user_id) AS n_users
    FROM am a JOIN f USING (user_id)
    GROUP BY cwk, wk
    ORDER BY cohort_week_start_s, week_offset
    """)


# catalog entries checked one to one against their oracles
PINS = (
    "json_props_stats", "dedup_simhash", "events_null_profile",
    "histogram_2d", "user_stats", "event_transitions", "cluster_doc_stats",
    "doc_fingerprint_md5", "top_tokens_per_lang", "similarity_topk_gemm",
    "equi_depth_histogram", "priority_year_grouping_sets",
    "similarity_topk_ivf", "fuzzy_name_pairs", "promo_revenue_share",
    "dedup_embedding", "multimodal_features", "shipping_priority",
    "similarity_topk_sq", "sessionize_salted", "asof_join_salted",
    "doc_perplexity_backoff", "paragraph_dedup", "session_concurrency",
    "robust_outliers", "rolling_user_stats", "scd2_intervals",
    "distribution_drift", "weighted_sample", "phrase_match",
    "apply_changes", "peak_concurrency", "click_attribution",
    "dedup_clusters", "bm25_topk", "token_pmi", "doc_perplexity",
    "asof_join", "range_band_join", "windowed_histogram", "sessionize",
    "conversion_funnel", "dedup_exact", "similarity_topk", "text_stats",
    "temperature_mix", "token_cms",
)
add_pins(
    globals(), PINS, "_oracle", ids={"doc_fingerprint_md5": "doc_fingerprint"}
)
