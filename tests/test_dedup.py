from pyspark.sql import Row

from compute_histogram_spark.operators import dedup as DD


def docs_df(spark):
    base = "the quick brown fox jumps over the lazy dog again and again ok"
    near = "the quick brown fox jumps over the lazy dog again and again yes"
    other = "completely different words about spark hash joins and shuffles here"
    return spark.createDataFrame(
        [
            Row(doc_id=0, text=base),
            Row(doc_id=1, text=base),   # exact dup of 0
            Row(doc_id=2, text=near),   # near dup of 0 (1 word changed)
            Row(doc_id=3, text=other),
        ]
    )


def test_exact_dedup(spark):
    out = {r["doc_id"]: r["n_copies"] for r in DD.exact_dedup(docs_df(spark)).collect()}
    assert out == {0: 2, 2: 1, 3: 1}


def test_minhash_finds_near_dups_not_distinct(spark):
    pairs = {
        (r["doc_id_1"], r["doc_id_2"])
        for r in DD.minhash_candidates(docs_df(spark)).collect()
    }
    assert (0, 1) in pairs  # identical -> identical signature -> all bands
    assert (0, 2) in pairs or (1, 2) in pairs  # near dup shares most bands
    assert not any(3 in p for p in pairs)  # unrelated doc never paired


def test_ngram_jaccard_exact_values(spark):
    out = {
        (r["doc_id_1"], r["doc_id_2"]): r["jaccard"]
        for r in DD.ngram_jaccard_pairs(docs_df(spark), threshold=0.2).collect()
    }
    assert out[(0, 1)] == 1.0
    # 13 tokens -> 11 trigrams; one word change at position 12 breaks 3 -> 8 shared
    assert 0.2 <= out[(0, 2)] < 1.0
    assert (0, 3) not in out


def test_simhash_near_dups_close(spark):
    out = {r["doc_id"]: r["simhash"] for r in DD.simhash(docs_df(spark)).collect()}
    assert out[0] == out[1]
    ham = bin(out[0] ^ out[2]).count("1")
    ham_other = bin(out[0] ^ out[3]).count("1")
    assert ham <= ham_other  # near dup at least as close as unrelated
    assert all(0 <= v < 2**16 for v in out.values())


def test_embedding_neardup_blocking(spark):
    rows = [
        Row(vec_id=0, label=0, embedding=[1.0, 0.0, 0.0]),
        Row(vec_id=1, label=0, embedding=[0.999, 0.01, 0.0]),   # same block, similar
        Row(vec_id=2, label=1, embedding=[1.0, 0.0, 0.0]),      # other block: excluded
        Row(vec_id=3, label=0, embedding=[0.0, 1.0, 0.0]),      # same block, orthogonal
    ]
    df = spark.createDataFrame(rows)
    out = {(r["vec_id_1"], r["vec_id_2"]): r["cosine"]
           for r in DD.embedding_neardup_pairs(df, threshold=0.9).collect()}
    assert list(out) == [(0, 1)]
    assert out[(0, 1)] > 0.999


def test_incremental_minhash_index_equals_full_recompute(spark, sf_dir, tmp_path):
    """Base index + appended delta + delta_candidates reconstructs exactly
    the pairs a full recompute over the whole corpus finds."""
    from pyspark.sql import functions as F
    from compute_histogram_spark.operators.dedup import (
        append_minhash_index,
        build_minhash_index,
        delta_candidates,
        minhash_candidates,
    )
    from compute_histogram_spark.sources.tables import load

    docs = load(spark, sf_dir, "documents")
    base = docs.where(F.col("doc_id") % 5 != 0)
    delta = docs.where(F.col("doc_id") % 5 == 0)
    idx = str(tmp_path / "mh_index")

    build_minhash_index(base, idx)
    base_pairs = {(r[0], r[1]) for r in minhash_candidates(base).collect()}

    append_minhash_index(delta, idx)
    index_sigs = spark.read.parquet(idx)
    # index holds every doc exactly once after the append
    assert index_sigs.count() == docs.count()
    new_pairs = {
        (r[0], r[1])
        for r in delta_candidates(index_sigs, delta.select("doc_id")).collect()
    }
    # delta pass only emits pairs touching a new doc
    delta_ids = {r[0] for r in delta.select("doc_id").collect()}
    assert all(a in delta_ids or b in delta_ids for a, b in new_pairs)

    full_pairs = {(r[0], r[1]) for r in minhash_candidates(docs).collect()}
    assert base_pairs | new_pairs == full_pairs


def test_paragraph_dedup_golden(spark):
    """First global occurrence wins; docs reassemble in order; fully-
    duplicated docs vanish; counts are per-doc."""
    from pyspark.sql import Row

    rows = [
        Row(doc_id=1, text="alpha\nbeta\ngamma"),
        Row(doc_id=2, text="beta\ndelta"),        # beta dropped, delta kept
        Row(doc_id=3, text="alpha\nbeta"),        # everything seen -> gone
        Row(doc_id=4, text="delta\nepsilon\nalpha"),
    ]
    out = {
        r["doc_id"]: (r["text"], r["n_paras"], r["n_kept"])
        for r in DD.paragraph_dedup(spark.createDataFrame(rows)).collect()
    }
    assert out[1] == ("alpha\nbeta\ngamma", 3, 3)
    assert out[2] == ("delta", 2, 1)
    assert 3 not in out
    assert out[4] == ("epsilon", 3, 1)


PARA_ORACLE = """
WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
p AS (
    SELECT doc_id, unnest(generate_series(1, len(toks))) AS pos, toks
    FROM d
),
q AS (SELECT doc_id, pos, toks[pos] AS para FROM p),
f AS (
    SELECT doc_id, pos, para,
           row_number() OVER (PARTITION BY para ORDER BY doc_id, pos) = 1
               AS keep
    FROM q
)
SELECT doc_id,
       string_agg(CASE WHEN keep THEN para END, ' ' ORDER BY pos) AS text,
       count(*) AS n_paras,
       CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
FROM f GROUP BY doc_id HAVING n_kept > 0 ORDER BY doc_id
"""


def test_paragraph_dedup_vs_duckdb_oracle(spark, sf_dir):
    """Value-exact DuckDB twin on the real documents table, with space as
    the separator (the synthetic corpus has no newlines, so 'paragraphs'
    degenerate to words — same machinery, maximal duplication stress).
    Since round 5 this is ALSO a registry entry (swapped in for the
    rows-only equi_depth_histogram_approx); this test keeps the oracle
    evidence local and fast."""
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    from check_oracle import compare, duck_connection

    from compute_histogram_spark.sources.tables import load

    sdf = DD.paragraph_dedup(
        load(spark, sf_dir, "documents"), sep=" "
    ).toPandas()
    con = duck_connection(sf_dir)
    odf = con.sql(PARA_ORACLE).df()
    assert 0 < len(sdf) < 500  # heavy word-level duplication shrinks corpus
    assert compare("paragraph_dedup", sdf, odf) == []


def test_repeated_span_coverage_golden(spark):
    """Interval sweep: overlapping hot spans clip; disjoint spans add;
    clean docs report zero."""
    rows = [
        # docs 1 and 2 share the 6-token run "p q r s t u" -> with n=3,
        # hot 3-grams at starts 0..3 overlap into one 6-token cover
        Row(doc_id=1, text="p q r s t u x1 y1 z1 w1"),
        Row(doc_id=2, text="a2 p q r s t u b2 c2 d2"),
        Row(doc_id=3, text="k l m n1 o1 k l m n3 o3"),  # self-repeat only: df=1
        Row(doc_id=4, text="all fresh words here now"),
    ]
    out = {
        r["doc_id"]: (r["n_tokens"], r["n_hot_spans"], r["covered_tokens"], r["dup_frac"])
        for r in DD.repeated_span_coverage(
            spark.createDataFrame(rows), n=3, min_df=2
        ).collect()
    }
    assert out[1] == (10, 4, 6, 0.6)
    assert out[2] == (10, 4, 6, 0.6)
    # df counts DISTINCT docs: doc 3's internal repeat is not cross-doc
    assert out[3] == (10, 0, 0, 0.0)
    assert out[4] == (5, 0, 0, 0.0)


# the span-coverage DuckDB twin moved INTO the registry in r9 (5th
# rotation wave); single source of truth there.
from compute_histogram_spark.registry import ORACLES as _ORACLES
SPAN_ORACLE = _ORACLES["repeated_span_coverage"]


def test_repeated_span_coverage_vs_duckdb_oracle(spark, sf_dir):
    """Value-exact DuckDB twin on the real documents table (outside the
    50-entry registry window; oracle evidence lives here)."""
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    from check_oracle import compare, duck_connection

    from compute_histogram_spark.sources.tables import load

    sdf = DD.repeated_span_coverage(
        load(spark, sf_dir, "documents"), n=5, min_df=2
    ).toPandas()
    con = duck_connection(sf_dir)
    odf = con.sql(SPAN_ORACLE).df()
    assert len(sdf) > 0
    assert (sdf["dup_frac"] > 0).any()  # the synthetic corpus has boilerplate
    assert compare("repeated_span_coverage", sdf, odf) == []


def test_neardup_dedup_removes_cluster_losers_only(spark, sf_dir):
    from compute_histogram_spark.operators.dedup import (
        minhash_candidates,
        neardup_dedup,
    )
    from compute_histogram_spark.operators.graph import connected_components
    from compute_histogram_spark.sources.tables import load

    docs = load(spark, sf_dir, "documents")
    kept = neardup_dedup(docs)
    kept_ids = {r["doc_id"] for r in kept.select("doc_id").collect()}
    all_ids = {r["doc_id"] for r in docs.select("doc_id").collect()}

    clusters = connected_components(minhash_candidates(docs)).collect()
    losers = {r["node"] for r in clusters if r["node"] != r["component"]}
    winners = {r["component"] for r in clusters}

    assert kept_ids == all_ids - losers       # exactly the losers removed
    assert winners <= kept_ids                # every cluster keeps its min
    assert len(losers) > 0                    # the fixture has near-dups
    assert kept.columns == docs.columns       # schema passes through


def test_semantic_dedup_matches_numpy_twin(spark):
    """SemDeDup vs an independent NumPy reimplementation: same centroids
    in, identical (kept, cid) out — for both keep policies."""
    import numpy as np

    from compute_histogram_spark.operators.clustering import kmeans
    from compute_histogram_spark.operators.dedup import semantic_dedup

    rng = np.random.default_rng(11)
    base = rng.normal(size=(6, 8))
    rows = []
    vid = 0
    for b in base:
        for _ in range(rng.integers(2, 5)):
            v = b + rng.normal(scale=0.01, size=8)  # tight near-dup family
            rows.append((vid, [float(x) for x in v], int(vid % 3)))
            vid += 1
    emb = spark.createDataFrame(
        rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>, label INT"
    )
    cents = kmeans(emb, n_clusters=4, iters=3)

    # --- NumPy twin
    X = np.array([r[1] for r in rows])
    ids = np.array([r[0] for r in rows])
    d = np.linalg.norm(X[:, None, :] - cents[None, :, :], axis=2)
    cid = d.argmin(axis=1)
    thr = 0.9

    def cos(i, j):
        return float(
            X[i] @ X[j] / (np.linalg.norm(X[i]) * np.linalg.norm(X[j]))
        )

    # union-find over within-cluster pairs above threshold
    parent = {int(i): int(i) for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            if cid[i] == cid[j] and cos(i, j) >= thr:
                ri, rj = find(int(ids[i])), find(int(ids[j]))
                if ri != rj:
                    parent[max(ri, rj)] = min(ri, rj)
    groups = {}
    for i in range(len(ids)):
        groups.setdefault(find(int(ids[i])), []).append(i)

    for keep in ("min_id", "closest"):
        expect_kept = set()
        for members in groups.values():
            if len(members) == 1:
                expect_kept.add(int(ids[members[0]]))
                continue
            if keep == "min_id":
                expect_kept.add(min(int(ids[m]) for m in members))
            else:
                def ccos(m):
                    c = cents[cid[m]]
                    return (
                        X[m] @ c / (np.linalg.norm(X[m]) * np.linalg.norm(c)),
                        int(ids[m]),
                    )
                expect_kept.add(int(ids[min(members, key=ccos)]))

        out = semantic_dedup(
            emb, threshold=thr, centroids=cents, keep=keep
        ).collect()
        assert len(out) == len(rows)
        got_kept = {r["vec_id"] for r in out if r["kept"]}
        assert got_kept == expect_kept, keep
        got_cid = {r["vec_id"]: r["cid"] for r in out}
        assert got_cid == {int(ids[i]): int(cid[i]) for i in range(len(ids))}
        # families collapse: kept count == number of groups
        assert len(got_kept) == len(groups)


def test_simhash_duckdb_twin(spark, sf_dir):
    """Staged rotation twin (r10): the 16-bit weighted-parity signature
    is integer-exact cross-engine."""
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    from check_oracle import compare, duck_connection

    from compute_histogram_spark.registry import SIMHASH_ORACLE, q_simhash

    pdf = q_simhash(spark, sf_dir).toPandas()
    con = duck_connection(sf_dir)
    odf = con.sql(SIMHASH_ORACLE).df()
    assert len(pdf) > 0
    assert compare("simhash", pdf, odf) == []


def test_ngram_jaccard_arrow_equals_declarative(spark, sf_dir):
    """The r11 fast form (checkpointed postings + vectorized pair kernel
    + necessary-condition filter) is value-identical to the declarative
    plan on the real corpus — the bench swaps it in like
    doc_fingerprint_arrow, so equality is the contract."""
    from compute_histogram_spark.sources.tables import load

    docs = load(spark, sf_dir, "documents")
    a = DD.ngram_jaccard_pairs(docs, threshold=0.5, max_df=100).collect()
    b = DD.ngram_jaccard_pairs_arrow(docs, threshold=0.5, max_df=100).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]
    assert len(a) > 0


def test_ngram_jaccard_arrow_hub_cap_regimes(spark):
    """Equality across a binding cap (boilerplate removed, group pairs
    survive), an over-binding cap (empty output) and no cap at all."""
    rows = [
        Row(
            doc_id=i,
            text=(
                "common boiler plate intro text here "
                f"group{i % 3} body{i % 3} tail{i % 3} extra{i % 3} "
                f"word{i % 3} uniq{i}"
            ),
        )
        for i in range(30)
    ]
    docs = spark.createDataFrame(rows)
    for max_df, expect_nonempty in ((15, True), (5, False), (None, True)):
        a = DD.ngram_jaccard_pairs(docs, threshold=0.2, max_df=max_df).collect()
        b = DD.ngram_jaccard_pairs_arrow(
            docs, threshold=0.2, max_df=max_df
        ).collect()
        assert [tuple(r) for r in a] == [tuple(r) for r in b], max_df
        assert bool(a) == expect_nonempty, max_df


def test_neardup_source_overlap_matches_pair_recount(spark, sf_dir):
    """The provenance matrix is exactly the per-source-pair recount of
    minhash_candidates' pair set (triangular under least/greatest)."""
    import collections

    from compute_histogram_spark.operators.dedup import (
        minhash_candidates,
        neardup_source_overlap,
    )
    from compute_histogram_spark.sources.tables import load

    docs = load(spark, sf_dir, "documents")
    src = {r.doc_id: r.source
           for r in docs.select("doc_id", "source").collect()}
    expect = collections.Counter()
    for r in minhash_candidates(docs).collect():
        s1, s2 = sorted((src[r.doc_id_1], src[r.doc_id_2]))
        expect[(s1, s2)] += 1
    got = {(r.s1, r.s2): r.n_pairs
           for r in neardup_source_overlap(docs).collect()}
    assert got == dict(expect)
    assert all(s1 <= s2 for (s1, s2) in got)


def test_band_rows_stateless_equals_aggregated_form(spark, sf_dir):
    """The array-HOF signature path (streaming-safe, zero aggregation)
    must produce exactly the batch groupBy-min band rows — array_min
    over the transformed shingle array is min over the same multiset.
    Guards the seeded-md5 closure bind (an arity-2 lambda would make
    pyspark pass the array INDEX as the seed — found the hard way)."""
    from compute_histogram_spark.operators.dedup import (
        _band_long,
        band_rows_stateless,
        minhash_signatures,
        shingle_table,
    )
    from compute_histogram_spark.sources.tables import load

    docs = load(spark, sf_dir, "documents")
    a = set(map(tuple, band_rows_stateless(docs).collect()))
    b = set(map(tuple, _band_long(
        minhash_signatures(shingle_table(docs, distinct=False)), 8, 2
    ).collect()))
    assert a == b and len(a) > 0


def test_minhash_candidates_signature_subtree_computed_once(spark, sf_dir):
    """r16 optimization round: the band self-join must REUSE the
    signature subtree's shuffle stage instead of executing the whole
    scan + shingle-explode + k min-digest DAG once per join side. The
    merge hint makes both sides' exchanges canonically equal, so AQE's
    stage reuse fires at every scale (a broadcast side never reuses a
    shuffle Exchange — the pre-r16 shape paid double signatures).
    Pinned on the FINAL adaptive plan, post-execution."""
    from compute_histogram_spark.operators.dedup import minhash_candidates
    from compute_histogram_spark.sources.tables import load

    df = minhash_candidates(load(spark, sf_dir, "documents"))
    df.collect()
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    final = plan.split("== Initial Plan ==")[0]
    assert "== Final Plan ==" in final, final[:500]
    assert "ReusedExchange" in final, final


def test_texthash_exprs_quote_column_names(spark):
    """The F.expr-built shingle, MinHash and band expressions take column
    names with a space or a hyphen and give the same values as under
    plain names."""
    from pyspark.sql import functions as F

    from compute_histogram_spark.functions.texthash import (
        band_hashes,
        minhash_aggs,
        word_shingles,
    )

    docs = spark.createDataFrame([("a b c d e",)], ["text"])

    def signature(tok_col, sh_col):
        toks = docs.select(F.split("text", " ").alias(tok_col))
        sh = toks.select(word_shingles(tok_col, 2).alias(sh_col))
        grams = sh.first()[sh_col]
        sig = sh.select(F.explode(F.col(f"`{sh_col}`")).alias(sh_col)).agg(
            *minhash_aggs(sh_col, 4)
        )
        return grams, tuple(sig.select(*band_hashes(4, 2)).first())

    grams, bands = signature("my toks", "sh-col")
    assert grams == ["a b", "b c", "c d", "d e"]
    assert (grams, bands) == signature("toks", "s")
