"""Dedup operator properties (SURVEY §2.11 N1-N2): banded-SimHash
recall, hot-shingle frequency cap, single-pass MinHash-LSH exactness."""

import pyspark.sql.functions as F

from dataframe_retail_e_inventarios_spark.operators.dedup import (
    doc_shingles,
    jaccard_pairs,
    minhash_lsh_pairs,
    simhash,
    simhash_pairs,
)
from dataframe_retail_e_inventarios_spark.sources.readers import load_table
from tests.conftest import SF_SMOKE


def _allpairs_simhash(docs, max_hamming):
    """Reference all-pairs implementation (the pre-banding semantics)."""
    sh = simhash(docs)
    a, b = sh.alias("a"), sh.alias("b")
    return (
        a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .withColumn(
            "hamming", F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
        )
        .filter(F.col("hamming") <= max_hamming)
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.col("hamming").cast("long").alias("hamming"),
        )
    )


def test_banded_simhash_equals_all_pairs(spark):
    """Pigeonhole guarantee: with max_hamming + 1 bands the banded join
    has recall exactly 1.0, so its output must EQUAL the all-pairs scan
    (and precision is exact because candidates are verified)."""
    docs = load_table(spark, SF_SMOKE, "documents").limit(200)
    for mh in (1, 3):
        banded = {tuple(r) for r in simhash_pairs(docs, max_hamming=mh).collect()}
        brute = {tuple(r) for r in _allpairs_simhash(docs, mh).collect()}
        assert banded == brute
        assert len(banded) > 0 or mh == 1  # fixture sanity at mh=3


def test_banded_simhash_plan_has_no_all_pairs_join(spark):
    docs = load_table(spark, SF_SMOKE, "documents")
    plan = simhash_pairs(docs, max_hamming=3)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "band_val" in plan  # candidates come from the band equi-join


def _hot_corpus(spark):
    """60 docs sharing one stop-shingle; two genuine near-dup docs."""
    hot = "common filler phrase"
    rows = [(i, f"{hot} unique words {i} alpha beta gamma {i}") for i in range(60)]
    rows.append((100, "real duplicate content body here exactly matching words"))
    rows.append((101, "real duplicate content body here exactly matching words plus"))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_hot_shingle_cap_bounds_index_group_size(spark):
    docs = _hot_corpus(spark)
    capped = doc_shingles(docs, max_df=10)
    sizes = capped.groupBy("shingle").count().agg(F.max("count")).collect()[0][0]
    assert sizes <= 10
    uncapped = doc_shingles(docs)
    assert uncapped.groupBy("shingle").count().agg(F.max("count")).collect()[0][0] > 10


def test_hot_shingle_cap_keeps_genuine_pairs(spark):
    """The cap removes stop-shingle-only candidate pairs but genuine
    near-dups (which share many non-hot shingles) survive."""
    docs = _hot_corpus(spark)
    pairs = jaccard_pairs(docs, threshold=0.5, max_df=10).collect()
    assert {(r.id_a, r.id_b) for r in pairs} == {(100, 101)}


def test_first_match_emission_under_mass_duplication(spark):
    """A corpus where 40 docs are identical: every pair shares EVERY
    band, so the first-match predicate must emit each pair exactly once
    (C(40,2) rows, no duplicates) for both SimHash and MinHash-LSH."""
    rows = [(i, "identical content repeated across the corpus body") for i in range(40)]
    rows += [(100 + i, f"totally different text number {i} with words {i*7}") for i in range(5)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    sp = simhash_pairs(docs, max_hamming=3).collect()
    dup_pairs = {(r.id_a, r.id_b) for r in sp if r.id_a < 40 and r.id_b < 40}
    assert len(sp) == len({(r.id_a, r.id_b) for r in sp})  # no dup emissions
    assert len(dup_pairs) == 40 * 39 // 2
    assert all(r.hamming == 0 for r in sp if (r.id_a, r.id_b) in dup_pairs)

    lp = minhash_lsh_pairs(docs, threshold=0.9).collect()
    lsh_pairs = {(r.id_a, r.id_b) for r in lp}
    assert len(lp) == len(lsh_pairs)
    assert {(a, b) for a, b in lsh_pairs if a < 40 and b < 40} == dup_pairs
    assert all(r.jaccard == 1.0 for r in lp if (r.id_a, r.id_b) in dup_pairs)


def test_dedup_operators_on_empty_corpus(spark):
    empty = spark.createDataFrame([], "doc_id long, text string")
    assert simhash_pairs(empty).count() == 0
    assert minhash_lsh_pairs(empty, 0.5).count() == 0
    assert jaccard_pairs(empty, 0.5, max_df=10).count() == 0


def test_minhash_lsh_single_pass_matches_exact_jaccard(spark):
    """Every pair LSH reports must carry the exact Jaccard value the
    inverted-index baseline computes (candidates-then-verify gives
    exact precision; only recall is approximate)."""
    docs = load_table(spark, SF_SMOKE, "documents").limit(300)
    lsh = {(r.id_a, r.id_b): r.jaccard for r in minhash_lsh_pairs(docs, 0.3).collect()}
    exact = {
        (r.id_a, r.id_b): r.jaccard for r in jaccard_pairs(docs, 0.3).collect()
    }
    assert lsh, "fixture should contain at least one near-dup pair"
    for pair, j in lsh.items():
        assert exact[pair] == j


def test_incremental_lsh_delta_filter_pushes_down_to_index_scan(spark, tmp_path):
    """The incremental-maintenance claim in code: with a delta filter,
    the b-side of the banded join reads ONLY delta rows from the
    stored index — the doc_id predicate must reach the parquet scan
    (PushedFilters), so at 100 TB the day's increment scans O(delta)
    index rows, not the corpus."""
    from dataframe_retail_e_inventarios_spark.operators.dedup import (
        minhash_index,
        minhash_lsh_pairs_from_index,
    )
    from dataframe_retail_e_inventarios_spark.sources.readers import load_table
    from tests.conftest import SF_SMOKE

    docs = load_table(spark, SF_SMOKE, "documents")
    path = str(tmp_path / "idx")
    minhash_index(docs, k=16).write.parquet(path)
    stored = spark.read.parquet(path)
    pairs = minhash_lsh_pairs_from_index(
        stored, threshold=0.3, k=16, bands=4,
        delta_filter=F.col("doc_id") >= 400,
    )
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan
    assert "GreaterThanOrEqual(doc_id,400)" in plan

    # and the incremental result is exactly the full result restricted
    # to delta-involving pairs
    full = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs_from_index(
            stored, threshold=0.3, k=16, bands=4
        ).collect()
    }
    inc = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert inc == {p for p in full if p[1] >= 400}


def test_setsim_prefix_matches_allpairs_and_prunes(spark):
    """Losslessness: prefix-filtered output == full inverted-index
    Jaccard at the same threshold. Pruning: the prefix index is
    strictly smaller than the full index."""
    import pyspark.sql.functions as F

    from dataframe_retail_e_inventarios_spark.operators.dedup import (
        doc_shingles,
        jaccard_pairs,
        setsim_prefix_pairs,
    )
    from dataframe_retail_e_inventarios_spark.sources.readers import load_table
    from tests.conftest import SF_SMOKE

    docs = load_table(spark, SF_SMOKE, "documents")
    got = {
        (r.id_a, r.id_b, r.jaccard)
        for r in setsim_prefix_pairs(docs, threshold=0.5).collect()
    }
    want = {
        (r.id_a, r.id_b, r.jaccard)
        for r in jaccard_pairs(docs, threshold=0.5).collect()
    }
    assert got == want

    full = doc_shingles(docs, hashed=True)
    n_full = full.count()
    sizes = full.groupBy("doc_id").agg(F.count("*").alias("m"))
    # at t=0.5 the prefix keeps m - ceil(m/2) + 1 ~ m/2 + 1 entries
    n_prefix_bound = sizes.select(
        F.sum(F.col("m") - F.ceil(F.col("m") * 0.5) + 1)
    ).collect()[0][0]
    assert n_prefix_bound < n_full


def test_prebuilt_index_paths_match_derived(spark):
    """The ``idx=`` shared-corpus-pass plumbing (r13): jaccard_pairs /
    minhash_index / minhash_signatures over a prebuilt uncapped hashed
    index must return exactly what the docs-derived path returns —
    capped and uncapped, so the read-once restructure of
    lsh_band_recall_audit / minhash_estimator_error cannot move a row."""
    from dataframe_retail_e_inventarios_spark.operators.dedup import (
        minhash_index,
        minhash_signatures,
    )

    docs = load_table(spark, SF_SMOKE, "documents").limit(300)
    idx = doc_shingles(docs, hashed=True)
    for max_df in (None, 40):
        jp_idx = {tuple(r) for r in jaccard_pairs(docs, 0.1, max_df=max_df, idx=idx).collect()}
        jp_raw = {tuple(r) for r in jaccard_pairs(docs, 0.1, max_df=max_df).collect()}
        assert jp_idx == jp_raw
        mi_idx = {
            (r["doc_id"], tuple(sorted(r["shingles"])), *[r[f"h{i}"] for i in range(8)])
            for r in minhash_index(docs, k=8, max_df=max_df, idx=idx).collect()
        }
        mi_raw = {
            (r["doc_id"], tuple(sorted(r["shingles"])), *[r[f"h{i}"] for i in range(8)])
            for r in minhash_index(docs, k=8, max_df=max_df).collect()
        }
        assert mi_idx == mi_raw
    sig_idx = {tuple(r) for r in minhash_signatures(docs, k=8, idx=idx).collect()}
    sig_raw = {tuple(r) for r in minhash_signatures(docs, k=8).collect()}
    assert sig_idx == sig_raw
