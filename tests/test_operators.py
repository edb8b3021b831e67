"""Operator tests: dedup — cross-checked against exact pure-Python
ground truth on the sf0.01 documents table."""

import pytest
from pyspark.sql import functions as F

from hyperpolyglot_spark.operators import dedup as D
from hyperpolyglot_spark.operators.dedup import (
    exact_dedup_groups,
    minhash_neardup_join,
    minhash_neardup_join_indexed,
    ngram_jaccard_pairs,
    save_dedup_index,
    word_shingles,
)

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").cache()


# --- exact dedup -------------------------------------------------------
def test_exact_dedup(spark, docs):
    dup = docs.union(docs.limit(10))  # inject 10 exact dups
    groups = exact_dedup_groups(dup)
    agg = groups.agg(
        F.count("*").alias("groups"), F.sum("dup_count").alias("rows")
    ).collect()[0]
    assert agg["groups"] == 500 and agg["rows"] == 510
    assert (
        dup.dropDuplicates(["text"]).count()
        == groups.count()
        == 500
    )


# --- jaccard + minhash LSH --------------------------------------------
def test_exact_jaccard_pairs_vs_python(spark, docs):
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(
            docs, block_col="lang", threshold=0.5
        ).collect()
    }
    rows = docs.select("doc_id", "lang", "text").collect()
    import itertools

    expect = {}
    by_lang = {}
    for r in rows:
        by_lang.setdefault(r["lang"], []).append(r)
    for lang, rs in by_lang.items():
        for a, b in itertools.combinations(sorted(rs, key=lambda x: x["doc_id"]), 2):
            ga, gb = word_shingles(a["text"]), word_shingles(b["text"])
            j = len(ga & gb) / max(1, len(ga | gb))
            if round(j, 6) >= 0.5:
                expect[(a["doc_id"], b["doc_id"])] = round(j, 6)
    assert set(got) == set(expect)
    assert len(expect) >= 1  # the corpus does contain near-dups
    for k, v in expect.items():
        assert got[k] == pytest.approx(v, abs=1e-6)


def test_minhash_lsh_finds_exact_pairs(spark, docs):
    """The new-vs-old MinHash join equals the exact all-pairs jaccard
    across the split, from candidates far fewer than all cross pairs."""
    exact = {
        (r["id_b"], r["id_a"])
        for r in ngram_jaccard_pairs(docs, threshold=0.5).collect()
        if r["id_a"] < 250 <= r["id_b"]
    }
    new = docs.filter(F.col("doc_id") >= 250)
    old = docs.filter(F.col("doc_id") < 250)
    with D.pinned_scope():
        lsh = {
            (r["id_new"], r["id_old"])
            for r in minhash_neardup_join(new, old, threshold=0.5).collect()
        }
        cands = D._PINNED[-1].count()  # pinned last: the candidate pairs
    # precision 1.0 by construction (verified), recall 1.0 on this
    # corpus (the true pairs sit at jaccard ~0.99 where the 16x4 LSH
    # S-curve is ~1)
    assert lsh == exact and exact
    assert cands < 250 * 250 / 10  # candidates ≪ all cross pairs


def test_lsh_bucket_cap_skips_oversized(spark, docs):
    """max_bucket=0 marks every bucket oversized -> zero pairs (the skip
    path), and cap_stats counts every banded row of both sides."""
    new = docs.filter(F.col("doc_id") < 15)
    old = docs.filter(F.col("doc_id").between(15, 29))
    stats: dict = {}
    out = minhash_neardup_join(new, old, max_bucket=0, cap_stats=stats)
    assert out.count() == 0
    assert stats["capped_rows"] == 30 * D.BANDS


def test_identical_empty_texts_are_not_jaccard_neardups(spark):
    """Identical EMPTY texts share signatures and so a bucket, but
    have jaccard 0 (no shingles): verification must drop them, like
    the all-pairs oracle does."""
    new = spark.createDataFrame(
        [(1, ""), (3, "same words here")], "doc_id long, text string"
    )
    old = spark.createDataFrame(
        [(2, ""), (4, "same words here")], "doc_id long, text string"
    )
    got = {
        (r["id_new"], r["id_old"]): r["jaccard"]
        for r in minhash_neardup_join(new, old, threshold=0.5).collect()
    }
    assert got == {(3, 4): 1.0}


def test_incremental_neardup_join(spark, docs, tmp_path):
    """New-vs-old LSH join: finds injected cross-side dups, never emits
    within-side pairs, and a cross-side identical K x M cluster costs
    ONE candidate pair (pre-collapse per side): the indexed join signs
    the K identical new docs once."""
    old = docs.limit(30).select("doc_id", "text")
    # new batch: 10 exact copies of old docs + 5 fresh boilerplate rows
    copies = (
        docs.limit(10)
        .select((F.col("doc_id") + 50_000).alias("doc_id"), "text")
    )
    boiler = spark.range(60_000, 60_005).select(
        F.col("id").alias("doc_id"),
        F.lit("fresh boilerplate text " * 10).alias("text"),
    )
    new = copies.union(boiler)
    pairs = minhash_neardup_join(new, old, threshold=0.5).collect()
    found = {(r["id_new"], r["id_old"]) for r in pairs}
    expected = {(i + 50_000, i) for i in range(10)}
    assert expected <= found
    for r in pairs:
        assert r["id_new"] >= 50_000 and r["id_old"] < 50_000
        if (r["id_new"], r["id_old"]) in expected:
            assert r["jaccard"] == 1.0

    # K x M identical cluster across sides -> K*M output rows
    K, M = 40, 25
    t = F.lit("the same template page body " * 8)
    big_new = spark.range(70_000, 70_000 + K).select(
        F.col("id").alias("doc_id"), t.alias("text")
    )
    big_old = spark.range(80_000, 80_000 + M).select(
        F.col("id").alias("doc_id"), t.alias("text")
    )
    out = minhash_neardup_join(big_new, big_old, threshold=0.5)
    assert out.count() == K * M
    idx = str(tmp_path / "idx")
    save_dedup_index(spark, big_old, idx)
    counter = spark.sparkContext.accumulator(0)
    out = minhash_neardup_join_indexed(
        spark, big_new, idx, big_old, threshold=0.5, counter=counter
    )
    assert out.count() == K * M
    assert counter.value == 1


def test_hash64_batch_is_padding_width_independent():
    """Regression: the vectorized lane hash must give each string the
    SAME value regardless of the longest string sharing its batch —
    otherwise signatures become batch-composition-dependent and LSH
    recall collapses nondeterministically."""
    from hyperpolyglot_spark.operators.dedup import _base_hash64, _hash64_batch

    strs = ["", "a", "ab", "hello world", "的是了 ünïcödé", "z" * 63]
    solo = [_base_hash64(s) for s in strs]
    for tail in ([], ["y" * 7], ["y" * 8], ["y" * 500]):
        got = [int(x) for x in _hash64_batch(strs + tail)[: len(strs)]]
        assert got == solo, tail
    # NUL-padding cannot collide with explicit NULs (length is folded in)
    tricky = ["a", "a\x00", "a\x00\x00", "ab"]
    hs = _hash64_batch(tricky)
    assert len(set(int(x) for x in hs)) == len(tricky)
