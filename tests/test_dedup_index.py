"""Persisted LSH signature index: the continuous-crawl incremental
dedup path. Proves (a) the indexed join gives the same answer as the
re-signing join, (b) the old corpus is signed exactly once — batches
never re-shingle it, (c) the bucket cap's recall loss is observable,
(d) the fixture property the incremental oracle depends on holds,
(e) an index signed with other parameters is refused."""

import duckdb
import pytest
from pyspark.sql import functions as F

from hyperpolyglot_spark.operators.dedup import (
    exact_dedup_groups,
    minhash_neardup_join,
    minhash_neardup_join_indexed,
    save_dedup_index,
    update_dedup_index,
    word_shingles,
)

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").cache()


def _pairs(df):
    return sorted(tuple(r) for r in df.collect())


def test_indexed_join_matches_resign_join(spark, docs, tmp_path):
    old = docs.filter(F.col("doc_id") < 250)
    new = docs.filter(F.col("doc_id") >= 250)
    idx = str(tmp_path / "idx")
    save_dedup_index(spark, old, idx)

    want = _pairs(minhash_neardup_join(new, old, threshold=0.5))
    got = _pairs(minhash_neardup_join_indexed(spark, new, idx, old, threshold=0.5))
    assert got == want and len(got) > 0


def test_indexed_join_signs_only_the_new_batch(spark, docs, tmp_path):
    """The accumulator counts docs flowing through the minhash UDF: it
    must equal the NEW batch's canonical count — the old corpus's
    signatures come from the index, never from re-signing."""
    old = docs.filter(F.col("doc_id") < 250)
    new = docs.filter(F.col("doc_id") >= 250)
    idx = str(tmp_path / "idx")
    save_dedup_index(spark, old, idx)

    counter = spark.sparkContext.accumulator(0)
    out = minhash_neardup_join_indexed(
        spark, new, idx, old, threshold=0.5, counter=counter
    )
    out.collect()
    n_canon_new = exact_dedup_groups(new).count()
    assert counter.value == n_canon_new, (counter.value, n_canon_new)


def test_update_index_sees_next_batch(spark, docs, tmp_path):
    """Crawl-drop sequence: index(old) -> append batch1 -> batch2 joins
    against old+batch1 without either being re-signed."""
    old = docs.filter(F.col("doc_id") < 200)
    b1 = docs.filter((F.col("doc_id") >= 200) & (F.col("doc_id") < 350))
    b2 = docs.filter(F.col("doc_id") >= 350)
    idx = str(tmp_path / "idx")
    save_dedup_index(spark, old, idx)
    update_dedup_index(spark, b1, idx)

    corpus = old.unionByName(b1)
    want = _pairs(minhash_neardup_join(b2, corpus, threshold=0.5))
    got = _pairs(
        minhash_neardup_join_indexed(spark, b2, idx, corpus, threshold=0.5)
    )
    assert got == want


def test_bucket_cap_is_observable(spark):
    """A degenerate corpus (one megacluster of distinct-but-similar
    texts) with a tiny max_bucket: the cap fires and cap_stats reports
    exactly what was dropped (ADVICE r2 — silent recall loss must be
    observable at scale)."""
    base = " ".join(f"word{w}" for w in range(60))  # j ~ 58/60 per pair
    rows = [(i, f"{base} tail{i}") for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    new, old = df.filter(F.col("doc_id") < 20), df.filter(F.col("doc_id") >= 20)
    stats: dict = {}
    out = minhash_neardup_join(
        new, old, threshold=0.9, max_bucket=8, cap_stats=stats
    )
    n = out.count()
    assert stats["capped_buckets"] > 0
    assert stats["capped_rows"] > stats["capped_buckets"] * 8
    # uncapped finds strictly more pairs than the capped run
    full = minhash_neardup_join(new, old, threshold=0.9, max_bucket=None).count()
    assert full > n

    # clean corpus: the cap never fires and stats says so
    clean: dict = {}
    docs = spark.createDataFrame(
        [(i, f"totally unique words {i} row {i*7}") for i in range(50)],
        "doc_id long, text string",
    )
    minhash_neardup_join(
        docs.filter(F.col("doc_id") < 25), docs.filter(F.col("doc_id") >= 25),
        max_bucket=4096, cap_stats=clean,
    ).count()
    assert clean == {"capped_buckets": 0, "capped_rows": 0}


def test_incremental_oracle_fixture_property():
    """ADVICE r2: neardup_incremental's DuckDB oracle is exact all-pairs
    jaccard while the query is probabilistic LSH (~64% detection at
    j=0.5). The gate only holds because every true cross-split pair
    sits ABOVE the S-curve knee. Pin that property: no cross-split pair
    may fall in the sub-knee band [0.5, 0.9) where 16x4-band LSH misses
    nondeterministically. If testdata regeneration breaks this, fix the
    fixture or derive the oracle from banded-candidate semantics."""
    rows = duckdb.sql(
        f"SELECT doc_id, text FROM read_parquet('{SF}/documents.parquet')"
    ).fetchall()
    new = [(i, word_shingles(t)) for i, t in rows if i >= 250]
    old = [(i, word_shingles(t)) for i, t in rows if i < 250]
    in_band = []
    for i, gi in new:
        for j, gj in old:
            u = len(gi | gj)
            jac = len(gi & gj) / u if u else 0.0
            if 0.5 <= jac < 0.9:
                in_band.append((i, j, jac))
    assert in_band == [], in_band


def test_pinned_scope_releases_caches(spark):
    """ADVICE r3: _pin()ed signature/candidate tables must be
    releasable without clearCache — pinned_scope frees exactly the
    tables pinned inside it (disk-spilled blocks are not LRU-evicted,
    so a continuous-crawl driver would otherwise accumulate disk)."""
    from hyperpolyglot_spark.operators import dedup as D

    docs = spark.createDataFrame(
        [(i, f"some shared words plus row {i}") for i in range(30)],
        "doc_id long, text string",
    )
    before = len(D._PINNED)
    with D.pinned_scope():
        minhash_neardup_join(
            docs.filter(F.col("doc_id") < 15), docs.filter(F.col("doc_id") >= 15),
            threshold=0.5,
        ).count()
        pinned = D._PINNED[before:]
        assert len(pinned) == 3, "the join pins bo, bn and the candidates"
        assert all(p.storageLevel.useMemory for p in pinned)
    assert len(D._PINNED) == before
    assert all(not p.storageLevel.useMemory for p in pinned)


def test_index_signed_with_other_params_is_refused(spark, docs, tmp_path):
    """An index whose meta records another (k, bands) must fail loudly,
    naming both pairs, before the probe builds a join or the update
    writes a file: its band hashes are not comparable to this code's."""
    old = docs.filter(F.col("doc_id") < 250)
    new = docs.filter(F.col("doc_id") >= 250)
    idx = tmp_path / "idx"
    save_dedup_index(spark, old, str(idx))
    spark.createDataFrame([(32, 8)], "k int, bands int").write.mode(
        "overwrite"
    ).parquet(str(idx / "meta"))
    files = sorted(p for p in idx.rglob("*"))
    want = r"k=32, bands=8.*k=64, bands=16"

    with pytest.raises(ValueError, match=want):
        minhash_neardup_join_indexed(spark, new, str(idx), old)
    with pytest.raises(ValueError, match=want):
        update_dedup_index(spark, new, str(idx))
    assert sorted(p for p in idx.rglob("*")) == files
