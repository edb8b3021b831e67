"""Deduplication operators for training-data pipelines.

Two families, each scale-designed:

  - exact:    hash-groupBy on md5(text) — one shuffle of (hash, id),
              never the text itself.
  - minhash:  shingle -> k minhashes (ONE vectorized numpy pandas UDF,
              no k-times explode) -> band -> bucket join -> exact
              jaccard verify on candidates only. At 10^12 docs the
              bucket join is the only shuffle and candidates are a tiny
              fraction of the corpus. The persisted-index form
              (save_dedup_index + minhash_neardup_join_indexed) is the
              continuous-crawl path; the re-signing forms stay as its
              oracles.

ngram_jaccard_pairs is the exact all-pairs jaccard within a blocking
key: the truth the LSH path is held to.

Determinism: all hashing is keyed blake2b / affine-permutation over a
64-bit base hash — stable across processes, Python versions, and
cluster sizes (never builtin hash(), which is salted per process).
"""

from __future__ import annotations

import hashlib
from contextlib import contextmanager

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark import StorageLevel


# Every table pinned by _pin(), in pin order. Memory blocks are
# LRU-evicted under pressure but DISK-spilled blocks are not, so a
# long-lived driver running repeated dedup batches (the continuous-
# crawl use case) accumulates disk unless something unpersists. The
# registry + pinned_scope() below make cleanup scoped instead of
# relying on callers remembering spark.catalog.clearCache().
_PINNED: list[DataFrame] = []


def _pin(df: DataFrame) -> DataFrame:
    """Persist a signature/candidate table that multiple plan branches
    consume. Without this Spark re-evaluates the subtree PER BRANCH —
    the minhash UDF was observed running 9x over the same batch (cap
    union + anti-join + bucket join + two verification semi-joins).
    These tables are (id, band, bucket)-shaped — tiny next to the
    corpus. Each pin is recorded in _PINNED; wrap repeated batch runs
    in ``pinned_scope()`` so disk-spilled blocks are actually freed
    once the consuming action has run."""
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    _PINNED.append(df)
    return df


@contextmanager
def pinned_scope(blocking: bool = False):
    """Scope dedup pin lifetime to a block::

        with pinned_scope():
            pairs = minhash_neardup_pairs(batch).collect()
        # signature/candidate caches for THIS batch are now released

    Only tables pinned inside the block are unpersisted, so nested or
    interleaved scopes don't free each other's caches. This is the
    intended idiom for the continuous-crawl loop: one scope per
    incoming batch bounds cache footprint to a single batch."""
    mark = len(_PINNED)
    try:
        yield
    finally:
        while len(_PINNED) > mark:
            df = _PINNED.pop()
            try:
                df.unpersist(blocking)
            except Exception:  # session already stopped: nothing to free
                pass


# affine permutation params for minhash: deterministic, generated from
# a fixed seed via blake2b of the permutation index
_MERSENNE = (1 << 61) - 1


def _perm_params(k: int) -> tuple[np.ndarray, np.ndarray]:
    a, b = [], []
    for i in range(k):
        d = hashlib.blake2b(f"minhash-perm:{i}".encode(), digest_size=16).digest()
        ai = (int.from_bytes(d[:8], "little") % (_MERSENNE - 1)) + 1
        bi = int.from_bytes(d[8:], "little") % _MERSENNE
        a.append(ai)
        b.append(bi)
    return np.array(a, dtype=np.uint64), np.array(b, dtype=np.uint64)


_H64_OFFSET = np.uint64(0xCBF29CE484222325)
_H64_P = np.uint64(0x9E3779B97F4A7C15)
_MIX_C1 = np.uint64(0xFF51AFD7ED558CCD)
_MIX_C2 = np.uint64(0xC4CEB9FE1A85EC53)
_S33 = np.uint64(33)


def _fmix64(h: np.ndarray) -> np.ndarray:
    """MurmurHash3 64-bit finalizer (public domain), vectorized."""
    h = h ^ (h >> _S33)
    h = h * _MIX_C1
    h = h ^ (h >> _S33)
    h = h * _MIX_C2
    return h ^ (h >> _S33)


def _hash64_batch(strings: list[str]) -> np.ndarray:
    """Vectorized 64-bit hash over a batch of strings.

    Strings are zero-padded into a (n x 8*L) byte matrix viewed as
    uint64 LANES; the combine loop runs L = ceil(maxlen/8) times over
    vectorized columns (fmix64 per lane + multiply-xor chain, length
    folded into the finalizer so zero-padding cannot collide with
    embedded NULs). This replaces the per-shingle hashlib.blake2b loop
    that WAS the dedup job's run time at scale.
    Deterministic across processes and cluster sizes (never builtin
    hash(), which is salted)."""
    n = len(strings)
    if n == 0:
        return np.empty(0, dtype=np.uint64)
    bs = [s.encode("utf-8") for s in strings]
    lens = np.fromiter((len(x) for x in bs), count=n, dtype=np.int64)
    maxlen = int(lens.max())
    if maxlen == 0:
        return _fmix64(np.full(n, _H64_OFFSET))
    lanes8 = -(-maxlen // 8)
    mat = np.zeros((n, lanes8 * 8), dtype=np.uint8)
    # row-major mask fill order == concatenation order, so one memcpy
    mat[np.arange(lanes8 * 8) < lens[:, None]] = np.frombuffer(
        b"".join(bs), dtype=np.uint8
    )
    lanes = mat.view(np.uint64)  # little-endian lane view
    h = np.full(n, _H64_OFFSET)
    for j in range(lanes8):
        # only lanes the string actually reaches fold in — the hash of
        # a string must NOT depend on the batch's padding width
        upd = (h ^ _fmix64(np.ascontiguousarray(lanes[:, j]))) * _H64_P
        h = np.where(lens > j * 8, upd, h)
    return _fmix64(h ^ lens.astype(np.uint64))


def _base_hash64(s: str) -> int:
    """Scalar spec form of _hash64_batch (shared by py specs/tests)."""
    return int(_hash64_batch([s])[0])


def word_shingles(text: str, n: int = 3) -> set[str]:
    w = text.split()
    if len(w) < n:
        return {" ".join(w)} if w else set()
    return {" ".join(w[i : i + n]) for i in range(len(w) - n + 1)}


def _mod_mersenne(x: np.ndarray) -> np.ndarray:
    """Exact x % (2^61-1) via folding (2^61 ≡ 1 mod M), in place: two
    shifts and one masked subtract instead of a 64-bit division — the
    modulo was the single hottest op of the signature kernel. Mutates
    and returns ``x``."""
    m = np.uint64(_MERSENNE)
    hi = x >> np.uint64(61)
    x &= m
    x += hi
    np.subtract(x, m, out=x, where=x >= m)
    return x


def make_minhash_udf(k: int = 64, counter=None):
    """Arrow-batched minhash signature UDF. ALL shingles of a batch are
    hashed in ONE _hash64_batch pass; the k-permutation min-reduction
    is a segment-min over the shared value matrix. ``counter`` is an
    optional Spark accumulator incremented by docs signed — the
    observability hook tests use to prove an indexed incremental run
    never re-signs the old corpus. Caveat: the increment happens
    inside the task, so task retries and speculative execution
    double-count — treat the value as a debug/lower-bound signal (its
    test role), never as an exact production 'docs signed' metric."""
    a, b = _perm_params(k)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def minhash_udf(texts: pd.Series) -> pd.Series:
        shingles: list[str] = []
        offsets = [0]
        for t in texts:
            shingles.extend(word_shingles(t or ""))
            offsets.append(len(shingles))
        h = _hash64_batch(shingles)
        # (a*h + b) wraps mod 2^64 (numpy uint64), then mod mersenne —
        # not the textbook affine permutation, but deterministic and
        # uniform, which is all LSH bucketing needs
        vals = _mod_mersenne(a[:, None] * h[None, :] + b[:, None])
        empty = [0] * k
        out = []
        for i in range(len(texts)):
            lo, hi = offsets[i], offsets[i + 1]
            if lo == hi:
                out.append(empty)
            else:
                out.append(vals[:, lo:hi].min(axis=1).astype(np.int64).tolist())
        if counter is not None:
            counter.add(len(texts))
        return pd.Series(out)

    return minhash_udf


def exact_dedup_groups(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(text_hash, canonical_id, dup_count) per distinct content hash.
    Shuffles only (hash, id) pairs — the text never moves."""
    return (
        df.select(F.md5(F.col(text_col)).alias("text_hash"), F.col(id_col))
        .groupBy("text_hash")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count("*").alias("dup_count"),
        )
    )


def exact_dedup(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Keep one row (min id) per distinct text: semi-join against the
    canonical ids — the corpus-sized side never shuffles its payload.

    PRECONDITION: id_col is unique per row (true for doc_id/url keys).
    With duplicated ids the semi-join keeps every row carrying a
    canonical id; dedupe on (id, hash) first if ids can repeat."""
    canon = exact_dedup_groups(df, id_col, text_col).select(
        F.col("canonical_id").alias(id_col)
    )
    return df.join(canon, id_col, "left_semi")


def _distinct_shingles_col(text: Column, n: int = 3) -> Column:
    """JVM-side distinct word-n-gram string array. Built from n O(len)
    slices zipped then joined — the per-gram lambda does a constant-size
    concat only (a per-gram F.slice would make this O(len^2))."""
    w = F.filter(F.split(text, r"[ \t\n\r]+"), lambda x: x != "")
    nw = F.size(w)
    ng = nw - F.lit(n - 1)
    zipped = F.arrays_zip(*[F.slice(w, i + 1, ng).alias(str(i)) for i in range(n)])
    joined = F.transform(
        zipped, lambda s: F.concat_ws(" ", *[s[str(i)] for i in range(n)])
    )
    grams = F.when(nw >= n, joined).otherwise(
        F.when(nw > 0, F.array(F.concat_ws(" ", w))).otherwise(
            F.array().cast("array<string>")
        )
    )
    return F.array_distinct(grams)


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_col: str | None = None,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact all-pairs jaccard within a blocking key. Pure built-ins:
    array_intersect/array_union on distinct shingle arrays.

    At full scale block_col is an LSH bucket (lsh_candidate_pairs) so
    the join is candidates-only; with a plain column (e.g. lang) it is
    the small-block exact path and the DuckDB-oracle-able query."""
    side = df.select(
        F.col(id_col), _distinct_shingles_col(F.col(text_col), n).alias("grams"),
        *( [F.col(block_col)] if block_col else [] ),
    )
    a = side.alias("a")
    b = side.alias("b")
    cond = F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
    if block_col:
        cond = cond & (F.col(f"a.{block_col}") == F.col(f"b.{block_col}"))
    joined = a.join(b, cond)
    inter = F.size(F.array_intersect("a.grams", "b.grams"))
    union = F.size(F.array_union("a.grams", "b.grams"))
    jac = inter.cast("double") / F.greatest(union, F.lit(1)).cast("double")
    return (
        joined.select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.round(jac, 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def dup_group_members(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, canonical_id, dup_count) per row: which exact-dup group each
    doc belongs to. Two hash-only shuffles, text never moves."""
    groups = exact_dedup_groups(df, id_col, text_col)
    m = df.select(F.col(id_col), F.md5(F.col(text_col)).alias("text_hash"))
    return m.join(groups, "text_hash").select(
        id_col, "canonical_id", "dup_count"
    )


def _members_and_canon(
    df: DataFrame, id_col: str, text_col: str, eager: bool = False
) -> tuple[DataFrame, DataFrame]:
    """(members, canon) sharing ONE pinned exact-dup group table.

    Every minhash entry point needs both the member map
    (dup_group_members) and the pre-collapsed corpus (exact_dedup);
    built independently they each recompute the md5 groupBy — two
    corpus-sized hash aggregations where one suffices (r07, guide
    §2.4: two operations keyed the same way share one exchange). The
    group table is (hash, id, count)-shaped. localCheckpoint, NOT
    persist: a persisted subtree executes without AQE partition
    coalescing (canChangeCachedPlanOutputPartitioning is off), which
    measured 2x SLOWER here (64 tiny cached blocks re-read per
    branch); the checkpoint materializes once with AQE and both
    branches scan the materialized RDD. ``eager`` materializes it
    before returning, for callers that run the branches as concurrent
    jobs: a lazy checkpoint would race them into computing the md5
    groupBy once per job."""
    groups = exact_dedup_groups(df, id_col, text_col).localCheckpoint(
        eager=eager
    )
    m = df.select(F.col(id_col), F.md5(F.col(text_col)).alias("text_hash"))
    members = m.join(groups, "text_hash").select(
        id_col, "canonical_id", "dup_count"
    )
    canon = df.join(
        groups.select(F.col("canonical_id").alias(id_col)), id_col, "left_semi"
    )
    return members, canon


def lsh_bucket_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 64,
    bands: int = 16,
) -> DataFrame:
    """Bucket-size histogram of the banded signature table — the
    observability hook for the max_bucket cap (run it on the collapsed
    corpus to see what the cap would skip)."""
    banded = _banded_minhash(df, id_col, text_col, k, bands)
    return (
        banded.groupBy("band", "bucket")
        .agg(F.count("*").alias("bucket_size"))
        .groupBy("bucket_size")
        .agg(F.count("*").alias("n_buckets"))
        .orderBy(F.desc("bucket_size"))
    )


def _oversized_buckets(
    banded: DataFrame,
    max_bucket: int,
    keys: tuple[str, ...] = ("band", "bucket"),
    cap_stats: dict | None = None,
) -> DataFrame:
    """(band, bucket) keys whose membership exceeds max_bucket — the
    list the LSH join skips. Pass a dict as ``cap_stats`` to make the
    silent recall loss observable (ADVICE r2): it is filled eagerly
    with capped_buckets / capped_rows for exactly the buckets the cap
    drops. (Eager because a .observe() CollectMetrics node inside the
    broadcast-anti-join subtree never reports — broadcast stages don't
    fire observed-metrics events; the one extra job runs over the
    already-pinned banded table, so it is a small aggregation.)"""
    o = (
        banded.groupBy(*keys)
        .agg(F.count("*").alias("_bn"))
        .filter(F.col("_bn") > max_bucket)
    )
    if cap_stats is not None:
        row = o.agg(
            F.count(F.lit(1)).alias("capped_buckets"),
            F.coalesce(F.sum("_bn"), F.lit(0)).alias("capped_rows"),
        ).collect()[0]
        cap_stats["capped_buckets"] = int(row["capped_buckets"])
        cap_stats["capped_rows"] = int(row["capped_rows"])
    return o.select(*keys)


def _banded_minhash(
    df: DataFrame, id_col: str, text_col: str, k: int, bands: int, counter=None
) -> DataFrame:
    rows = k // bands
    sig = df.select(
        F.col(id_col), make_minhash_udf(k, counter)(F.col(text_col)).alias("sig")
    )
    banded = sig.select(
        F.col(id_col),
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda bidx: F.struct(
                    bidx.alias("band"),
                    F.xxhash64(
                        F.concat_ws(
                            ",",
                            F.transform(
                                F.slice(F.col("sig"), bidx * rows + 1, rows),
                                lambda v: v.cast("string"),
                            ),
                        )
                    ).alias("bucket"),
                ),
            )
        ).alias("bb"),
    ).select(id_col, "bb.band", "bb.bucket")
    return banded


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 64,
    bands: int = 16,
    max_bucket: int | None = None,
    cap_stats: dict | None = None,
) -> DataFrame:
    """MinHash-LSH candidate pairs: signature -> band hashes -> bucket
    self-join. Distinct (id_a, id_b) with id_a < id_b.

    ``max_bucket`` caps the self-join fan-out: a (band, bucket) with
    more than max_bucket members is SKIPPED (anti-join against the —
    tiny — oversized-bucket list, broadcastable). Run AFTER exact-dup
    pre-collapse, an oversized bucket is a degenerate band (e.g. a
    template megacluster), the classic O(K^2) web-scale blowup; use
    lsh_bucket_stats to observe what a cap would drop, or pass a dict
    as ``cap_stats`` to record how many buckets/rows the cap actually
    skipped in THIS run."""
    banded = _pin(_banded_minhash(df, id_col, text_col, k, bands))
    if max_bucket is not None:
        oversized = _oversized_buckets(banded, max_bucket, cap_stats=cap_stats)
        banded = banded.join(oversized, ["band", "bucket"], "left_anti")
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )


def _expand_group_pairs(
    canon_pairs: DataFrame,
    members: DataFrame,
    id_col: str,
    intra_eligible: DataFrame,
) -> DataFrame:
    """Expand canonical-level near-dup pairs back to member-level pairs.

    - cross-group: every (member of A) x (member of B) inherits the
      canonical pair's jaccard — the join is sized by the OUTPUT,
      never by candidate blowup;
    - intra-group: all pairs inside one exact-dup group get jaccard
      1.0 (identical texts), restricted to canonical ids in
      ``intra_eligible``.
    """
    ma = members.select(
        F.col("canonical_id").alias("ca"), F.col(id_col).alias("ia")
    )
    mb = members.select(
        F.col("canonical_id").alias("cb"), F.col(id_col).alias("ib")
    )
    cross = (
        canon_pairs.withColumnRenamed("id_a", "ca")
        .withColumnRenamed("id_b", "cb")
        .join(ma, "ca")
        .join(mb, "cb")
        .select(
            F.least("ia", "ib").alias("id_a"),
            F.greatest("ia", "ib").alias("id_b"),
            "jaccard",
        )
    )
    m1 = members.select(
        "canonical_id", F.col(id_col).alias("ia")
    )
    m2 = members.select(
        "canonical_id", F.col(id_col).alias("ib")
    )
    intra = (
        m1.join(m2, "canonical_id")
        .filter(F.col("ia") < F.col("ib"))
        .join(intra_eligible, "canonical_id", "left_semi")
        .select(
            F.col("ia").alias("id_a"),
            F.col("ib").alias("id_b"),
            F.round(F.lit(1.0), 6).cast("double").alias("jaccard"),
        )
    )
    return cross.unionByName(intra)


def minhash_neardup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    k: int = 64,
    bands: int = 16,
    max_bucket: int | None = 4096,
    cap_stats: dict | None = None,
) -> DataFrame:
    """Exact-dup pre-collapse -> LSH candidates over DISTINCT texts ->
    exact-jaccard verification -> expand back to member pairs.

    With 16 bands x 4 rows, detection probability at j=0.5 is ~64%, at
    0.8 is ~99.98%, at 0.95+ is ~1 — candidates are exactly verified,
    so output precision is 1.0 and recall follows the LSH S-curve.

    Scale design: a K-sized cluster of identical boilerplate previously
    emitted O(K^2) candidates PER BAND; after the collapse it is ONE
    canonical row, its K(K-1)/2 output pairs are emitted directly as
    jaccard-1.0 literals (output-sized work, no verification), and the
    max_bucket cap bounds any residual degenerate bucket."""
    members, canon = _members_and_canon(df, id_col, text_col)
    cands = lsh_candidate_pairs(
        canon, id_col, text_col, k, bands, max_bucket, cap_stats
    )
    side = canon.select(
        F.col(id_col), _distinct_shingles_col(F.col(text_col)).alias("grams")
    )
    joined = (
        cands.join(side.withColumnRenamed(id_col, "id_a").alias("ga"), "id_a")
        .join(
            side.withColumnRenamed(id_col, "id_b")
            .withColumnRenamed("grams", "grams_b")
            .alias("gb"),
            "id_b",
        )
    )
    inter = F.size(F.array_intersect("grams", "grams_b"))
    union = F.size(F.array_union("grams", "grams_b"))
    jac = inter.cast("double") / F.greatest(union, F.lit(1)).cast("double")
    canon_pairs = joined.select(
        "id_a", "id_b", F.round(jac, 6).alias("jaccard")
    ).filter(F.col("jaccard") >= threshold)
    # identical EMPTY texts have jaccard 0 (no shingles), not 1 — only
    # groups whose text has at least one shingle expand to intra pairs
    eligible = side.filter(F.size("grams") > 0).select(
        F.col(id_col).alias("canonical_id")
    )
    return _expand_group_pairs(canon_pairs, members, id_col, eligible)


def minhash_neardup_join(
    df_new: DataFrame,
    df_old: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    k: int = 64,
    bands: int = 16,
    max_bucket: int | None = 4096,
    cap_stats: dict | None = None,
) -> DataFrame:
    """Incremental dedup: near-dup pairs BETWEEN a new batch and an
    existing corpus (id_new, id_old, jaccard) — the continuous-crawl
    shape, where each drop is deduped against everything already kept
    without re-pairing the old corpus against itself.

    Same scale design as the self-join variant: exact-dup pre-collapse
    per side (a cross-side identical K x M cluster is ONE candidate
    pair, expanded to output-sized rows), banded bucket join across
    sides only, oversized buckets capped, candidates verified exactly.
    Identical texts across sides carry identical signatures, so they
    are always candidates (recall 1.0 at jaccard 1).

    NOTE: this form re-signs ``df_old`` on every call. For a standing
    corpus use save_dedup_index once + minhash_neardup_join_indexed per
    batch — the old side is then never re-shingled except for the
    (tiny) verification-candidate set."""
    mem_new, canon_new = _members_and_canon(df_new, id_col, text_col)
    mem_old, canon_old = _members_and_canon(df_old, id_col, text_col)
    bn = _banded_minhash(canon_new, id_col, text_col, k, bands)
    bo = _pin(_banded_minhash(canon_old, id_col, text_col, k, bands))
    return _join_verify_expand(
        bn, bo, canon_new, canon_old, mem_new, mem_old,
        id_col, text_col, threshold, max_bucket, cap_stats,
    )


def _join_verify_expand(
    bn: DataFrame,
    bo: DataFrame,
    texts_new: DataFrame,
    texts_old: DataFrame,
    mem_new: DataFrame,
    mem_old: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float,
    max_bucket: int | None,
    cap_stats: dict | None = None,
) -> DataFrame:
    """Shared tail of the cross-side LSH join: cap oversized buckets on
    COMBINED size (fan-out is |new|*|old|), bucket-join across sides,
    shingle ONLY the verification candidates (semi-join into the text
    sources), verify exact jaccard, expand through both member maps."""
    bn = _pin(bn)
    if max_bucket is not None:
        sizes = _oversized_buckets(
            bn.select("band", "bucket").unionByName(bo.select("band", "bucket")),
            max_bucket,
            cap_stats=cap_stats,
        )
        bn = bn.join(sizes, ["band", "bucket"], "left_anti")
        bo = bo.join(sizes, ["band", "bucket"], "left_anti")
    cands = _pin(
        bn.withColumnRenamed(id_col, "id_new")
        .join(bo.withColumnRenamed(id_col, "id_old"), ["band", "bucket"])
        .select("id_new", "id_old")
        .distinct()
    )
    # candidates-only shingling: at a 100 TB corpus the old side is
    # pruned to the candidate ids BEFORE any text is read or shingled
    # left_semi deduplicates probe keys itself — no .distinct() shuffle
    side_new = texts_new.join(
        cands.select(F.col("id_new").alias(id_col)), id_col, "left_semi"
    ).select(
        F.col(id_col).alias("id_new"),
        _distinct_shingles_col(F.col(text_col)).alias("grams"),
    )
    side_old = texts_old.join(
        cands.select(F.col("id_old").alias(id_col)), id_col, "left_semi"
    ).select(
        F.col(id_col).alias("id_old"),
        _distinct_shingles_col(F.col(text_col)).alias("grams_b"),
    )
    joined = cands.join(side_new, "id_new").join(side_old, "id_old")
    inter = F.size(F.array_intersect("grams", "grams_b"))
    union = F.size(F.array_union("grams", "grams_b"))
    jac = inter.cast("double") / F.greatest(union, F.lit(1)).cast("double")
    canon_pairs = joined.select(
        "id_new", "id_old", F.round(jac, 6).alias("jaccard")
    ).filter(F.col("jaccard") >= threshold)
    # expand each side through its exact-dup group (no intra pairs:
    # within-side duplicates are the self-join operator's concern)
    ma = mem_new.select(
        F.col("canonical_id").alias("id_new"), F.col(id_col).alias("ia")
    )
    mb = mem_old.select(
        F.col("canonical_id").alias("id_old"), F.col(id_col).alias("ib")
    )
    return (
        canon_pairs.join(ma, "id_new")
        .join(mb, "id_old")
        .select(
            F.col("ia").alias("id_new"),
            F.col("ib").alias("id_old"),
            "jaccard",
        )
    )


# ----------------------------------------------------------------------
# persisted signature index (the continuous-crawl scale path)
# ----------------------------------------------------------------------

def save_dedup_index(
    spark,
    df: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 64,
    bands: int = 16,
) -> None:
    """Persist the corpus's LSH signature index so future batches never
    re-shingle it (the old-corpus re-sign dominated incremental
    dedup at scale):

      path/banded/   (id, bucket) partitioned by band — the bucket-join
                     input, partition-pruned per band at probe time;
      path/members/  (id, canonical_id, dup_count) — the exact-dup
                     expansion map;
      path/meta/     (k, bands) — validated at load so a probe with
                     mismatched signature params fails loudly instead
                     of silently joining garbage."""
    from concurrent.futures import ThreadPoolExecutor

    from ..session import local_rows_df

    # eager: the three writes below run concurrently
    members, canon = _members_and_canon(df, id_col, text_col, eager=True)
    banded = _banded_minhash(canon, id_col, text_col, k, bands)
    # the three index tables are independent jobs — overlap them so the
    # tail of one back-fills the others (guide §2.6). The meta frame
    # is a single-slice local list: the default createDataFrame path
    # parallelizes into 32 pickled slices and a downstream coalesce(1)
    # evaluated them sequentially through the Python runner (~4 s
    # measured for this one-row write, r07).
    writes = (
        lambda: banded.write.mode("overwrite")
        .partitionBy("band")
        .parquet(path + "/banded"),
        lambda: members.write.mode("overwrite").parquet(path + "/members"),
        lambda: local_rows_df(spark, [(k, bands)], "k int, bands int", slices=1)
        .write.mode("overwrite")
        .parquet(path + "/meta"),
    )
    with ThreadPoolExecutor(max_workers=3) as pool:
        for f in [pool.submit(w) for w in writes]:
            f.result()


def update_dedup_index(
    spark,
    df_new: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Append a new batch's signatures + members to an existing index —
    the per-drop maintenance step of a continuous crawl. Only the new
    batch is shingled/signed. (Exact dups ACROSS batches keep separate
    canonical entries; identical texts carry identical signatures, so
    cross-batch joins still see them — band buckets simply hold both.)"""
    k, bands = _load_index_meta(spark, path)
    canon = exact_dedup(df_new, id_col, text_col)
    banded = _banded_minhash(canon, id_col, text_col, k, bands)
    banded.write.mode("append").partitionBy("band").parquet(path + "/banded")
    dup_group_members(df_new, id_col, text_col).write.mode("append").parquet(
        path + "/members"
    )


def _load_index_meta(spark, path: str) -> tuple[int, int]:
    meta = spark.read.parquet(path + "/meta").collect()[0]
    return int(meta["k"]), int(meta["bands"])


def minhash_neardup_join_indexed(
    spark,
    df_new: DataFrame,
    index_path: str,
    df_old: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    max_bucket: int | None = 4096,
    counter=None,
    cap_stats: dict | None = None,
) -> DataFrame:
    """minhash_neardup_join against a PERSISTED index: signs only the
    new batch. The old corpus contributes (a) its banded signature
    table, read back partition-pruned — never re-shingled — and (b)
    text for the verification CANDIDATES only (semi-join by candidate
    id into ``df_old``, so the scan is pruned to a tiny id set).

    ``counter`` (a Spark accumulator) counts docs signed — the test
    hook proving the old corpus is never re-signed. Output is
    identical to minhash_neardup_join(df_new, df_old) because the
    index holds exactly the signatures that call would recompute."""
    k, bands = _load_index_meta(spark, index_path)
    bo = spark.read.parquet(index_path + "/banded").select(
        id_col, "band", "bucket"
    )
    mem_old = spark.read.parquet(index_path + "/members")
    mem_new, canon_new = _members_and_canon(df_new, id_col, text_col)
    bn = _banded_minhash(canon_new, id_col, text_col, k, bands, counter=counter)
    return _join_verify_expand(
        bn, bo, canon_new, df_old, mem_new, mem_old,
        id_col, text_col, threshold, max_bucket, cap_stats,
    )

