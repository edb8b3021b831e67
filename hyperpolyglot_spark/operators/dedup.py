"""Near-duplicate pairs between a new crawl drop and a standing corpus.

The operator is a persisted-index MinHash join:

  - save_dedup_index writes the corpus's signature index once and
    update_dedup_index appends each drop to it;
  - minhash_neardup_join_indexed returns (id_new, id_old, jaccard) for
    a new batch against the index, signing only the new batch.

Both sides are collapsed to one canonical row per exact text first
(md5 groupBy, shuffling only (hash, id)). Canonical texts are shingled
into word 3-grams and signed with K minhashes in ONE vectorized numpy
pandas UDF, split into BANDS band hashes, bucket-joined across sides
with oversized buckets capped, verified by exact jaccard on candidates
only, and expanded back through each side's exact-dup groups.

Its oracles: minhash_neardup_join (the same relation, re-signing the
old side on every call), ngram_jaccard_pairs (exact all-pairs jaccard
within a blocking key) and exact_dedup_groups (the md5 groups).

The signature parameters are module constants. The index records them
in meta, and a probe or update against an index built with others
fails instead of joining incomparable signatures.

Determinism: all hashing is keyed blake2b / affine-permutation over a
64-bit base hash — stable across processes, Python versions, and
cluster sizes (never builtin hash(), which is salted per process).
"""

from __future__ import annotations

import hashlib
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark import StorageLevel

from ..session import local_rows_df

ID_COL = "doc_id"
TEXT_COL = "text"
# K minhashes in BANDS bands of K // BANDS rows: detection probability
# ~64% at jaccard 0.5, ~99.98% at 0.8
K = 64
BANDS = 16
# word n-gram length of the shingles
SHINGLE_N = 3

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
def pinned_scope():
    """Scope dedup pin lifetime to a block::

        with pinned_scope():
            pairs = minhash_neardup_join_indexed(spark, batch, idx, corpus).collect()
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
                df.unpersist()
            except Exception:  # session already stopped: nothing to free
                pass


# affine permutation params for minhash: deterministic, generated from
# a fixed seed via blake2b of the permutation index
_MERSENNE = (1 << 61) - 1


def _perm_params() -> tuple[np.ndarray, np.ndarray]:
    a, b = [], []
    for i in range(K):
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


def word_shingles(text: str) -> set[str]:
    w = text.split()
    if len(w) < SHINGLE_N:
        return {" ".join(w)} if w else set()
    return {" ".join(w[i : i + SHINGLE_N]) for i in range(len(w) - SHINGLE_N + 1)}


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


def make_minhash_udf(counter=None):
    """Arrow-batched minhash signature UDF. ALL shingles of a batch are
    hashed in ONE _hash64_batch pass; the k-permutation min-reduction
    is a segment-min over the shared value matrix. ``counter`` is an
    optional Spark accumulator incremented by docs signed — the
    observability hook tests use to prove an indexed incremental run
    never re-signs the old corpus. Caveat: the increment happens
    inside the task, so task retries and speculative execution
    double-count — treat the value as a debug/lower-bound signal (its
    test role), never as an exact production 'docs signed' metric."""
    a, b = _perm_params()

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
        empty = [0] * K
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


def exact_dedup_groups(df: DataFrame) -> DataFrame:
    """(text_hash, canonical_id, dup_count) per distinct content hash.
    Shuffles only (hash, id) pairs — the text never moves."""
    return (
        df.select(F.md5(F.col(TEXT_COL)).alias("text_hash"), F.col(ID_COL))
        .groupBy("text_hash")
        .agg(
            F.min(ID_COL).alias("canonical_id"),
            F.count("*").alias("dup_count"),
        )
    )


def _distinct_shingles_col(text: Column) -> Column:
    """JVM-side distinct word-n-gram string array. Built from n O(len)
    slices zipped then joined — the per-gram lambda does a constant-size
    concat only (a per-gram F.slice would make this O(len^2))."""
    n = SHINGLE_N
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
    df: DataFrame, block_col: str | None = None, threshold: float = 0.5
) -> DataFrame:
    """Exact all-pairs jaccard within a blocking key (all pairs when
    ``block_col`` is None), (id_a, id_b, jaccard) with id_a < id_b.
    Pure built-ins: array_intersect/array_union on distinct shingle
    arrays. The quadratic truth the MinHash join is held to, and the
    DuckDB-oracle-able query."""
    side = df.select(
        F.col(ID_COL), _distinct_shingles_col(F.col(TEXT_COL)).alias("grams"),
        *( [F.col(block_col)] if block_col else [] ),
    )
    a = side.alias("a")
    b = side.alias("b")
    cond = F.col(f"a.{ID_COL}") < F.col(f"b.{ID_COL}")
    if block_col:
        cond = cond & (F.col(f"a.{block_col}") == F.col(f"b.{block_col}"))
    joined = a.join(b, cond)
    inter = F.size(F.array_intersect("a.grams", "b.grams"))
    union = F.size(F.array_union("a.grams", "b.grams"))
    jac = inter.cast("double") / F.greatest(union, F.lit(1)).cast("double")
    return (
        joined.select(
            F.col(f"a.{ID_COL}").alias("id_a"),
            F.col(f"b.{ID_COL}").alias("id_b"),
            F.round(jac, 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def _members_and_canon(
    df: DataFrame, eager: bool = False
) -> tuple[DataFrame, DataFrame]:
    """(members, canon) sharing ONE checkpointed exact-dup group table:
    members is (doc_id, canonical_id, dup_count) per row, the map that
    expands canonical pairs back to every copy; canon is the rows
    whose doc_id is their group's canonical_id, the pre-collapsed
    corpus the signatures are computed over.

    Built independently the two would each recompute the md5 groupBy —
    two corpus-sized hash aggregations where one suffices (r07, guide
    §2.4: two operations keyed the same way share one exchange). The
    group table is (hash, id, count)-shaped. localCheckpoint, NOT
    persist: a persisted subtree executes without AQE partition
    coalescing (canChangeCachedPlanOutputPartitioning is off), which
    measured 2x SLOWER here (64 tiny cached blocks re-read per
    branch); the checkpoint materializes once with AQE and both
    branches scan the materialized RDD. ``eager`` materializes it
    before returning, for callers that run the branches as concurrent
    jobs: a lazy checkpoint would race them into computing the md5
    groupBy once per job.

    PRECONDITION: doc_id is unique per row. With duplicated ids the
    semi-join keeps every row carrying a canonical id."""
    groups = exact_dedup_groups(df).localCheckpoint(eager=eager)
    m = df.select(F.col(ID_COL), F.md5(F.col(TEXT_COL)).alias("text_hash"))
    members = m.join(groups, "text_hash").select(
        ID_COL, "canonical_id", "dup_count"
    )
    canon = df.join(
        groups.select(F.col("canonical_id").alias(ID_COL)), ID_COL, "left_semi"
    )
    return members, canon


def _oversized_buckets(
    banded: DataFrame, max_bucket: int, cap_stats: dict | None = None
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
        banded.groupBy("band", "bucket")
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
    return o.select("band", "bucket")


def _banded_minhash(df: DataFrame, counter=None) -> DataFrame:
    """(doc_id, band, bucket): each doc's signature cut into BANDS
    bands, each band hashed to one bucket."""
    rows = K // BANDS
    sig = df.select(
        F.col(ID_COL), make_minhash_udf(counter)(F.col(TEXT_COL)).alias("sig")
    )
    return sig.select(
        F.col(ID_COL),
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(BANDS - 1)),
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
    ).select(ID_COL, "bb.band", "bb.bucket")


def minhash_neardup_join(
    df_new: DataFrame,
    df_old: DataFrame,
    threshold: float = 0.5,
    max_bucket: int | None = 4096,
    cap_stats: dict | None = None,
) -> DataFrame:
    """Incremental dedup: near-dup pairs BETWEEN a new batch and an
    existing corpus (id_new, id_old, jaccard) — the continuous-crawl
    shape, where each drop is deduped against everything already kept
    without re-pairing the old corpus against itself.

    Exact-dup pre-collapse per side (a cross-side identical n x m
    cluster is ONE candidate pair, expanded to output-sized rows),
    banded bucket join across sides only, oversized buckets capped,
    candidates verified exactly.
    Identical texts across sides carry identical signatures, so they
    are always candidates (recall 1.0 at jaccard 1).

    NOTE: this form re-signs ``df_old`` on every call. For a standing
    corpus use save_dedup_index once + minhash_neardup_join_indexed per
    batch — the old side is then never re-shingled except for the
    (tiny) verification-candidate set."""
    mem_new, canon_new = _members_and_canon(df_new)
    mem_old, canon_old = _members_and_canon(df_old)
    bn = _banded_minhash(canon_new)
    bo = _pin(_banded_minhash(canon_old))
    return _join_verify_expand(
        bn, bo, canon_new, canon_old, mem_new, mem_old,
        threshold, max_bucket, cap_stats,
    )


def _join_verify_expand(
    bn: DataFrame,
    bo: DataFrame,
    texts_new: DataFrame,
    texts_old: DataFrame,
    mem_new: DataFrame,
    mem_old: DataFrame,
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
        bn.withColumnRenamed(ID_COL, "id_new")
        .join(bo.withColumnRenamed(ID_COL, "id_old"), ["band", "bucket"])
        .select("id_new", "id_old")
        .distinct()
    )
    # candidates-only shingling: at a 100 TB corpus the old side is
    # pruned to the candidate ids BEFORE any text is read or shingled
    # left_semi deduplicates probe keys itself — no .distinct() shuffle
    side_new = texts_new.join(
        cands.select(F.col("id_new").alias(ID_COL)), ID_COL, "left_semi"
    ).select(
        F.col(ID_COL).alias("id_new"),
        _distinct_shingles_col(F.col(TEXT_COL)).alias("grams"),
    )
    side_old = texts_old.join(
        cands.select(F.col("id_old").alias(ID_COL)), ID_COL, "left_semi"
    ).select(
        F.col(ID_COL).alias("id_old"),
        _distinct_shingles_col(F.col(TEXT_COL)).alias("grams_b"),
    )
    joined = cands.join(side_new, "id_new").join(side_old, "id_old")
    inter = F.size(F.array_intersect("grams", "grams_b"))
    union = F.size(F.array_union("grams", "grams_b"))
    jac = inter.cast("double") / F.greatest(union, F.lit(1)).cast("double")
    canon_pairs = joined.select(
        "id_new", "id_old", F.round(jac, 6).alias("jaccard")
    ).filter(F.col("jaccard") >= threshold)
    # expand each side through its exact-dup group; pairs within one
    # side are not part of this relation
    ma = mem_new.select(
        F.col("canonical_id").alias("id_new"), F.col(ID_COL).alias("ia")
    )
    mb = mem_old.select(
        F.col("canonical_id").alias("id_old"), F.col(ID_COL).alias("ib")
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

def _write_index(df: DataFrame, path: str, mode: str, *more) -> None:
    """Sign ``df``'s canonical rows into path/banded and write its
    member map to path/members (``mode``: overwrite or append),
    overlapped with the ``more`` writes. The writes are independent
    jobs, so the tail of one back-fills the others (guide §2.6)."""
    # eager: the writes below run concurrently
    members, canon = _members_and_canon(df, eager=True)
    banded = _banded_minhash(canon)
    writes = (
        lambda: banded.write.mode(mode).partitionBy("band").parquet(path + "/banded"),
        lambda: members.write.mode(mode).parquet(path + "/members"),
        *more,
    )
    with ThreadPoolExecutor(max_workers=len(writes)) as pool:
        for f in [pool.submit(w) for w in writes]:
            f.result()


def save_dedup_index(spark, df: DataFrame, path: str) -> None:
    """Persist the corpus's LSH signature index so future batches never
    re-shingle it (the old-corpus re-sign dominated incremental
    dedup at scale):

      path/banded/   (id, bucket) partitioned by band — the bucket-join
                     input, partition-pruned per band at probe time;
      path/members/  (id, canonical_id, dup_count) — the exact-dup
                     expansion map;
      path/meta/     (k, bands) — checked at every probe and update, so
                     an index signed with other parameters fails loudly
                     instead of silently joining garbage."""
    # the meta frame is a single-slice local list: the default
    # createDataFrame path parallelizes into 32 pickled slices and a
    # downstream coalesce(1) evaluated them sequentially through the
    # Python runner (~4 s measured for this one-row write, r07)
    _write_index(
        df, path, "overwrite",
        lambda: local_rows_df(spark, [(K, BANDS)], "k int, bands int")
        .write.mode("overwrite")
        .parquet(path + "/meta"),
    )


def update_dedup_index(spark, df_new: DataFrame, path: str) -> None:
    """Append a new batch's signatures + members to an existing index —
    the per-drop maintenance step of a continuous crawl. Only the new
    batch is shingled/signed. (Exact dups ACROSS batches keep separate
    canonical entries; identical texts carry identical signatures, so
    cross-batch joins still see them — band buckets simply hold both.)"""
    _check_index_meta(spark, path)
    _write_index(df_new, path, "append")


def _check_index_meta(spark, path: str) -> None:
    """Raise unless the index at ``path`` was signed with (K, BANDS)."""
    meta = spark.read.parquet(path + "/meta").collect()[0]
    k, bands = int(meta["k"]), int(meta["bands"])
    if (k, bands) != (K, BANDS):
        raise ValueError(
            f"dedup index {path} was signed with k={k}, bands={bands}; "
            f"this code signs with k={K}, bands={BANDS}"
        )


def minhash_neardup_join_indexed(
    spark,
    df_new: DataFrame,
    index_path: str,
    df_old: DataFrame,
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
    _check_index_meta(spark, index_path)
    bo = spark.read.parquet(index_path + "/banded").select(
        ID_COL, "band", "bucket"
    )
    mem_old = spark.read.parquet(index_path + "/members")
    mem_new, canon_new = _members_and_canon(df_new)
    bn = _banded_minhash(canon_new, counter=counter)
    return _join_verify_expand(
        bn, bo, canon_new, df_old, mem_new, mem_old,
        threshold, max_bucket, cap_stats,
    )
