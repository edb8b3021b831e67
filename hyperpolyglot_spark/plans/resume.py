"""Checkpoint-resumable pipeline runs with per-partition lineage.

North rule: runs must be resumable from checkpoint with per-partition
lineage + metrics. Mechanism (SURVEY.md §7.1.8 — no Structured
Streaming needed for a batch corpus):

  - the corpus is bucketed by pmod(xxhash64(url), n_buckets) — a pure
    function of the data, so bucket membership is stable across runs,
    executors, and cluster sizes (the Iceberg-partition analog);
  - buckets are processed in groups, and each group is labelled ONCE:
    the group's label rows (never its html) are repartitioned by bucket
    and cached;
  - commit 1, labels: the cached frame is written into output partition
    dirs (partitionBy("bucket"), dynamic partition overwrite ->
    idempotent: re-writing a bucket replaces it, never duplicates), one
    file per bucket;
  - commit 2, manifest: the per-bucket lineage row (bucket, docs, kept,
    dropped-by-rule, scrub and unresolved-stratum counts) is aggregated
    from the same cached frame — the written labels are never re-read —
    and appended to the _manifest table, one row per bucket of the group,
    zeros for empty buckets;
  - on startup the manifest is read and completed buckets are skipped —
    the scan never reads them again (pushed-down bucket filter).

A run killed between the two commits leaves labels without manifest
rows; rerunning the same command rewrites those buckets and commits
their rows, so output equals a single uninterrupted run exactly
(tests/test_resume.py asserts this).
"""

from __future__ import annotations

import os

import pyarrow as pa
from pyspark import StorageLevel
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.quality import RULES_WITH_PPL
from .pipeline import (
    DEFAULT_UNRESOLVED_POLICY,
    UNRESOLVED_DROP_RULE,
    run_pipeline,
)

MANIFEST_DIR = "_manifest"
LABELS_DIR = "labels"

# dropped-by-rule manifest columns, one per drop_rule a label can carry:
# every ladder rule plus the unresolved-language drop, so that per bucket
# docs - kept == sum(drop_*) under every unresolved policy
_DROP_RULES = tuple(rule_id for rule_id, _, _, _ in RULES_WITH_PPL) + (
    UNRESOLVED_DROP_RULE,
)
_DROP_COLS = tuple(f"drop_{rule}" for rule in _DROP_RULES)
# unresolved-language stratum audit columns (explicit policy, r5)
_UNRESOLVED_DISPOSITIONS = ("kept", "quarantined", "dropped")
_UNRESOLVED_COLS = tuple(f"unresolved_{d}" for d in _UNRESOLVED_DISPOSITIONS)
MANIFEST_COLS = (
    ("docs", "kept", "scrub_email", "scrub_toxicity") + _DROP_COLS + _UNRESOLVED_COLS
)
MANIFEST_SCHEMA = T.StructType(
    [T.StructField("bucket", T.IntegerType())]
    + [T.StructField(c, T.LongType()) for c in MANIFEST_COLS]
)


def bucket_col(url_col: str = "url", n_buckets: int = 32):
    return F.pmod(F.xxhash64(F.col(url_col)), F.lit(n_buckets)).cast("int")


def completed_buckets(spark: SparkSession, out_dir: str) -> set[int]:
    """Probe the manifest through Spark's reader (works on any Hadoop
    filesystem — HDFS/S3/local — unlike a driver-local os.path check).
    Only ``bucket`` is read, with a fixed schema: every engine version
    wrote it as int, so no footer is sampled or merged."""
    path = os.path.join(out_dir, MANIFEST_DIR)
    try:
        rows = spark.read.schema("bucket int").parquet(path).collect()
    except AnalysisException:  # path does not exist yet -> fresh run
        return set()
    # any OTHER error (permissions, corrupt footer, transient FS) must
    # propagate: swallowing it would silently restart the whole run and
    # append duplicate manifest rows (ADVICE r2)
    return {r["bucket"] for r in rows}


def _manifest_aggs():
    """Per-bucket lineage aggregates over label rows, named as
    MANIFEST_COLS."""
    return [
        F.count("*").alias("docs"),
        F.sum(F.col("keep").cast("long")).alias("kept"),
        F.sum(F.coalesce("scrub_email", F.lit(0))).alias("scrub_email"),
        F.sum(F.coalesce("scrub_toxicity", F.lit(0))).alias("scrub_toxicity"),
        *(
            F.sum((F.col("drop_rule") == rule).cast("long")).alias(f"drop_{rule}")
            for rule in _DROP_RULES
        ),
        *(
            F.sum(
                (F.col("lang_pred").isNull() & (F.col("disposition") == d)).cast(
                    "long"
                )
            ).alias(f"unresolved_{d}")
            for d in _UNRESOLVED_DISPOSITIONS
        ),
    ]


def _append_manifest(spark: SparkSession, rows: list[tuple], path: str) -> None:
    """Append lineage rows (MANIFEST_SCHEMA order) as one Arrow-built
    local frame: no Python-runner round trip, one small file."""
    table = pa.table(dict(zip(MANIFEST_SCHEMA.names, zip(*rows))))
    spark.createDataFrame(table, MANIFEST_SCHEMA).write.mode("append").parquet(path)


def run_with_resume(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    n_buckets: int = 32,
    group_size: int = 8,
    max_groups: int | None = None,
    model=None,
    unresolved_policy: str = DEFAULT_UNRESOLVED_POLICY,
) -> int:
    """Run the pipeline bucket-group by bucket-group, committing a
    manifest row per completed bucket. Returns #groups processed this
    invocation. ``max_groups`` exists so tests can simulate a kill.

    ``unresolved_policy`` routes the NULL-lang stratum (see the policy
    note in plans/pipeline.py); the lineage manifest carries the
    stratum's disposition per bucket (unresolved_kept /
    unresolved_quarantined / unresolved_dropped) so a 10^12-doc run
    can audit what the policy did without re-scanning the labels."""
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    done = completed_buckets(spark, out_dir)
    todo = [b for b in range(n_buckets) if b not in done]
    groups = [
        todo[i : i + group_size] for i in range(0, len(todo), group_size)
    ]
    if max_groups is not None:
        groups = groups[:max_groups]

    labels_path = os.path.join(out_dir, LABELS_DIR)
    manifest_path = os.path.join(out_dir, MANIFEST_DIR)

    for group in groups:
        src = pages.filter(bucket_col(n_buckets=n_buckets).isin(group))
        # only label rows cross the shuffle; each bucket lands in one
        # partition, so the write below makes one file per bucket
        labels = (
            run_pipeline(spark, src, model=model, unresolved_policy=unresolved_policy)
            .withColumn("bucket", bucket_col(n_buckets=n_buckets))
            .repartition("bucket")
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        try:
            # idempotent per-partition write: dynamic overwrite replaces
            # exactly the bucket= dirs this group touches
            labels.write.mode("overwrite").partitionBy("bucket").parquet(
                labels_path
            )
            stats = {
                r["bucket"]: r.asDict()
                for r in labels.groupBy("bucket").agg(*_manifest_aggs()).collect()
            }
            # lineage rows, appended only after the labels commit. Every
            # bucket in the group gets a row — including empty buckets
            # (which wrote no partition dir): an absent row would keep the
            # bucket in `todo` forever and the run would never converge.
            # A sum over only NULLs (no doc with a drop_rule) is NULL: 0.
            rows = [
                (b, *(stats.get(b, {}).get(c) or 0 for c in MANIFEST_COLS))
                for b in group
            ]
            _append_manifest(spark, rows, manifest_path)
        finally:
            labels.unpersist()
    return len(groups)


def read_manifest(spark: SparkSession, out_dir: str) -> DataFrame:
    """Canonical audit read of the lineage manifest. The manifest is
    append-only across engine versions, so a resumed output dir can
    legitimately hold files with different schemas (e.g. pre-r5 rows
    lack the unresolved_* columns). A plain ``spark.read.parquet``
    samples ONE file's footer for the schema — which columns you see
    would then depend on which file Spark picked (r6 ADVICE). This
    helper always merges schemas (union of all footers) and fills the
    numeric audit columns with 0 for rows written before the column
    existed, so audits over mixed-version dirs are deterministic."""
    df = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(out_dir, MANIFEST_DIR)
    )
    return df.na.fill(0, [c for c in MANIFEST_COLS if c in df.columns])
