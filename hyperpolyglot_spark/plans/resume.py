"""Checkpoint-resumable pipeline runs with per-partition lineage.

North rule: runs must be resumable from checkpoint with per-partition
lineage + metrics. Mechanism (SURVEY.md §7.1.8 — no Structured
Streaming needed for a batch corpus):

  - the corpus is bucketed by pmod(xxhash64(url), n_buckets) — a pure
    function of the data, so bucket membership is stable across runs,
    executors, and cluster sizes (the Iceberg-partition analog);
  - buckets are processed in groups, and each group is ONE Spark SQL
    execution: scan, bucket filter, label, repartition by bucket, write.
    Only label rows (never html) cross the shuffle;
  - commit 1, labels: the Spark write puts them into output partition
    dirs (partitionBy("bucket"), dynamic partition overwrite ->
    idempotent: re-writing a bucket replaces it, never duplicates), one
    file per bucket;
  - commit 2, manifest: the per-bucket lineage row (bucket, docs, kept,
    dropped-by-rule, scrub and unresolved-stratum counts) is counted by
    the label tasks themselves, as per-task states in an accumulator
    (the mergeable partition states of "Differential Data Quality
    Verification on Partitioned Data", ICDE 2019). The driver sums
    them into one row per bucket of the group, zeros for empty buckets,
    writes the rows as one hidden parquet file under _manifest and
    renames it visible. No second pass over the labels;
  - on startup the manifest is read and completed buckets are skipped —
    the scan never reads them again (pushed-down bucket filter).

A run killed between the two commits, or before the manifest rename,
leaves labels without manifest rows; rerunning the same command
rewrites those buckets and commits their rows, so output equals a
single uninterrupted run exactly (tests/test_resume.py asserts this).
"""

from __future__ import annotations

import os
import uuid
from typing import Iterator

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark import TaskContext
from pyspark.accumulators import AccumulatorParam
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.quality import RULES_WITH_PPL
from .pipeline import (
    _LABEL_SCHEMA,
    DEFAULT_UNRESOLVED_POLICY,
    UNRESOLVED_DROP_RULE,
    disposition_col,
    make_label_fn,
    py_disposition,
)

MANIFEST_DIR = "_manifest"
LABELS_DIR = "labels"
# the default bucket layout: the job's and the benchmark's. A cluster run
# over a large crawl raises both (e.g. 4096 buckets, 256 per group)
DEFAULT_N_BUCKETS = 64
DEFAULT_GROUP_SIZE = 16

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


def _hadoop_path(spark: SparkSession, path: str):
    """The Hadoop ``FileSystem`` of ``path`` and ``path`` as a Hadoop
    ``Path``: driver-side file operations that work on any Hadoop
    filesystem (HDFS/S3/local), unlike os.path."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration()), jpath


def _manifest_files(spark: SparkSession, out_dir: str) -> list[str]:
    """The committed manifest files: the visible ``part-*`` files under
    ``_manifest``, listed through the Hadoop ``FileSystem`` (no Spark
    job); none for a fresh run. Spark is given these files, not the
    dir: it would log "All paths were ignored" for a dir whose name
    starts with ``_``, and a dir holding only a hidden temp file has no
    schema to read."""
    fs, jdir = _hadoop_path(spark, os.path.join(out_dir, MANIFEST_DIR))
    if not fs.exists(jdir):
        return []
    # listed, not globbed: a glob would read glob characters in out_dir
    # as a pattern and could find no file in an existing manifest
    paths = spark._jvm.org.apache.hadoop.fs.FileUtil.stat2Paths(fs.listStatus(jdir))
    return sorted(p.toString() for p in paths if p.getName().startswith("part-"))


def completed_buckets(spark: SparkSession, out_dir: str) -> set[int]:
    """The buckets with a manifest row. A fresh run (no manifest file) is
    found by a listing that runs no Spark job; any error reading an
    existing manifest file (permissions, corrupt footer, transient FS)
    propagates: swallowing it would silently restart the whole run and
    append duplicate manifest rows (ADVICE r2). Only ``bucket`` is read,
    with a fixed schema: every engine version wrote it as int, so no
    footer is sampled or merged."""
    files = _manifest_files(spark, out_dir)
    if not files:
        return set()
    rows = spark.read.schema("bucket int").parquet(*files).collect()
    return {r["bucket"] for r in rows}


class _MergeByTask(AccumulatorParam):
    """Accumulator of per-task states keyed by Spark partition id. The
    merge is ``dict.update``, so a re-executed task (stage retry,
    speculation) overwrites its partition's state instead of adding to
    it; Spark never merges the updates of a failed attempt."""

    def zero(self, value):
        return {}

    def addInPlace(self, acc, update):
        acc.update(update)
        return acc


_COL_INDEX = {c: i for i, c in enumerate(MANIFEST_COLS)}


def _count_labels(counts: dict, buckets, labels: pd.DataFrame, policy: str) -> None:
    """Fold one batch of label columns into per-bucket lineage counts
    (MANIFEST_COLS order)."""
    for b, keep, drop_rule, lang, email, toxicity in zip(
        buckets,
        labels["keep"],
        labels["drop_rule"],
        labels["lang_pred"],
        labels["scrub_email"],
        labels["scrub_toxicity"],
    ):
        c = counts.setdefault(int(b), [0] * len(MANIFEST_COLS))
        c[0] += 1
        c[1] += keep
        c[2] += email or 0
        c[3] += toxicity or 0
        if drop_rule is not None:
            c[_COL_INDEX[f"drop_{drop_rule}"]] += 1
        if lang is None:
            c[_COL_INDEX[f"unresolved_{py_disposition(keep, lang, policy)}"]] += 1


def _counting_label_udf(spark: SparkSession, counts, policy: str):
    """The group's label UDF over (url, html, bucket): the labels of
    make_label_fn, plus the task's per-bucket lineage counts added to
    the ``counts`` accumulator once, when the task's last batch is
    done."""
    label = make_label_fn(spark, policy)

    @F.pandas_udf(_LABEL_SCHEMA)
    def label_udf(
        batches: Iterator[tuple[pd.Series, pd.Series, pd.Series]],
    ) -> Iterator[pd.DataFrame]:
        state: dict = {}
        for urls, html, buckets in batches:
            out = label(urls, html)
            _count_labels(state, buckets, out, policy)
            yield out
        counts.add({TaskContext.get().partitionId(): state})

    return label_udf


def _manifest_rows(group: list[int], states: dict) -> list[list[int]]:
    """One lineage row (bucket, *MANIFEST_COLS) per bucket of the group:
    the sum of the task states' counts, zeros where no task saw the
    bucket."""
    totals = {b: [0] * len(MANIFEST_COLS) for b in group}
    for state in states.values():
        for b, c in state.items():
            totals[b] = [x + y for x, y in zip(totals[b], c)]
    return [[b, *totals[b]] for b in group]


def _manifest_parquet(rows: list[list[int]]) -> bytes:
    """Lineage rows (bucket, *MANIFEST_COLS) as snappy parquet bytes with
    MANIFEST_SCHEMA's physical types: bucket int32, counts int64."""
    cols = list(zip(*rows))
    table = pa.table(
        [pa.array(cols[0], pa.int32())] + [pa.array(c, pa.int64()) for c in cols[1:]],
        names=MANIFEST_SCHEMA.names,
    )
    sink = pa.BufferOutputStream()
    pq.write_table(table, sink, compression="snappy")
    return sink.getvalue().to_pybytes()


def _rename(fs, src, dst) -> None:
    """Hadoop's rename reports failure by returning false: raise."""
    if not fs.rename(src, dst):
        raise OSError(f"could not rename {src.toString()} to {dst.toString()}")


def _commit_manifest(spark: SparkSession, rows: list[list[int]], path: str) -> None:
    """Commit lineage rows as one manifest file from the driver: write
    the parquet to a hidden ``.<name>.tmp`` under ``path``, then rename
    it visible. Spark's reader ignores ``.``- and ``_``-prefixed files,
    so a crash before the rename commits no row and the rerun redoes
    the group."""
    fs, jdir = _hadoop_path(spark, path)
    Path = spark._jvm.org.apache.hadoop.fs.Path
    name = f"part-{uuid.uuid4()}.snappy.parquet"
    tmp = Path(jdir, f".{name}.tmp")
    out = fs.create(tmp, False)
    try:
        out.write(_manifest_parquet(rows))
    finally:
        out.close()
    _rename(fs, tmp, Path(jdir, name))


def run_with_resume(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    n_buckets: int = DEFAULT_N_BUCKETS,
    group_size: int = DEFAULT_GROUP_SIZE,
    max_groups: int | None = None,
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
    done = completed_buckets(spark, out_dir)
    todo = [b for b in range(n_buckets) if b not in done]
    groups = [
        todo[i : i + group_size] for i in range(0, len(todo), group_size)
    ]
    if max_groups is not None:
        groups = groups[:max_groups]

    labels_path = os.path.join(out_dir, LABELS_DIR)
    manifest_path = os.path.join(out_dir, MANIFEST_DIR)
    bucket = f"CAST(pmod(xxhash64(url), {n_buckets}) AS INT)"

    for group in groups:
        counts = spark.sparkContext.accumulator({}, _MergeByTask())
        label = _counting_label_udf(spark, counts, unresolved_policy)
        src = pages.selectExpr("url", "warc_ts", "html", f"{bucket} AS bucket").where(
            f"bucket IN ({', '.join(map(str, group))})"
        )
        # only label rows cross the shuffle; each bucket lands in one
        # partition, so the write makes one file per bucket. Dynamic
        # overwrite replaces exactly the bucket= dirs this group touches:
        # re-writing a bucket replaces it, never duplicates it
        (
            src.select("url", "warc_ts", label("url", "html", "bucket").alias("_l"), "bucket")
            .select(
                "url",
                "warc_ts",
                "_l.*",
                disposition_col(unresolved_policy, "_l.keep", "_l.lang_pred").alias(
                    "disposition"
                ),
                "bucket",
            )
            .repartition("bucket")
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("bucket")
            .parquet(labels_path)
        )
        # lineage rows, committed only after the labels. Every bucket in
        # the group gets a row — including empty buckets (which wrote no
        # partition dir): an absent row would keep the bucket in `todo`
        # forever and the run would never converge.
        _commit_manifest(spark, _manifest_rows(group, counts.value), manifest_path)
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
    existed, so audits over mixed-version dirs are deterministic. With
    no manifest file it is an empty frame of MANIFEST_SCHEMA."""
    files = _manifest_files(spark, out_dir)
    if not files:
        return spark.createDataFrame([], MANIFEST_SCHEMA)
    df = spark.read.option("mergeSchema", "true").parquet(*files)
    return df.na.fill(0, [c for c in MANIFEST_COLS if c in df.columns])
