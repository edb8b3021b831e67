"""Checkpoint/resume: kill-and-rerun must neither drop nor duplicate
documents, and must skip completed buckets (BASELINE.md resumability)."""

import json
import os
import shutil
import subprocess
import sys

import pandas as pd
import pytest

from hyperpolyglot_spark.datagen.pages import gen_page, gen_pages_pdf
from hyperpolyglot_spark.plans import resume
from hyperpolyglot_spark.plans.resume import (
    MANIFEST_COLS,
    completed_buckets,
    read_manifest,
    run_with_resume,
)

N = 300
N_BUCKETS = 8


def _pages(spark):
    return spark.createDataFrame(gen_pages_pdf(N))


def _sorted_labels(spark, out):
    df = spark.read.parquet(f"{out}/labels").orderBy("url").drop("bucket")
    return [r.asDict() for r in df.collect()]


def _assert_manifest_reconciles(spark, out, n_buckets=N_BUCKETS):
    """Every bucket has exactly one manifest row, and every manifest
    column equals a group-by over the labels written under ``out``."""
    rows = read_manifest(spark, out).collect()
    assert sorted(r["bucket"] for r in rows) == list(range(n_buckets))
    want = {b: dict.fromkeys(MANIFEST_COLS, 0) for b in range(n_buckets)}
    for lbl in spark.read.parquet(f"{out}/labels").collect():
        w = want[lbl["bucket"]]
        w["docs"] += 1
        w["kept"] += lbl["keep"]
        w["scrub_email"] += lbl["scrub_email"] or 0
        w["scrub_toxicity"] += lbl["scrub_toxicity"] or 0
        if lbl["drop_rule"] is not None:
            w[f"drop_{lbl['drop_rule']}"] += 1
        if lbl["lang_pred"] is None:
            w[f"unresolved_{lbl['disposition']}"] += 1
    for r in rows:
        assert {c: r[c] for c in MANIFEST_COLS} == want[r["bucket"]], r["bucket"]
        # dropped-by-rule columns reconcile per bucket (north rule:
        # metrics rows carry docs seen, kept, dropped-by-rule, scrub counts)
        drops = sum(r[c] for c in MANIFEST_COLS if c.startswith("drop_"))
        assert r["docs"] - r["kept"] == drops, r["bucket"]


def test_resume_after_kill(spark, tmp_path):
    out_interrupted = str(tmp_path / "interrupted")
    out_oneshot = str(tmp_path / "oneshot")
    pages = _pages(spark)

    # simulated kill: only 1 of 4 groups completes
    n = run_with_resume(
        spark, pages, out_interrupted, n_buckets=N_BUCKETS, group_size=2,
        max_groups=1,
    )
    assert n == 1
    done = completed_buckets(spark, out_interrupted)
    assert len(done) == 2

    # resume: remaining groups only
    n2 = run_with_resume(
        spark, pages, out_interrupted, n_buckets=N_BUCKETS, group_size=2
    )
    assert n2 == 3
    assert len(completed_buckets(spark, out_interrupted)) == N_BUCKETS

    # third run: nothing left to do
    assert (
        run_with_resume(spark, pages, out_interrupted, n_buckets=N_BUCKETS)
        == 0
    )

    # uninterrupted baseline
    run_with_resume(spark, pages, out_oneshot, n_buckets=N_BUCKETS)

    rows_a = _sorted_labels(spark, out_interrupted)
    assert len(rows_a) == N
    # identical output, no dups, no gaps
    assert rows_a == _sorted_labels(spark, out_oneshot)

    # lineage metrics present for every bucket exactly once
    manifest = spark.read.parquet(f"{out_interrupted}/_manifest")
    rows = manifest.groupBy("bucket").count().collect()
    assert len(rows) == N_BUCKETS
    assert all(r["count"] == 1 for r in rows)
    assert manifest.groupBy().sum("docs").collect()[0][0] == N
    _assert_manifest_reconciles(spark, out_interrupted)


def _executions(spark):
    """Ids of the SQL executions the session has run so far."""
    sql = spark._jsparkSession.sharedState().statusStore()
    as_java = spark._jvm.scala.jdk.javaapi.CollectionConverters.asJava
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    return {int(e.executionId()) for e in as_java(sql.executionsList())}


def test_group_writes_one_file_per_bucket_and_never_rereads_labels(spark, tmp_path):
    """Each group is one SQL execution: it labels its pages once and
    writes one parquet file per bucket dir, and its manifest rows come
    from the label tasks' counts. The pages are in memory and the output
    dir starts empty, so the probe runs no execution and any parquet
    scan in the run would re-read what the run wrote."""
    out = str(tmp_path / "once")
    sql = spark._jsparkSession.sharedState().statusStore()
    as_java = spark._jvm.scala.jdk.javaapi.CollectionConverters.asJava

    pages = _pages(spark)
    before = _executions(spark)
    groups = run_with_resume(spark, pages, out, n_buckets=N_BUCKETS, group_size=4)
    run = _executions(spark) - before
    assert len(run) == groups == 2
    for eid in run:
        for node in as_java(sql.planGraph(eid).allNodes()):
            assert not node.name().startswith("Scan parquet"), node.desc()
    for b in range(N_BUCKETS):
        files = [f for f in os.listdir(f"{out}/labels/bucket={b}")
                 if f.endswith(".parquet")]
        assert len(files) == 1, (b, files)
    _assert_manifest_reconciles(spark, out)


def test_completed_buckets_fresh_dir_runs_no_spark_job(spark, tmp_path):
    """A missing manifest is a fresh run, found without a Spark read, so
    a fresh run logs no missing-path warning."""
    before = _executions(spark)
    assert completed_buckets(spark, str(tmp_path / "fresh")) == set()
    assert _executions(spark) == before


def test_completed_buckets_raises_on_corrupt_manifest(spark, tmp_path):
    """Only a missing manifest means "nothing done": a manifest that
    cannot be read fails the run instead of restarting it (ADVICE r2)."""
    out = str(tmp_path / "corrupt")
    run_with_resume(spark, _pages(spark), out, n_buckets=N_BUCKETS, max_groups=1)
    with open(f"{out}/_manifest/part-corrupt.snappy.parquet", "wb") as f:
        f.write(b"not a parquet file")
    with pytest.raises(Exception, match="part-corrupt"):
        completed_buckets(spark, out)


def test_rerun_overwrites_only_its_buckets_and_keeps_session_conf(spark, tmp_path):
    """The labels writer overwrites dynamically by its own option: the
    session's partitionOverwriteMode is left as the caller set it, and
    a rerun of buckets 0 and 1 leaves every other bucket dir as it was."""
    key = "spark.sql.sources.partitionOverwriteMode"
    spark.conf.set(key, "static")
    try:
        out = str(tmp_path / "rerun")
        pages = _pages(spark)
        run_with_resume(spark, pages, out, n_buckets=N_BUCKETS)
        assert spark.conf.get(key) == "static"

        def files(b):
            return sorted(os.listdir(f"{out}/labels/bucket={b}"))

        kept = {b: files(b) for b in range(2, N_BUCKETS)}
        first = {b: files(b) for b in (0, 1)}
        shutil.rmtree(f"{out}/_manifest")
        run_with_resume(spark, pages, out, n_buckets=N_BUCKETS, group_size=2,
                        max_groups=1)
        assert spark.conf.get(key) == "static"
        assert {b: files(b) for b in range(2, N_BUCKETS)} == kept
        assert all(set(files(b)).isdisjoint(first[b]) for b in (0, 1))
        assert len(_sorted_labels(spark, out)) == N
    finally:
        spark.conf.unset(key)


def test_task_counts_merge_once_per_partition():
    """A re-executed task's state replaces its partition's earlier one:
    the manifest counts each partition once, however often it ran."""
    merge = resume._MergeByTask()
    states = merge.zero({})
    ones = [1] * len(MANIFEST_COLS)
    for update in ({0: {3: ones}}, {1: {3: ones, 5: ones}}, {0: {3: ones}}):
        states = merge.addInPlace(states, update)
    rows = resume._manifest_rows([3, 4, 5], states)
    assert rows == [[3, *[2] * len(MANIFEST_COLS)],
                    [4, *[0] * len(MANIFEST_COLS)],
                    [5, *ones]]


_RETRY_SCRIPT = """
import json, sys
import pandas as pd
from pyspark import TaskContext
from pyspark.sql import functions as F
from hyperpolyglot_spark.session import get_spark
from hyperpolyglot_spark.datagen.pages import gen_pages_pdf
from hyperpolyglot_spark.plans.resume import run_with_resume
from tests.test_resume import N, N_BUCKETS, _assert_manifest_reconciles

out = sys.argv[1]
spark = get_spark("resume_retry", cores=2)

@F.pandas_udf("binary")
def fail_first_attempt(html: pd.Series) -> pd.Series:
    ctx = TaskContext.get()
    if ctx.partitionId() == 0 and ctx.attemptNumber() == 0:
        raise RuntimeError("injected label task failure")
    return html

pages = spark.createDataFrame(gen_pages_pdf(N))
pages = pages.withColumn("html", fail_first_attempt("html"))
groups = run_with_resume(spark, pages, out, n_buckets=N_BUCKETS,
                         group_size=N_BUCKETS)
tracker = spark.sparkContext.statusTracker()
failed = sum(
    tracker.getStageInfo(s).numFailedTasks
    for j in tracker.getJobIdsForGroup()
    for s in tracker.getJobInfo(j).stageIds
)
_assert_manifest_reconciles(spark, out)
print(json.dumps({"groups": groups, "failed_tasks": failed}))
"""


def test_label_task_retry_counts_once(tmp_path):
    """One label task fails its first attempt and is retried (a
    ``local[2,2]`` master allows one retry): the job succeeds and every
    manifest column still equals a group-by over the written labels, so
    the failed attempt's counts were not merged."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, SPARK_GRAFT_MASTER="local[2,2]", SPARK_DRIVER_MEM="1g",
               PYTHONPATH=os.pathsep.join(filter(None, [root, os.environ.get("PYTHONPATH")])))
    proc = subprocess.run(
        [sys.executable, "-c", _RETRY_SCRIPT, str(tmp_path / "retry")],
        cwd=root, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result == {"groups": 1, "failed_tasks": 1}


def test_manifest_reconciles_under_drop_policy(spark, tmp_path):
    """Under the "drop" policy an unresolved doc carries
    drop_rule='unresolved_lang'; its bucket must still satisfy
    docs - kept == sum(drop_*). Page 1393 of seed 7 is such a doc."""
    pdf = pd.concat(
        [gen_pages_pdf(N), pd.DataFrame([gen_page(1393, seed=7)])],
        ignore_index=True,
    )
    out = str(tmp_path / "drop")
    run_with_resume(
        spark, spark.createDataFrame(pdf), out, n_buckets=N_BUCKETS,
        group_size=4, unresolved_policy="drop",
    )
    _assert_manifest_reconciles(spark, out)
    rows = read_manifest(spark, out).collect()
    assert sum(r["drop_unresolved_lang"] for r in rows) >= 1


def _persisted(spark):
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_crash_between_commits(spark, tmp_path, monkeypatch):
    """A run that dies after a group's labels commit but before its
    manifest commit leaves those buckets to do; the rerun rewrites them
    (no duplicate labels) and commits each bucket's row once."""
    pages = _pages(spark)
    out = str(tmp_path / "crashed")
    commit = resume._commit_manifest
    calls = []

    def commit_crashing_once(*args):
        calls.append(args)
        if len(calls) == 2:  # the second group's manifest commit
            raise RuntimeError("killed between the labels and manifest commits")
        commit(*args)

    persisted = _persisted(spark)
    monkeypatch.setattr(resume, "_commit_manifest", commit_crashing_once)
    with pytest.raises(RuntimeError, match="killed between"):
        run_with_resume(spark, pages, out, n_buckets=N_BUCKETS, group_size=2)
    # the crashed run leaves no persisted RDD behind
    assert _persisted(spark) == persisted
    assert completed_buckets(spark, out) == {0, 1}
    labelled = spark.read.parquet(f"{out}/labels").select("bucket").distinct()
    assert {r["bucket"] for r in labelled.collect()} >= {2, 3}

    assert run_with_resume(spark, pages, out, n_buckets=N_BUCKETS, group_size=2) == 3
    oneshot = str(tmp_path / "oneshot")
    run_with_resume(spark, pages, oneshot, n_buckets=N_BUCKETS)
    rows = _sorted_labels(spark, out)
    assert len(rows) == N
    assert rows == _sorted_labels(spark, oneshot)
    _assert_manifest_reconciles(spark, out)


def test_crash_between_manifest_write_and_rename(spark, tmp_path, monkeypatch):
    """A run that dies after writing the hidden manifest temp file but
    before renaming it commits no manifest row; the rerun redoes the
    group and equals an uninterrupted run."""
    pages = _pages(spark)
    out = str(tmp_path / "unrenamed")

    def crash(*args):
        raise RuntimeError("killed before the manifest rename")

    with monkeypatch.context() as m:
        m.setattr(resume, "_rename", crash)
        with pytest.raises(RuntimeError, match="killed before"):
            run_with_resume(spark, pages, out, n_buckets=N_BUCKETS, group_size=2)
    hidden = os.listdir(f"{out}/_manifest")
    assert hidden and all(f.startswith(".") for f in hidden), hidden
    assert completed_buckets(spark, out) == set()
    assert spark.read.schema(resume.MANIFEST_SCHEMA).parquet(f"{out}/_manifest").count() == 0

    assert run_with_resume(spark, pages, out, n_buckets=N_BUCKETS, group_size=2) == 4
    oneshot = str(tmp_path / "oneshot")
    run_with_resume(spark, pages, oneshot, n_buckets=N_BUCKETS)
    assert _sorted_labels(spark, out) == _sorted_labels(spark, oneshot)
    _assert_manifest_reconciles(spark, out)


def test_crash_before_first_rename_leaves_only_a_hidden_file(spark, tmp_path, monkeypatch):
    """A crash before the first group's manifest rename leaves a manifest
    dir holding only the hidden temp file (and its hidden checksum): a
    rerun's probes read no rows and raise no error, and it redoes the
    group."""
    pages = _pages(spark)
    out = str(tmp_path / "first")

    def crash(*args):
        raise RuntimeError("killed before the first manifest rename")

    with monkeypatch.context() as m:
        m.setattr(resume, "_rename", crash)
        with pytest.raises(RuntimeError, match="killed before"):
            run_with_resume(spark, pages, out, n_buckets=N_BUCKETS, group_size=2)
    left = sorted(os.listdir(f"{out}/_manifest"))
    (tmp,) = [f for f in left if not f.endswith(".crc")]
    assert tmp.startswith(".part-") and tmp.endswith(".tmp")
    assert left == sorted([tmp, f".{tmp}.crc"])
    assert completed_buckets(spark, out) == set()
    manifest = read_manifest(spark, out)
    assert manifest.schema == resume.MANIFEST_SCHEMA
    assert manifest.count() == 0

    assert run_with_resume(spark, pages, out, n_buckets=N_BUCKETS, group_size=2, max_groups=1) == 1
    assert completed_buckets(spark, out) == {0, 1}
    assert read_manifest(spark, out).count() == 2


def test_resume_converges_with_empty_buckets(spark, tmp_path):
    """More buckets than documents: empty buckets must still get a
    manifest row, or todo never drains (ADVICE round 1)."""
    out = str(tmp_path / "sparse")
    pages = _pages(spark).limit(5)
    n = run_with_resume(spark, pages, out, n_buckets=64, group_size=32)
    assert n == 2
    assert len(completed_buckets(spark, out)) == 64
    # converged: nothing left on rerun
    assert run_with_resume(spark, pages, out, n_buckets=64) == 0


def test_read_manifest_mixed_schema_dir(spark, tmp_path):
    """A resumed output dir can hold manifest files written by engine
    versions with different column sets (pre-r5 rows lack the
    unresolved_* audit columns). read_manifest must surface the UNION
    of columns with deterministic 0s for the missing values — never a
    schema that depends on which file's footer Spark sampled
    (r6 ADVICE)."""
    from hyperpolyglot_spark.plans.resume import (
        _UNRESOLVED_COLS,
        read_manifest,
    )

    out = str(tmp_path / "mixed")
    path = f"{out}/_manifest"
    # "old engine" rows: no unresolved_* columns
    spark.createDataFrame(
        [(0, 10, 8, 0, 0)],
        "bucket int, docs long, kept long, scrub_email long,"
        " scrub_toxicity long",
    ).write.mode("append").parquet(path)
    # "new engine" rows: with the audit columns
    spark.createDataFrame(
        [(1, 12, 9, 1, 0, 0, 2, 1)],
        "bucket int, docs long, kept long, scrub_email long,"
        " scrub_toxicity long, unresolved_kept long,"
        " unresolved_quarantined long, unresolved_dropped long",
    ).write.mode("append").parquet(path)

    m = read_manifest(spark, out)
    for c in _UNRESOLVED_COLS:
        assert c in m.columns
    rows = {r["bucket"]: r for r in m.collect()}
    assert len(rows) == 2
    # old row's missing audit columns read as 0, not null
    assert all(rows[0][c] == 0 for c in _UNRESOLVED_COLS)
    assert rows[1]["unresolved_quarantined"] == 2
    assert rows[1]["unresolved_dropped"] == 1
