"""Checkpoint/resume: kill-and-rerun must neither drop nor duplicate
documents, and must skip completed buckets (BASELINE.md resumability)."""

import os

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


def test_group_writes_one_file_per_bucket_and_never_rereads_labels(spark, tmp_path):
    """Each group is labelled once: its labels land as one parquet file
    per bucket dir, and its manifest rows come from the cached labels.
    The pages are in memory and the output dir starts empty, so any
    parquet scan in the run would re-read what the run wrote."""
    out = str(tmp_path / "once")
    sql = spark._jsparkSession.sharedState().statusStore()
    as_java = spark._jvm.scala.jdk.javaapi.CollectionConverters.asJava

    def executions():
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        return {int(e.executionId()) for e in as_java(sql.executionsList())}

    before = executions()
    run_with_resume(spark, _pages(spark), out, n_buckets=N_BUCKETS, group_size=4)
    for eid in executions() - before:
        for node in as_java(sql.planGraph(eid).allNodes()):
            assert not node.name().startswith("Scan parquet"), node.desc()
    for b in range(N_BUCKETS):
        files = [f for f in os.listdir(f"{out}/labels/bucket={b}")
                 if f.endswith(".parquet")]
        assert len(files) == 1, (b, files)
    _assert_manifest_reconciles(spark, out)


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


def test_crash_between_commits(spark, tmp_path, monkeypatch):
    """A run that dies after a group's labels commit but before its
    manifest append leaves those buckets to do; the rerun rewrites them
    (no duplicate labels) and commits each bucket's row once."""
    pages = _pages(spark)
    out = str(tmp_path / "crashed")
    append = resume._append_manifest
    calls = []

    def persisted():
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    def append_crashing_once(*args):
        calls.append(persisted())
        if len(calls) == 2:  # the second group's manifest append
            raise RuntimeError("killed between the labels and manifest commits")
        append(*args)

    monkeypatch.setattr(resume, "_append_manifest", append_crashing_once)
    with pytest.raises(RuntimeError, match="killed between"):
        run_with_resume(spark, pages, out, n_buckets=N_BUCKETS, group_size=2)
    # the crashed group's cached labels are released on the way out
    assert persisted() == calls[-1] - 1
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
