"""Physical-plan quality gates — the .explain() audit as assertions.

These guard the properties that matter at 100 TB: column pruning
holds, small dims broadcast, the pages pipeline stays narrow with
exactly one Python stage, and aggregations are partial+final (no
raw-row shuffles).
"""

from pyspark.sql import functions as F

import __spark_entry__ as entry_mod
from hyperpolyglot_spark.datagen.pages import gen_pages_pdf
from hyperpolyglot_spark.plans.pipeline import metrics, run_pipeline

SF = "/root/testdata/sf0.01"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_pipeline_is_narrow_single_python_stage(spark):
    pages = spark.createDataFrame(gen_pages_pdf(50))
    labels = run_pipeline(spark, pages)
    plan = plan_of(labels)
    assert plan.count("ArrowEvalPython") == 1  # one fused python hop
    assert "Exchange" not in plan  # zero shuffles scan -> labels
    m = plan_of(metrics(labels))
    # the metrics agg shuffles only the aggregate, partial+final
    assert m.count("Exchange") == 1
    assert m.count("HashAggregate") >= 2


def test_pipeline_scan_column_pruned(spark, tmp_path):
    # from parquet (pruning is a scan feature): only url/warc_ts/html read
    path = str(tmp_path / "pp")
    spark.createDataFrame(gen_pages_pdf(50)).write.parquet(path)
    labels = run_pipeline(spark, spark.read.parquet(path))
    plan = plan_of(labels)
    assert "ReadSchema" in plan
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "html" in read_schema and "url" in read_schema
    assert "text" not in read_schema and "lang" not in read_schema


def test_agg_is_partial_final(spark):
    plan = plan_of(entry_mod.lang_breakdown(spark, SF))
    # partial_count then final count around one exchange (map-side combine)
    assert plan.count("HashAggregate") >= 2
    assert "partial_count" in plan


def test_percent_of_total_has_no_global_window(spark):
    """pct queries use a broadcast scalar agg, not a partitionless
    window (which funnels rows through ONE partition)."""
    plan = plan_of(entry_mod.lang_breakdown(spark, SF))
    assert "Window" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_indexed_incremental_join_plan(spark):
    """The persisted-index incremental dedup: no cartesian/BNLJ
    anywhere, and the old side's banded signatures come from a PARQUET
    SCAN of the index (never a re-signing ArrowEvalPython over df_old).
    (Short tempfile path: FileScan Location strings truncate at 100
    chars, so a long pytest tmp_path would hide 'idx/banded'.)"""
    import shutil
    import tempfile

    from hyperpolyglot_spark.operators.dedup import (
        minhash_neardup_join_indexed,
        save_dedup_index,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    old = docs.filter(F.col("doc_id") < 250)
    new = docs.filter(F.col("doc_id") >= 250)
    root = tempfile.mkdtemp(prefix="hpidx-")
    try:
        idx = f"{root}/idx"
        save_dedup_index(spark, old, idx)
        out = minhash_neardup_join_indexed(spark, new, idx, old, threshold=0.5)
        plan = plan_of(out)
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert "idx/banded" in plan  # the index scan feeds the bucket join
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_small_dim_is_broadcast(spark):
    """The language-info dim (102 rows) joins the corpus by broadcast:
    a hash probe per row, no shuffle of the corpus to meet it and no
    nested-loop or cartesian fallback."""
    plan = plan_of(entry_mod.family_breakdown(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
