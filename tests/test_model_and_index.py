"""IVF index partition pruning."""

from pyspark.sql import functions as F

from hyperpolyglot_spark.operators.similarity import (
    brute_force_topk,
    build_ivf_index,
    ivf_topk_indexed,
)

SF = "/root/testdata/sf0.01"


def test_ivf_indexed_search_prunes_partitions(spark, tmp_path):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    path = str(tmp_path / "ivf")
    build_ivf_index(emb, path, n_cells=8)
    q = [float(x) for x in emb.filter(F.col("vec_id") == 3).collect()[0]["embedding"]]

    res = ivf_topk_indexed(spark, path, q, k=10, n_probe=4)
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell" in plan.split("PartitionFilters")[1][:120]

    approx = {r["vec_id"] for r in res.collect()}
    exact = {r["vec_id"] for r in brute_force_topk(emb, q, k=10).collect()}
    assert len(approx & exact) / 10 >= 0.7
    # full probe over the index == exact
    full = {
        r["vec_id"]
        for r in ivf_topk_indexed(spark, path, q, k=10, n_probe=8).collect()
    }
    assert full == exact


