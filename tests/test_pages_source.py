"""Day-partitioned pages source: partition pruning must be visible in
the scan, and the pipeline must run unchanged on the pruned source."""

from hyperpolyglot_spark.datagen.pages import gen_pages_pdf
from hyperpolyglot_spark.plans.pipeline import run_pipeline
from hyperpolyglot_spark.sources.pages import (
    read_pages,
    write_pages_partitioned,
)


def test_day_partition_pruning(spark, tmp_path):
    path = str(tmp_path / "pages_part")
    # warc_ts advances 1s per row from 2024-01-01; spread over 3 days
    pdf = gen_pages_pdf(300)
    pdf["warc_ts"] = pdf["warc_ts"] + (pdf.index % 3).astype("int64") * pd_day()
    pages = spark.createDataFrame(pdf)
    write_pages_partitioned(pages, path)

    one_day = read_pages(spark, path, day="2024-01-02")
    plan = one_day._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "crawl_day" in plan.split("PartitionFilters")[1][:150]
    n = one_day.count()
    assert 0 < n < 300

    # the pipeline runs unchanged on the pruned source
    labels = run_pipeline(spark, one_day)
    assert labels.count() == n

    rng = read_pages(spark, path, day_range=("2024-01-01", "2024-01-02"))
    assert rng.count() + read_pages(spark, path, day="2024-01-03").count() == 300


def pd_day():
    import pandas as pd

    return pd.Timedelta(days=1)
