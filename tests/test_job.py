"""The spark-submit job's command line (jobs/run_quality_filter.py)."""

import importlib.util
from pathlib import Path

import pytest

import hyperpolyglot_spark.session

JOB = Path(__file__).resolve().parent.parent / "jobs" / "run_quality_filter.py"


def load_job():
    spec = importlib.util.spec_from_file_location("run_quality_filter", JOB)
    job = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(job)
    return job


def test_usage_error_exits_before_spark_starts(monkeypatch, tmp_path, capsys):
    def no_spark(*args, **kwargs):
        raise AssertionError("get_spark called before the arguments were checked")

    monkeypatch.setattr(hyperpolyglot_spark.session, "get_spark", no_spark)
    job = load_job()
    with pytest.raises(SystemExit) as exc:
        job.main(["--output", str(tmp_path / "out")])
    assert exc.value.code == 2
    assert "need --input or --synthesize" in capsys.readouterr().err


def test_main_writes_then_resumes_as_a_no_op(spark, monkeypatch, tmp_path, capsys):
    """main end to end: the first run labels every page, the second
    finds every bucket committed and runs no group."""
    from pyspark.sql import functions as F

    from hyperpolyglot_spark.plans.resume import read_manifest

    monkeypatch.setattr(hyperpolyglot_spark.session, "get_spark", lambda *a, **k: spark)
    job = load_job()
    out = tmp_path / "out"
    argv = ["--synthesize", "200", "--n-buckets", "4", "--group-size", "2",
            "--output", str(out)]
    assert job.main(argv) == 0
    assert "completed 2 bucket group(s)" in capsys.readouterr().out
    assert job.main(argv) == 0
    assert "completed 0 bucket group(s)" in capsys.readouterr().out
    labels = spark.read.parquet(str(out / "labels"))
    row = labels.agg(F.count("*").alias("n"), F.countDistinct("url").alias("urls")).first()
    assert (row["n"], row["urls"]) == (200, 200)
    assert read_manifest(spark, str(out)).agg(F.sum("docs")).first()[0] == 200
