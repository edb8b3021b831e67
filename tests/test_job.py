"""The spark-submit job's command line (jobs/run_quality_filter.py)."""

import importlib.util
from pathlib import Path

import pytest

import hyperpolyglot_spark.session

JOB = Path(__file__).resolve().parent.parent / "jobs" / "run_quality_filter.py"


def test_usage_error_exits_before_spark_starts(monkeypatch, tmp_path, capsys):
    def no_spark(*args, **kwargs):
        raise AssertionError("get_spark called before the arguments were checked")

    monkeypatch.setattr(hyperpolyglot_spark.session, "get_spark", no_spark)
    spec = importlib.util.spec_from_file_location("run_quality_filter", JOB)
    job = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(job)
    with pytest.raises(SystemExit) as exc:
        job.main(["--output", str(tmp_path / "out")])
    assert exc.value.code == 2
    assert "need --input or --synthesize" in capsys.readouterr().err
