"""Every label row equals the frozen label digest.

data/label_digest.parquet holds one 64-bit hash per (page, label field)
of py_label_page's rows over a fixed page set (tools/gen_expected.py,
``digest_runs``): 3,000 seed-7 compact pages; the first of them and
every unresolved one again under the "keep" and "drop" policies; padded
forms of a subset; pages over MAX_CHARS; the hostile input families of
tests/test_linear_front_end.py; and a perplexity sweep labelled without
calibrated thresholds, so that every language falls back to MAX_PPL.
Each test recomputes the digest with one runner of the spec; a mismatch
names the case, policy, url and field. Regenerate the file on an
intended label change only:  python tools/gen_expected.py
"""

import datetime
import importlib.util
import math
from pathlib import Path

import pandas as pd
import pytest

from hyperpolyglot_spark.functions.quality import RULES
from hyperpolyglot_spark.functions.scrub import SCRUB_NAMES
from hyperpolyglot_spark.plans.pipeline import (
    LABEL_FIELDS,
    UNRESOLVED_DROP_RULE,
    UNRESOLVED_POLICIES,
    label_batch,
    run_pipeline,
)

GEN = Path(__file__).resolve().parent.parent / "tools" / "gen_expected.py"
KEYS = ["case", "policy", "url"]
SPARK_COMPACT = 300  # compact pages the Spark run labels under the default policy
# rows per label_batch call: more than the job's 256-row Arrow batches
# and no divisor of the 3,000 compact pages, so last batches are partial
BATCH = 1024


def load_gen():
    spec = importlib.util.spec_from_file_location("gen_expected", GEN)
    gen = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gen)
    return gen


gen = load_gen()


@pytest.fixture(scope="module")
def frozen():
    return pd.read_parquet(gen.DIGEST).set_index(KEYS)


@pytest.fixture(scope="module")
def runs():
    return gen.digest_runs()


def frame_rows(frame: pd.DataFrame) -> list[dict]:
    """label_batch's frame as label rows; a NaN perplexity is None, as
    it is NULL once in Arrow."""
    rows = frame.to_dict("records")
    for r in rows:
        if isinstance(r["perplexity"], float) and math.isnan(r["perplexity"]):
            r["perplexity"] = None
    return rows


def digest_mismatches(got: pd.DataFrame, frozen: pd.DataFrame) -> list:
    """(case, policy, url, field) of every hash of ``got`` that differs
    from the frozen one; keys the frozen digest lacks count as every
    field."""
    got = got.set_index(KEYS)
    extra = got.index.difference(frozen.index)
    bad = [(*k, "<not in the digest>") for k in extra]
    got = got.drop(extra)
    want = frozen.loc[got.index]
    for field in LABEL_FIELDS:
        differs = got[field].to_numpy() != want[field].to_numpy()
        bad += [(*k, field) for k in got.index[differs]]
    return bad


def test_spec_matches_frozen_digest(frozen, runs):
    rows = gen.spec_label_rows(runs)
    got = gen.label_digest(rows)
    bad = digest_mismatches(got, frozen)
    assert not bad, f"{len(bad)} label fields differ, first: {bad[:20]}"
    assert len(got) == len(frozen), "digest rows the page set no longer labels"
    # the page set covers every strategy, drop rule, scrub rule and policy
    labels = [row for *_, row in rows]
    assert {r["strategy"] for r in labels} == {
        "urlhint", "tld", "meta", "heuristics", "classifier", "unresolved"
    }
    rules = {rule for rule, *_ in RULES} | {"perplexity", UNRESOLVED_DROP_RULE, None}
    assert {r["drop_rule"] for r in labels} == rules
    for n in SCRUB_NAMES:
        assert any(r[f"scrub_{n}"] for r in labels), n
    assert {policy for _, policy, *_ in rows} == set(UNRESOLVED_POLICIES)


def test_label_batch_matches_frozen_digest(frozen, runs):
    from hyperpolyglot_spark.functions.langid import default_hashed_model
    from hyperpolyglot_spark.functions.perplexity import (
        default_ppl_model,
        ppl_thresholds_for,
    )

    model, pm = default_hashed_model(), default_ppl_model()
    thr = ppl_thresholds_for(pm)
    rows = []
    for case, policy, calibrated, pages in runs:
        for k in range(0, len(pages), BATCH):
            urls, html = zip(*pages[k : k + BATCH])
            frame = label_batch(urls, html, model, pm, thr if calibrated else {}, policy)
            rows += [(case, policy, u, r) for u, r in zip(urls, frame_rows(frame))]
    got = gen.label_digest(rows)
    bad = digest_mismatches(got, frozen)
    assert not bad, f"{len(bad)} label fields differ, first: {bad[:20]}"
    assert len(got) == len(frozen)


def test_run_pipeline_matches_frozen_digest(spark, frozen, runs):
    """The Spark job's labels on a subset: every run the job can make
    (it always ships the calibrated thresholds), compact pages cut to
    the first SPARK_COMPACT under the default policy. warc_ts numbers
    the pages, since a url can recur across cases."""
    rows = []
    for policy in sorted({policy for _, policy, *_ in runs}):
        pages = [
            (case, url, html)
            for case, p, calibrated, run_pages in runs
            if p == policy and calibrated
            for url, html in (
                run_pages[:SPARK_COMPACT]
                if (case, p) == ("compact", "quarantine") else run_pages
            )
        ]
        epoch = datetime.datetime(2024, 1, 1)
        pdf = pd.DataFrame(
            [(url, epoch + datetime.timedelta(seconds=i), html)
             for i, (_, url, html) in enumerate(pages)],
            columns=["url", "warc_ts", "html"],
        )
        got = run_pipeline(spark, spark.createDataFrame(pdf), policy).collect()
        assert len(got) == len(pages)
        for r in got:
            case, url, _ = pages[int((r["warc_ts"] - epoch).total_seconds())]
            assert r["url"] == url
            rows.append((case, policy, url, r.asDict()))
    bad = digest_mismatches(gen.label_digest(rows), frozen)
    assert not bad, f"{len(bad)} label fields differ, first: {bad[:20]}"
