"""End-to-end pipeline parity vs the frozen single-node oracle.

The golden-corpus test of the reference (src/lib.rs:386-432 requires
accuracy == 1.0 on samples/) generalized: every Spark label row must
match py_label_page, keep/drop F1 >= 0.99 (BASELINE.json — exact here),
extracted text byte-identical per url, scrubbed text equal.
"""

import pytest

from hyperpolyglot_spark.datagen.pages import gen_page, gen_pages_pdf
from hyperpolyglot_spark.functions.scrub import SCRUB_NAMES
from hyperpolyglot_spark.plans.pipeline import (
    breakdown,
    metrics,
    py_label_page,
    run_pipeline,
)

N_ROWS = 600


@pytest.fixture(scope="module")
def oracle_labels():
    rows = [gen_page(i) for i in range(N_ROWS)]
    return {r["url"]: py_label_page(r["url"], r["html"]) for r in rows}


@pytest.fixture(scope="module")
def spark_labels(spark):
    pdf = gen_pages_pdf(N_ROWS)
    pages = spark.createDataFrame(pdf)
    labels = run_pipeline(spark, pages)
    return {r["url"]: r.asDict() for r in labels.collect()}


def test_row_counts(oracle_labels, spark_labels):
    assert len(spark_labels) == len(oracle_labels) == N_ROWS


def test_extracted_text_byte_identical(oracle_labels, spark_labels):
    """BASELINE.json input_hint: byte-identical extracted text per url
    — and identical to the text column frozen into the table."""
    pdf = gen_pages_pdf(N_ROWS)
    stored = dict(zip(pdf["url"], pdf["text"]))
    for url, o in oracle_labels.items():
        s = spark_labels[url]
        assert s["text"] == o["text"] == stored[url], url


def test_keep_drop_f1(oracle_labels, spark_labels):
    tp = fp = fn = 0
    mismatches = []
    for url, o in oracle_labels.items():
        s = spark_labels[url]
        if s["keep"] and o["keep"]:
            tp += 1
        elif s["keep"] and not o["keep"]:
            fp += 1
            mismatches.append((url, "fp", s["drop_rule"], o["drop_rule"]))
        elif not s["keep"] and o["keep"]:
            fn += 1
            mismatches.append((url, "fn", s["drop_rule"], o["drop_rule"]))
    f1 = 2 * tp / max(1, 2 * tp + fp + fn)
    assert f1 >= 0.99, (f1, mismatches[:10])
    assert f1 == 1.0, mismatches[:10]  # ours is exact by construction


def test_drop_rules_match(oracle_labels, spark_labels):
    for url, o in oracle_labels.items():
        assert spark_labels[url]["drop_rule"] == o["drop_rule"], url


def test_lang_and_strategy_match(oracle_labels, spark_labels):
    for url, o in oracle_labels.items():
        s = spark_labels[url]
        assert (s["lang_pred"], s["strategy"]) == (
            o["lang_pred"],
            o["strategy"],
        ), (url, s["lang_pred"], s["strategy"], o["lang_pred"], o["strategy"])


def test_scrubbed_text_and_counts_match(oracle_labels, spark_labels):
    for url, o in oracle_labels.items():
        s = spark_labels[url]
        assert s["scrubbed_text"] == o["scrubbed_text"], url
        for n in SCRUB_NAMES:
            assert s[f"scrub_{n}"] == o[f"scrub_{n}"], (url, n)


def test_signals_match(oracle_labels, spark_labels):
    for url, o in oracle_labels.items():
        s = spark_labels[url]
        assert s["n_chars"] == o["n_chars"], url
        assert s["n_words"] == o["n_words"], url
        assert s["symbol_ratio"] == pytest.approx(o["symbol_ratio"]), url
        assert s["rep3_ratio"] == pytest.approx(o["rep3_ratio"]), url
        assert s["stop_density"] == pytest.approx(o["stop_density"]), url
        # equal floats, or None on both sides (dropped or unscored rows)
        assert s["perplexity"] == o["perplexity"], url


def test_strata_all_exercised(oracle_labels):
    """The fixture corpus must actually cover every rule + strategy."""
    rules = {o["drop_rule"] for o in oracle_labels.values()}
    strategies = {o["strategy"] for o in oracle_labels.values()}
    assert {"too_short", "symbol_ratio", "repetition",
            "stopword_density", "url_blocklist", None} <= rules
    assert {"urlhint", "tld", "meta", "heuristics", "classifier"} <= strategies
    total_scrubs = sum(
        o[f"scrub_{n}"] or 0 for o in oracle_labels.values() for n in SCRUB_NAMES
    )
    assert total_scrubs > 0


def test_langid_accuracy_on_kept_docs(oracle_labels):
    """Language ID accuracy on kept, clean docs — golden-accuracy
    analog. Kept docs are real prose from the word pools, so the
    cascade should nail them."""
    rows = [gen_page(i) for i in range(N_ROWS)]
    truth = {r["url"]: r["lang"] for r in rows}
    kept = [(u, o) for u, o in oracle_labels.items() if o["keep"]]
    assert kept
    correct = sum(1 for u, o in kept if o["lang_pred"] == truth[u])
    assert correct / len(kept) >= 0.97, correct / len(kept)


def test_metrics_and_breakdown(spark):
    pages = spark.createDataFrame(gen_pages_pdf(200))
    labels = run_pipeline(spark, pages)
    m = metrics(labels).collect()
    assert sum(r["docs"] for r in m) == 200
    b = breakdown(labels).collect()
    assert abs(sum(r["pct"] for r in b) - 100.0) < 0.01
    # sorted by docs desc (O1 analog)
    docs = [r["docs"] for r in b]
    assert docs == sorted(docs, reverse=True)
