"""The end-to-end quality-filter pipeline over a ``pages`` table.

    pages(url, warc_ts, html, text, lang)
      -> ONE Arrow-batched label UDF:
           extract -> cascade language ID (hashed-NB terminal) ->
           quality signals -> first-match-wins keep/drop ->
           KenLM-style perplexity rule (LAST) -> scrub (kept rows only)
      -> project labels (FIXTURES.md §2 schema)
      -> metrics()/breakdown() aggregations

Stage ordering inside the UDF implements the early-exit economics of
the reference cascade (X1/X5): the NB classifier scores only rows the
cheap metadata stages leave unresolved, the char-LM scores only rows
every cheap rule passed, and the scrub regexes run only on kept rows. See make_label_udf's docstring for the measured plan-shape
rationale (why one fused Arrow stage beats column-expression HOFs and
chained python stages here).

The whole plan is narrow (no shuffle) from scan to labels — the metrics
aggregation is the only exchange, which is what you want at 10^12
documents: shuffle only the tiny aggregate, never the corpus.

py_label_page() is the frozen single-node oracle — the Spark pipeline
must reproduce it per url with keep/drop F1 >= 0.99 (BASELINE.json;
ours is exact by construction and the tests assert F1 == 1.0). The UDF
runs label_batch, which labels a whole Arrow batch at a time and equals
py_label_page row by row (tests/test_label_digest.py holds both to a
frozen digest).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.extract import extract_text, meta_lang_tag
from ..functions.perplexity import (
    default_ppl_model,
    perplexity_py,
    ppl_thresholds_for,
)
from ..functions.quality import (
    MAX_PPL,
    batch_keep_drop,
    batch_signals,
    py_keep_drop,
    py_signals,
)
from ..functions.scrub import SCRUB_NAMES, batch_guards, py_scrub, scrub_guarded
from ..operators.cascade import detect_lang_py

# ----------------------------------------------------------------------
# unresolved-language stratum policy
# ----------------------------------------------------------------------
# Docs the classifier declines (lang_pred NULL — ~1.2% of a 1M-page
# crawl) cannot be perplexity-scored: logprob10_py returns (0, 0) for
# an absent lang, so the LAST-LINE quality rule never fires for exactly
# the docs with the least evidence. That disposition must be an
# explicit policy, not a silent fall-through (the reference CLI simply
# drops unknowns from reports, src/bin/main.rs:46-52 — a training-data
# pipeline has to decide):
#   - "keep":       unresolved docs flow through the cheap rules only
#                   (the pre-round-5 silent behavior, now named)
#   - "drop":       unresolved docs that pass the cheap rules are
#                   dropped with drop_rule='unresolved_lang'
#   - "quarantine": labels identical to "keep", but kept-unresolved
#                   docs get disposition='quarantined' so the writer /
#                   downstream can route them out of the training mix
#                   while retaining them for audit. DEFAULT: the least
#                   destructive honest option — nothing silently joins
#                   the training set unscored, nothing is deleted.
# The stratum is surfaced as a disposition column on labels, stratum
# columns in metrics(), and unresolved_kept/unresolved_dropped in the
# per-bucket lineage manifest (plans/resume.py).
UNRESOLVED_POLICIES = ("keep", "drop", "quarantine")
DEFAULT_UNRESOLVED_POLICY = "quarantine"
UNRESOLVED_DROP_RULE = "unresolved_lang"


def py_disposition(keep: bool, lang_pred, policy: str) -> str:
    """Pure-python spec of the routing column: dropped docs are
    'dropped' under every policy; kept docs with NULL lang are
    'quarantined' under the quarantine policy and 'kept' otherwise."""
    if not keep:
        return "dropped"
    if policy == "quarantine" and lang_pred is None:
        return "quarantined"
    return "kept"


def disposition_col(
    policy: str = DEFAULT_UNRESOLVED_POLICY,
    keep_col: str = "keep",
    lang_col: str = "lang_pred",
):
    """JVM-side disposition (no UDF — derivable from two columns). Built
    as one SQL string: the same CASE from column functions takes ~80
    py4j calls, paid by every plan that uses it."""
    if policy not in UNRESOLVED_POLICIES:
        raise ValueError(f"unknown unresolved_policy {policy!r}")
    quarantine = (
        f"WHEN {lang_col} IS NULL THEN 'quarantined' " if policy == "quarantine" else ""
    )
    return F.expr(f"CASE WHEN NOT {keep_col} THEN 'dropped' {quarantine}ELSE 'kept' END")


_LABEL_SCHEMA = T.StructType(
    [
        T.StructField("text", T.StringType()),
        T.StructField("lang_pred", T.StringType()),
        T.StructField("strategy", T.StringType()),
        T.StructField("keep", T.BooleanType()),
        T.StructField("drop_rule", T.StringType()),
        T.StructField("scrubbed_text", T.StringType()),
    ]
    + [T.StructField(f"scrub_{n}", T.IntegerType()) for n in SCRUB_NAMES]
    + [
        T.StructField("n_chars", T.LongType()),
        T.StructField("n_words", T.LongType()),
        T.StructField("symbol_ratio", T.DoubleType()),
        T.StructField("rep3_ratio", T.DoubleType()),
        T.StructField("stop_density", T.DoubleType()),
        T.StructField("perplexity", T.DoubleType()),
    ]
)
LABEL_FIELDS = tuple(f.name for f in _LABEL_SCHEMA.fields)


def label_batch(
    urls,
    html,
    model,
    ppl_model,
    ppl_thr: dict[str, float],
    unresolved_policy: str = DEFAULT_UNRESOLVED_POLICY,
) -> pd.DataFrame:
    """py_label_page over a whole batch of (url, html) pairs, as one
    frame of the label columns (``_LABEL_SCHEMA`` order). Each row
    equals py_label_page's (tests/test_label_digest.py); a NULL url or
    html reads as empty, and a None perplexity is NaN (NULL in Arrow).

    Stages: extraction and the cascade per row; quality signals and
    the keep/drop ladder over the batch (quality.batch_signals); the
    LM and the unresolved policy per cheap-kept row; scrub guards over
    the kept rows (scrub.batch_guards), then each kept row's
    rewrites."""
    urls = [u or "" for u in urls]
    raw = [bytes(h) if h is not None else b"" for h in html]
    n = len(urls)
    texts = [extract_text(h) for h in raw]
    langs = np.empty(n, dtype=object)
    strategies = np.empty(n, dtype=object)
    for i, (url, text, h) in enumerate(zip(urls, texts, raw)):
        langs[i], strategies[i] = detect_lang_py(url, text, meta_lang_tag(h), model)
    sig = batch_signals(texts, urls)
    keep, drop_rule = batch_keep_drop(sig)
    ppl = np.full(n, np.nan)
    for i in np.flatnonzero(keep).tolist():
        p = perplexity_py(texts[i], langs[i], ppl_model)
        if p is not None:
            ppl[i] = p
            if p > ppl_thr.get(langs[i], MAX_PPL):
                keep[i], drop_rule[i] = False, "perplexity"
    if unresolved_policy == "drop":
        unresolved = keep & np.fromiter((lang is None for lang in langs), bool, n)
        keep[unresolved], drop_rule[unresolved] = False, UNRESOLVED_DROP_RULE
    kept = np.flatnonzero(keep).tolist()
    scrubbed = np.full(n, None, dtype=object)
    counts = {name: np.zeros(n, dtype=np.int32) for name in SCRUB_NAMES}
    for i, run in zip(kept, batch_guards([texts[i] for i in kept])):
        scrubbed[i], got = scrub_guarded(texts[i], run)
        for name, c in got.items():
            counts[name][i] = c
    return pd.DataFrame(
        {
            "text": texts,
            "lang_pred": langs,
            "strategy": strategies,
            "keep": keep,
            "drop_rule": drop_rule,
            "scrubbed_text": scrubbed,
            **{f"scrub_{name}": counts[name] for name in SCRUB_NAMES},
            "n_chars": sig["n_chars"].astype(np.int64),
            "n_words": sig["n_words"].astype(np.int64),
            "symbol_ratio": sig["symbol_ratio"],
            "rep3_ratio": sig["rep3_ratio"],
            "stop_density": sig["stop_density"],
            "perplexity": ppl,
        },
        columns=LABEL_FIELDS,
    )


def make_label_fn(
    spark: SparkSession,
    unresolved_policy: str = DEFAULT_UNRESOLVED_POLICY,
):
    """The label function the label UDFs run on each Arrow batch:
    ``label(urls, html)`` is label_batch with the default models, which
    ship as broadcasts, one per application (session.py); ``label``
    reads them on the executor."""
    from ..functions.langid import default_hashed_model

    from ..session import cached_broadcast

    bc = cached_broadcast(
        spark, "langid.default_hashed_model", default_hashed_model
    )
    # thresholds calibrate ONCE on the driver and ship with the model —
    # otherwise every python worker would rerun the 60-language
    # calibration pass on first use
    bc_ppl = cached_broadcast(
        spark,
        "pipeline.default_ppl_model+thresholds",
        lambda: (
            default_ppl_model(),
            ppl_thresholds_for(default_ppl_model()),
        ),
    )

    if unresolved_policy not in UNRESOLVED_POLICIES:
        raise ValueError(f"unknown unresolved_policy {unresolved_policy!r}")

    def label(urls, html) -> pd.DataFrame:
        mp, thr = bc_ppl.value
        return label_batch(urls, html, bc.value, mp, thr, unresolved_policy)

    return label


def make_label_udf(
    spark: SparkSession,
    unresolved_policy: str = DEFAULT_UNRESOLVED_POLICY,
):
    """ONE Arrow-batched UDF for ALL text-bound per-document work:
    html decode + extraction + the 5-stage cascade (broadcast model) +
    quality signals + first-match-wins keep/drop + scrub of kept rows —
    i.e. label_batch over each Arrow batch.

    Why one fused stage, with measurements (50k pages, local[32], warm):
      - column-expression cascade/signals: Catalyst's projection
        collapsing re-inlines the higher-order array trees into every
        consumer (the executed plan carried 31 copies of the words-split
        tree), and HOF lambdas are interpreted, not codegen'd -> 40-50s.
      - two chained python stages (label, then scrub): each extra
        ArrowEvalPython buffers all pass-through columns in a row queue
        while python computes -> +6.5s for 0.5s of regex work.
      - one fused Arrow stage: scan -> UDF -> project, no queue.
        Round-2 spec cost: 0.79 ms/row single-core WITH the added
        perplexity stage (numpy-vectorized scorers; 50k pages in 2.5s
        at local[32] = 20.1k docs/sec).
    At 10^12 docs this shape also minimizes bytes crossing the
    JVM<->Python boundary: one hop, html in, labels out. The cascade is
    still early-exit (X1): NB scoring runs only on rows the cheap
    stages leave unresolved, scrub only on kept rows (X5).
    This is the label spec's only Spark runner: the spec modules
    (functions/) are plain Python, numpy and pyarrow, and the generated
    DuckDB SQL (functions/spec_sql.py) is their independent check
    (tests/test_spec_functions.py)."""
    label = make_label_fn(spark, unresolved_policy)

    @F.pandas_udf(_LABEL_SCHEMA)
    def label_udf(urls: pd.Series, html: pd.Series) -> pd.DataFrame:
        return label(urls, html)

    return label_udf


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    unresolved_policy: str = DEFAULT_UNRESOLVED_POLICY,
) -> DataFrame:
    """pages -> labels (+ disposition routing column). scan -> one
    Arrow stage -> project; narrow end-to-end (no shuffle until the
    metrics aggregation); the scan is column-pruned to
    (url, warc_ts, html). ``disposition`` is computed JVM-side from
    (keep, lang_pred) per the unresolved policy — see the policy note
    at the top of this module."""
    df = pages.select("url", "warc_ts", "html")
    lbl = make_label_udf(spark, unresolved_policy)(F.col("url"), F.col("html"))
    df = df.withColumn("_l", lbl)
    cols = [F.col(f"_l.{f.name}").alias(f.name) for f in _LABEL_SCHEMA.fields]
    return df.select("url", "warc_ts", *cols).withColumn(
        "disposition", disposition_col(unresolved_policy)
    )


def metrics(labels: DataFrame) -> DataFrame:
    """Corpus metrics: docs seen / kept / dropped-by-rule / scrub counts
    (the breakdown agg A1-A3 analog + north-star metrics rows). One
    partial+final hash aggregation — the only shuffle in the job.
    ``disposition`` (run_pipeline's column) joins the group-by, so the
    unresolved stratum's kept/quarantined/dropped split is an explicit
    metrics row, not a NULL-key footnote."""
    scrub_sums = [
        F.sum(F.coalesce(F.col(f"scrub_{n}"), F.lit(0))).alias(f"scrub_{n}")
        for n in SCRUB_NAMES
    ]
    keys = ["lang_pred", "strategy", "keep", "drop_rule", "disposition"]
    return labels.groupBy(*keys).agg(
        F.count("*").alias("docs"),
        F.sum("n_chars").alias("chars"),
        *scrub_sums,
    )


def breakdown(labels: DataFrame) -> DataFrame:
    """Language breakdown with percent-of-total by file count
    (reference get_language_breakdown + CLI percentages,
    src/bin/main.rs:121-133; percentages are doc-count based per
    README.md:50). Percent-of-total is a cross-joined broadcast scalar
    agg — a partitionless window would funnel the rows through ONE
    partition (and warn)."""
    counts = labels.groupBy("lang_pred").agg(F.count("*").alias("docs"))
    total = counts.agg(F.sum("docs").alias("_total"))
    return (
        counts.crossJoin(F.broadcast(total))
        .withColumn("pct", F.round(F.col("docs") * 100.0 / F.col("_total"), 4))
        .drop("_total")
        .orderBy(F.desc("docs"), "lang_pred")
    )


# ----------------------------------------------------------------------
# frozen single-node oracle (reference labels)
# ----------------------------------------------------------------------

def py_label_page(
    url: str,
    html: bytes,
    model=None,
    ppl_model=None,
    ppl_thr=None,
    unresolved_policy: str = DEFAULT_UNRESOLVED_POLICY,
) -> dict:
    """Pure-Python per-document spec: the 'reference pipeline' whose
    labels the Spark job must match (SURVEY.md §7.1.1).

    Perplexity economics (X5): the LM scores a doc only if every cheap
    rule passed — dropped docs carry perplexity=None, and the ppl rule
    (quality.PPL_RULE) is the LAST rule by design.

    The ppl threshold is PER-LANGUAGE (perplexity.ppl_thresholds_for —
    the CCNet-style calibration): char-trigram entropy differs by an
    order of magnitude between Latin prose and spaceless CJK, so one
    global cutoff either drops every clean zh/ja doc or passes every
    Latin word salad. Unknown language -> quality.MAX_PPL fallback."""
    text = extract_text(html)
    meta = meta_lang_tag(html)
    lang_pred, strategy = detect_lang_py(url, text, meta, model)
    sig = py_signals(text, url)
    keep, drop_rule = py_keep_drop(text, url, signals=sig)
    ppl = None
    if keep:
        pm = ppl_model or default_ppl_model()
        ppl = perplexity_py(text, lang_pred, pm)
        thresholds = ppl_thr if ppl_thr is not None else ppl_thresholds_for(pm)
        if ppl is not None and ppl > thresholds.get(lang_pred, MAX_PPL):
            keep, drop_rule = False, "perplexity"
    # the unresolved-language stratum bypassed the LM rule above (no
    # lang -> no model -> ppl None); its disposition is explicit policy
    if keep and lang_pred is None and unresolved_policy == "drop":
        keep, drop_rule = False, UNRESOLVED_DROP_RULE
    if keep:
        scrubbed, counts = py_scrub(text)
    else:
        # dropped rows are never scrubbed: NULL text, zero counts
        # (matches the Spark batch pass-through convention)
        scrubbed, counts = None, {n: 0 for n in SCRUB_NAMES}
    return {
        "url": url,
        "text": text,
        "lang_pred": lang_pred,
        "strategy": strategy,
        "keep": keep,
        "drop_rule": drop_rule,
        "scrubbed_text": scrubbed,
        **{f"scrub_{n}": counts[n] for n in SCRUB_NAMES},
        "n_chars": int(sig["n_chars"]),
        "n_words": int(sig["n_words"]),
        "symbol_ratio": sig["symbol_ratio"],
        "rep3_ratio": sig["rep3_ratio"],
        "stop_density": sig["stop_density"],
        "perplexity": ppl,
    }
