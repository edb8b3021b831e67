"""Oracle-checked query surface over the sf testdata tables.

``queries()`` maps each name to a Spark query over the sf testdata
tables; ``oracle_sql()`` gives every query a DuckDB oracle under the
same key. Column names/types are aligned pairwise: results compare as
order-insensitive rows under sorted column names
(tests/test_entry_oracle.py).

The queries cover what this system carries next to its label job:
the label spec's quality ladder, scrub and perplexity, language ID
and dedup over the ``documents`` table.
The label spec's own oracle SQL lives in functions/spec_sql.py.

For the queries whose semantics DuckDB cannot compute (NB language
prediction under the unresolved gate) the oracle reads a
FROZEN expected table in data/expected_sf0.01/ beside this module,
computed from the pure-Python specs — independently of the Spark
implementations — and cross-checked at generation time
(tools/gen_expected.py).
"""

from __future__ import annotations

import os
from collections.abc import Callable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hyperpolyglot_spark.functions.spec_sql import WORDS, keep_drop_sql, scrub_sql
from hyperpolyglot_spark.session import local_rows_df
from hyperpolyglot_spark.operators.dedup import (
    exact_dedup_groups,
    minhash_neardup_join,
    minhash_neardup_join_indexed,
    minhash_neardup_pairs,
    ngram_jaccard_pairs,
    save_dedup_index,
)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _spread(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Right-size scan parallelism for compute-heavy per-row stages.

    The sf testdata tables are single parquet files with one row group,
    so every scan is one task no matter the split config, and a
    per-doc-heavy stage (the quality ladder) then runs on one core. The
    fix: shuffle the small, under-split input across the cores once,
    only when the scan under-splits them. At corpus scale a real table
    has thousands of row groups, the gate never fires, and no
    corpus-sized shuffle is added. Used only by the shallow plans whose
    per-row compute dominates; deep multi-stage plans (the minhash
    chains) are stage-latency-bound at this scale and keep their
    natural scan partitioning."""
    cores = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < cores:
        return df.repartition(cores)
    return df


# ======================================================================
# flagship
# ======================================================================

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the per-language breakdown of the documents corpus at
    sf0.001, with percent-of-total."""
    sf_dir = "/root/testdata/sf0.001"
    return lang_breakdown(spark, sf_dir).orderBy(F.desc("docs"), "lang")


# ======================================================================
# documents: hyperpolyglot-analog text operators
# ======================================================================

def source_langs_csv(spark, sf_dir):
    """Sorted collect_set rendered as a stable string (the per-strategy
    sorted-tally analog, src/bin/main.rs:163-175)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.groupBy("source").agg(
        F.array_join(F.sort_array(F.collect_set("lang")), ",").alias(
            "langs_csv"
        ),
        F.count("*").alias("docs"),
    )


def lang_breakdown(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    agg = docs.groupBy("lang").agg(
        F.count("*").alias("docs"), F.sum("n_chars").alias("chars")
    )
    # percent-of-total via a broadcast scalar agg, not a global window:
    # WindowExec with no partition moves everything to ONE partition
    # (and warns); a cross-joined one-row total is warning-free and
    # shape-safe at any scale
    total = agg.agg(F.sum("docs").alias("_total"))
    return (
        agg.crossJoin(F.broadcast(total))
        .withColumn(
            "pct", F.round(F.col("docs") * 100.0 / F.col("_total"), 6)
        )
        .drop("_total")
    )


def source_lang_matrix(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return docs.groupBy("source", "lang").agg(
        F.count("*").alias("docs"),
        F.round(F.avg("n_chars"), 6).alias("avg_chars"),
    )


def regex_marker_counts(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    t = F.col("text")
    return docs.select(
        "doc_id",
        F.regexp_count(t, F.lit(r"\bthe\b")).cast("long").alias("n_the"),
        F.regexp_count(t, F.lit(r"\bvalue\b")).cast("long").alias("n_value"),
        F.regexp_count(t, F.lit(r"[0-9]+")).cast("long").alias("n_numbers"),
    )


def family_breakdown(spark, sf_dir):
    """Broadcast join to the language-info dim + type filter (P5 analog:
    reference keeps only Markup/Programming for reports,
    src/bin/main.rs:46-52). Dim is a literal table; oracle inlines the
    same VALUES."""
    from hyperpolyglot_spark.functions.langdata import LANG_INFO

    docs = _t(spark, sf_dir, "documents")
    dim = local_rows_df(
        spark,
        [(l, i["family"], i["script"]) for l, i in sorted(LANG_INFO.items())],
        "lang string, family string, script string",
    )
    return (
        docs.join(F.broadcast(dim), "lang", "left")
        .filter(F.col("script") == "latin")
        .groupBy("family")
        .agg(
            F.count("*").alias("docs"),
            F.countDistinct("lang").alias("n_langs"),
        )
    )


def docs_matching_regex(spark, sf_dir):
    """rlike section filter (P6 analog, src/bin/main.rs:22-28): keep
    docs whose text matches a user regex."""
    docs = _t(spark, sf_dir, "documents")
    return docs.filter(
        F.col("text").rlike(r"(^| )table (scan|merge)( |$)")
    ).select("doc_id", "lang")


def lang_chars_zscore(spark, sf_dir):
    """Grouped-map pandas UDF (applyInPandas): per-language z-score of
    doc length — the custom-stateful-per-group surface. Oracle is the
    equivalent window SQL. (Scale note: grouping by a low-cardinality
    key funnels each language through one task — at corpus scale
    compute mu/sd with a two-pass agg + broadcast instead; this entry
    exists to exercise the grouped-map surface.)"""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")

    def zscore(pdf: pd.DataFrame) -> pd.DataFrame:
        mu = pdf["n_chars"].mean()
        sd = pdf["n_chars"].std(ddof=1)
        pdf["z"] = ((pdf["n_chars"] - mu) / sd).round(6)
        return pdf[["doc_id", "lang", "z"]]

    return docs.groupBy("lang").applyInPandas(
        zscore, "doc_id long, lang string, z double"
    )


def lang_median_chars(spark, sf_dir):
    """Grouped-aggregate pandas UDF: exact median per language."""

    @F.pandas_udf("double")
    def median_udf(v: pd.Series) -> float:  # noqa: F821 - resolved by pyspark
        return float(v.median())

    # grouped-agg pandas UDFs cannot mix with JVM aggs in one agg list
    docs = _t(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.round(median_udf("n_chars"), 6).alias("median_chars")
    )


def exact_dedup_documents(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return exact_dedup_groups(docs, "doc_id", "text")


def neardup_jaccard_pairs(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(
        docs, block_col="lang", n=3, threshold=0.5
    )


def neardup_minhash_pairs(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return minhash_neardup_pairs(docs, threshold=0.5)


def neardup_incremental(spark, sf_dir):
    """Incremental dedup: the 'new crawl drop' (doc_id >= 250) deduped
    against the 'existing corpus' (doc_id < 250) — cross-side LSH join,
    never re-pairing the old corpus with itself. Oracle = exact
    all-pairs jaccard across the split."""
    docs = _t(spark, sf_dir, "documents")
    return minhash_neardup_join(
        docs.filter(F.col("doc_id") >= 250),
        docs.filter(F.col("doc_id") < 250),
        threshold=0.5,
    )


def neardup_incremental_indexed(spark, sf_dir):
    """The PERSISTED-INDEX form of incremental dedup (the continuous-
    crawl scale path, where re-signing the old corpus on every drop
    dominated incremental dedup): the 'existing corpus' is signed
    ONCE into an on-disk banded signature index; the 'new drop' signs
    only itself and bucket-joins against the index — the old corpus is
    never re-shingled (verification reads candidate texts only).
    Output is identical to neardup_incremental, and the oracle is the
    same exact all-pairs jaccard."""
    import hashlib
    import tempfile

    docs = _t(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") < 250)
    new = docs.filter(F.col("doc_id") >= 250)
    # deterministic per-sf path, overwritten on every call: the
    # returned DataFrame reads the index lazily, so it cannot be
    # cleaned up here — a keyed path bounds the footprint to one
    # index per sf instead of one per invocation
    key = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    idx = os.path.join(
        tempfile.gettempdir(), f"hp_dedup_idx_{key}", "index"
    )
    save_dedup_index(spark, old, idx)
    return minhash_neardup_join_indexed(spark, new, idx, old, threshold=0.5)


def docs_keep_drop(spark, sf_dir):
    """The quality-filter rule ladder as an oracle query: signals
    (length, symbol ratio, 3-gram repetition, stopword density) +
    first-match-wins keep/drop over the documents table — the same
    py_signals/py_keep_drop spec the pipeline runs, checked against
    DuckDB SQL generated from the same dims. (No url column here, so
    the vendor rule can't fire; perplexity is oracled separately by
    unresolved_disposition.)"""
    from hyperpolyglot_spark.functions.quality import with_keep_drop

    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    df = with_keep_drop(docs, "text")
    return df.select(
        "doc_id",
        "n_chars",
        "n_words",
        F.round("symbol_ratio", 6).alias("symbol_ratio"),
        F.round("rep3_ratio", 6).alias("rep3_ratio"),
        F.round("stop_density", 6).alias("stop_density"),
        F.round("spaceless_ratio", 6).alias("spaceless_ratio"),
        "keep",
        "drop_rule",
    )


def docs_scrubbed(spark, sf_dir):
    """PII/toxicity scrub as an oracle query: ordered sequential
    rewrites with per-pattern counts over documents. The DuckDB oracle
    is GENERATED from the same SCRUB_PATTERNS table as nested
    regexp_replace/regexp_extract_all (the patterns are deliberately
    RE2/Java/Python-compatible)."""
    from hyperpolyglot_spark.functions.scrub import SCRUB_NAMES, with_scrub

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return with_scrub(docs, "text").select(
        "doc_id", "scrubbed_text", *[f"scrub_{n}" for n in SCRUB_NAMES]
    )


def per_strategy_report(spark, sf_dir):
    """Per-strategy CLI report analog (src/bin/main.rs:159-199): a
    regex section filter picks the docs, each doc is attributed to the
    detection strategy that decides it (marker-rule hit vs classifier
    fallback — the SQL-expressible slice of the cascade), and each
    (strategy, language) section reports its count plus a stable sorted
    sample of ids (the file-list analog). Both the Spark ladder and the
    DuckDB CASE are generated from the same MARKER_RULES dim."""
    from hyperpolyglot_spark.functions.langdata import MARKER_RULES

    docs = _t(spark, sf_dir, "documents").filter(
        F.col("text").rlike(r"(^| )(market|value)( |$)")
    )
    marker = F.lit(False)
    for lang, pat in MARKER_RULES.items():
        marker = F.when(
            F.col("lang") == lang, F.col("text").rlike(pat)
        ).otherwise(marker)
    strategy = F.when(marker, F.lit("heuristics")).otherwise(
        F.lit("classifier")
    )
    return (
        docs.withColumn("strategy", strategy)
        .groupBy("strategy", "lang")
        .agg(
            F.count("*").alias("docs"),
            F.concat_ws(
                ",",
                F.transform(
                    F.slice(F.sort_array(F.collect_list("doc_id")), 1, 5),
                    lambda x: x.cast("string"),
                ),
            ).alias("sample_ids"),
        )
    )


def langid_unresolved(spark, sf_dir):
    """Open-world language ID (the reference's `detect -> None` analog,
    src/lib.rs:187-189): documents (in-universe) unioned with the
    out-of-universe fixture (datagen/unknown.py — unknown scripts +
    alien-trigram Latin), classified with the unresolved gate on. A
    noise-like or script-incoherent decision yields NULL lang_pred and
    strategy 'unresolved' instead of a forced argmax over the 102
    languages. Oracle = frozen expected from the pure-python spec
    (langid.classify_or_none_py), cross-checked at freeze time.

    Three strata by construction: natural prose drawn from the
    language pools (doc_id 20000+) must all resolve; the documents
    table's body text (doc_id < 100) is domain jargon — word salad the
    gate treats as noise for about half the rows, the intended CCNet-
    style outcome for text that is no language's prose; the
    out-of-universe fixture (doc_id 10000+) must be fully NULL."""
    from hyperpolyglot_spark.datagen.unknown import fixture_rows
    from hyperpolyglot_spark.functions.langid import (
        make_classify_udf,
        training_corpus,
    )

    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 100)
        .select("doc_id", "text")
    )
    pool = [
        (20_000 + i, t) for i, (_, t) in enumerate(training_corpus()[:30])
    ]
    fx = local_rows_df(
        spark,
        [(i, t) for i, _, t in fixture_rows()] + pool,
        "doc_id long, text string",
    )
    clf = make_classify_udf(spark)
    both = docs.unionByName(fx).withColumn(
        "lang_pred", clf(F.col("text"), F.array().cast("array<string>"))
    )
    return both.select(
        "doc_id",
        "lang_pred",
        F.when(F.col("lang_pred").isNull(), F.lit("unresolved"))
        .otherwise(F.lit("classifier"))
        .alias("strategy"),
    )


def langid_short_texts(spark, sf_dir):
    """Short-form (title/query-length) language ID: the 306-fragment
    stratum (datagen/realtext.short_texts — 5-15 words, all 102
    languages) classified with the production hashed-NB + unresolved
    gate. This is the length envelope a real crawl's short-doc mass
    lives in; round-5 script narrowing lifted it 0.869 -> 0.889
    (hashed). Oracle = frozen expected from the pure-python spec
    (classify_or_none_py), cross-checked at freeze time. The sf_dir
    tables are not used: the stratum IS the fixture, like the
    out-of-universe half of langid_unresolved."""
    from hyperpolyglot_spark.datagen.realtext import short_texts
    from hyperpolyglot_spark.functions.langid import make_classify_udf

    rows = [
        (30_000 + 3 * i + j, lang, frag)
        for i, (lang, frags) in enumerate(sorted(short_texts().items()))
        for j, frag in enumerate(frags)
    ]
    df = local_rows_df(spark, rows, "doc_id long, lang string, text string")
    clf = make_classify_udf(spark)
    df = df.withColumn(
        "lang_pred", clf(F.col("text"), F.array().cast("array<string>"))
    )
    return df.select(
        "doc_id",
        "lang",
        "lang_pred",
        (F.col("lang_pred") == F.col("lang")).alias("correct"),
    )


def unresolved_disposition(spark, sf_dir):
    """Explicit unresolved-language keep policy: docs
    the classifier declines (NULL lang_pred) bypass the perplexity rule
    — logprob10_py returns (0,0) for an absent lang — so their
    disposition must be policy, not fall-through. This query pins the
    policy function end-to-end: classify with the unresolved gate,
    run the keep/drop ladder, score perplexity (NULL-lang docs come
    back unscored — `ppl_scored` records the bypass), apply the
    per-language threshold rule, then emit the routing under the
    default 'quarantine' policy (plans/pipeline.disposition_col) plus
    what the 'drop' policy would do. Oracle = frozen expected from the
    pure-python spec (py_disposition + py_keep_drop +
    classify_or_none_py), cross-checked at freeze time."""
    from hyperpolyglot_spark.datagen.unknown import fixture_rows
    from hyperpolyglot_spark.functions.langid import (
        make_classify_udf,
        training_corpus,
    )
    from hyperpolyglot_spark.functions.perplexity import (
        default_ppl_model,
        ppl_thresholds_for,
        with_perplexity,
    )
    from hyperpolyglot_spark.functions.quality import MAX_PPL, with_keep_drop
    from hyperpolyglot_spark.plans.pipeline import disposition_col

    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 100)
        .select("doc_id", "text")
    )
    pool = [
        (20_000 + i, t) for i, (_, t) in enumerate(training_corpus()[:30])
    ]
    fx = local_rows_df(
        spark,
        [(i, t) for i, _, t in fixture_rows()] + pool,
        "doc_id long, text string",
    )
    clf = make_classify_udf(spark)
    # right-size parallelism to the input: this is a ~450-row fixture
    # union, but the parquet scan contributes 32 near-empty partitions
    # — and the plan chains TWO dependent ArrowEvalPython stages
    # (classify + keep/drop -> perplexity), so every task holds 2
    # python workers.
    # 33 tasks x 2 workers meant ~60 worker spawns for 450 rows (the
    # 11 s of this query's run time); 4 partitions keeps it to the
    # warm pool. At corpus scale the operator is run_pipeline, which
    # keeps the scan's natural partitioning.
    df = docs.unionByName(fx).repartition(4).withColumn(
        "lang_pred", clf(F.col("text"), F.array().cast("array<string>"))
    )
    df = with_keep_drop(df, "text")
    # LM scores only rows every cheap rule passed (X5 economics, same
    # as py_label_page): dropped rows ship NULL text to the scorer
    df = df.withColumn("_ppl_text", F.when(F.col("keep"), F.col("text")))
    df = with_perplexity(df, spark, text_col="_ppl_text")
    # per-language thresholds as a broadcast dim join (102 rows), not a
    # literal map probe (GetMapValue is a linear scan per row)
    thr = local_rows_df(
        spark,
        [
            (lang, float(v))
            for lang, v in sorted(ppl_thresholds_for(default_ppl_model()).items())
        ],
        "lang_pred string, _thr double",
    )
    df = df.join(F.broadcast(thr), "lang_pred", "left")
    ppl_fires = (
        F.col("keep")
        & F.col("perplexity").isNotNull()
        & (F.col("perplexity") > F.coalesce(F.col("_thr"), F.lit(MAX_PPL)))
    )
    df = df.withColumn(
        "keep2", F.when(ppl_fires, F.lit(False)).otherwise(F.col("keep"))
    ).withColumn(
        "rule2",
        F.when(ppl_fires, F.lit("perplexity")).otherwise(F.col("drop_rule")),
    )
    return df.select(
        "doc_id",
        "lang_pred",
        F.col("keep2").alias("keep"),
        F.col("rule2").alias("drop_rule"),
        F.col("perplexity").isNotNull().alias("ppl_scored"),
        disposition_col(
            "quarantine", keep_col="keep2", lang_col="lang_pred"
        ).alias("disposition"),
        F.when(
            ~F.col("keep2") | F.col("lang_pred").isNull(), F.lit("dropped")
        )
        .otherwise(F.lit("kept"))
        .alias("disposition_if_drop"),
    )


def langid_noisy_texts(spark, sf_dir):
    """Noisy-encoding robustness (web pages carry encoding damage the
    clean fixtures never show): the
    102-language stratum of mojibake / HTML-entity / percent-encoded /
    zero-width-littered variants (datagen/realtext.noisy_texts, all
    deterministic transforms of the repo's own prose) pushed through
    the production classifier (unresolved gate on) AND the quality
    ladder, distributed. kept_mislabel pins the pipeline safety
    invariant (always false: a wrong-language doc never enters the
    kept pool). Oracle = frozen expected from the pure-python specs
    (classify_or_none_py + py_keep_drop), cross-checked at freeze
    time; behavioral floors pinned in test_realtext."""
    from hyperpolyglot_spark.datagen.realtext import noisy_texts
    from hyperpolyglot_spark.functions.langid import make_classify_udf
    from hyperpolyglot_spark.functions.quality import with_keep_drop

    df = local_rows_df(
        spark,
        noisy_texts(),
        "doc_id long, lang string, variant string, text string",
    ).repartition(8)
    clf = make_classify_udf(spark)
    df = df.withColumn(
        "lang_pred", clf(F.col("text"), F.array().cast("array<string>"))
    )
    df = with_keep_drop(df, "text")
    return df.select(
        "doc_id",
        "lang",
        "variant",
        "lang_pred",
        "keep",
        "drop_rule",
        (
            F.col("keep")
            & F.col("lang_pred").isNotNull()
            & (F.col("lang_pred") != F.col("lang"))
        ).alias("kept_mislabel"),
    )


def source_rule_rollup(spark, sf_dir):
    """Domain-level quality rollup (the blocklist-candidate report a
    crawl pipeline runs per host): docs per (source, outcome) where
    outcome is the first-match drop rule or 'kept'. One hash
    aggregation over the quality ladder's output — the per-host
    keep-rate table that feeds url_blocklist updates at corpus
    scale."""
    from hyperpolyglot_spark.functions.quality import with_keep_drop

    docs = _spread(
        spark, _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    )
    kd = with_keep_drop(docs, "text")
    return (
        kd.groupBy(
            "source",
            F.coalesce(F.col("drop_rule"), F.lit("kept")).alias("outcome"),
        )
        .agg(F.count("*").alias("n"))
    )


# ======================================================================
# registry
# ======================================================================

def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # tests/test_entry_oracle.py checks every entry against its oracle
    return {
        # --- document text operators ---
        "lang_breakdown": lang_breakdown,
        "source_lang_matrix": source_lang_matrix,
        "source_langs_csv": source_langs_csv,
        "regex_marker_counts": regex_marker_counts,
        "family_breakdown": family_breakdown,
        "docs_matching_regex": docs_matching_regex,
        "lang_chars_zscore": lang_chars_zscore,
        "lang_median_chars": lang_median_chars,
        "per_strategy_report": per_strategy_report,
        # --- the label spec: quality ladder, scrub, perplexity ---
        "docs_keep_drop": docs_keep_drop,
        "docs_scrubbed": docs_scrubbed,
        "source_rule_rollup": source_rule_rollup,
        "unresolved_disposition": unresolved_disposition,
        # --- language ID ---
        "langid_unresolved": langid_unresolved,
        "langid_short_texts": langid_short_texts,
        "langid_noisy_texts": langid_noisy_texts,
        # --- dedup ---
        "exact_dedup_documents": exact_dedup_documents,
        "neardup_jaccard_pairs": neardup_jaccard_pairs,
        "neardup_minhash_pairs": neardup_minhash_pairs,
        "neardup_incremental": neardup_incremental,
        "neardup_incremental_indexed": neardup_incremental_indexed,
    }


def _lang_info_values() -> str:
    from hyperpolyglot_spark.functions.langdata import LANG_INFO

    return ", ".join(
        f"('{l}','{i['family']}','{i['script']}')"
        for l, i in sorted(LANG_INFO.items())
    )


_LANG_INFO_VALUES = _lang_info_values()


def _source_rollup_sql() -> str:
    """Per-source outcome rollup over the keep/drop ladder: reuse the
    generated keep_drop SQL as a CTE (one source of truth for the
    ladder), join source back on, group."""
    return f"""
        WITH kd AS ({keep_drop_sql()})
        SELECT d.source,
               coalesce(kd.drop_rule, 'kept') AS outcome,
               count(*) AS n
        FROM kd JOIN documents d USING (doc_id)
        GROUP BY d.source, coalesce(kd.drop_rule, 'kept')
    """


def _marker_case_sql() -> str:
    from hyperpolyglot_spark.functions.langdata import MARKER_RULES

    whens = " ".join(
        "WHEN '{}' THEN regexp_matches(text, '{}')".format(
            lang, pat.replace("'", "''")  # af marker contains '
        )
        for lang, pat in MARKER_RULES.items()
    )
    return f"(CASE lang {whens} ELSE false END)"


# word-3-gram shingles, aligned with dedup.word_shingles /
# _distinct_shingles_col: a doc with 1-2 words emits its whole text as a
# single shingle (NOT the empty set), an empty doc emits none.
_GRAMS3 = (
    "(CASE WHEN len(w) >= 3 THEN list_distinct([array_to_string(w[i:i+2], ' ') "
    "for i in range(1, len(w) - 1)]) "
    "WHEN len(w) > 0 THEN [array_to_string(w, ' ')] "
    "ELSE []::VARCHAR[] END)"
)

_INCREMENTAL_SQL = f"""
    WITH g AS (
      SELECT doc_id, {_GRAMS3} AS grams
      FROM (SELECT doc_id, {WORDS} AS w FROM documents)
    )
    SELECT a.doc_id AS id_new, b.doc_id AS id_old,
           round(len(list_intersect(a.grams, b.grams))::DOUBLE
                 / greatest(len(a.grams) + len(b.grams)
                            - len(list_intersect(a.grams, b.grams)), 1),
                 6) AS jaccard
    FROM g a JOIN g b ON a.doc_id >= 250 AND b.doc_id < 250
    WHERE round(len(list_intersect(a.grams, b.grams))::DOUBLE
                / greatest(len(a.grams) + len(b.grams)
                           - len(list_intersect(a.grams, b.grams)), 1),
                6) >= 0.5
"""


# frozen expected tables live beside this module, so a checkout's
# oracles always read its own tables
_EXPECTED_DIR = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "data", "expected_sf0.01"
)


def _frozen(name: str) -> str:
    """DuckDB scan of the frozen expected table ``name``."""
    path = os.path.join(_EXPECTED_DIR, f"{name}.parquet").replace("'", "''")
    return f"read_parquet('{path}')"


def oracle_sql() -> dict[str, str]:
    return {
        "source_langs_csv": """
            SELECT source,
                   array_to_string(list_sort(list(DISTINCT lang)), ',') AS langs_csv,
                   count(*) AS docs
            FROM documents GROUP BY source
        """,
        "lang_breakdown": """
            SELECT lang, count(*) AS docs, sum(n_chars)::BIGINT AS chars,
                   round(count(*) * 100.0 / sum(count(*)) OVER (), 6) AS pct
            FROM documents GROUP BY lang
        """,
        "source_lang_matrix": """
            SELECT source, lang, count(*) AS docs,
                   round(avg(n_chars), 6) AS avg_chars
            FROM documents GROUP BY source, lang
        """,
        "regex_marker_counts": """
            SELECT doc_id,
                   len(regexp_extract_all(text, '\\bthe\\b'))::BIGINT AS n_the,
                   len(regexp_extract_all(text, '\\bvalue\\b'))::BIGINT AS n_value,
                   len(regexp_extract_all(text, '[0-9]+'))::BIGINT AS n_numbers
            FROM documents
        """,
        "family_breakdown": f"""
            SELECT family, count(*) AS docs,
                   count(DISTINCT d.lang) AS n_langs
            FROM documents d
            LEFT JOIN (VALUES {_LANG_INFO_VALUES})
                   AS li(lang, family, script) ON d.lang = li.lang
            WHERE script = 'latin'
            GROUP BY family
        """,
        "docs_matching_regex": """
            SELECT doc_id, lang FROM documents
            WHERE regexp_matches(text, '(^| )table (scan|merge)( |$)')
        """,
        "lang_chars_zscore": """
            SELECT doc_id, lang,
                   round((n_chars - avg(n_chars) OVER (PARTITION BY lang))
                         / stddev_samp(n_chars) OVER (PARTITION BY lang), 6) AS z
            FROM documents
        """,
        "lang_median_chars": """
            SELECT lang, round(quantile_cont(n_chars, 0.5), 6) AS median_chars
            FROM documents GROUP BY lang
        """,
        "exact_dedup_documents": """
            SELECT md5(text) AS text_hash,
                   min(doc_id) AS canonical_id,
                   count(*) AS dup_count
            FROM documents GROUP BY md5(text)
        """,
        "neardup_jaccard_pairs": f"""
            WITH g AS (
              SELECT doc_id, lang, {_GRAMS3} AS grams
              FROM (SELECT doc_id, lang, {WORDS} AS w FROM documents)
            )
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   round(len(list_intersect(a.grams, b.grams))::DOUBLE
                         / greatest(len(a.grams) + len(b.grams)
                                    - len(list_intersect(a.grams, b.grams)), 1),
                         6) AS jaccard
            FROM g a JOIN g b
              ON a.lang = b.lang AND a.doc_id < b.doc_id
            WHERE round(len(list_intersect(a.grams, b.grams))::DOUBLE
                        / greatest(len(a.grams) + len(b.grams)
                                   - len(list_intersect(a.grams, b.grams)), 1),
                        6) >= 0.5
        """,
        "neardup_minhash_pairs": f"""
            -- oracle = exact all-pairs jaccard (unblocked): the LSH
            -- candidates are exactly verified, and at this corpus's
            -- similarity distribution (true pairs ~0.99, next <=0.03)
            -- the 16x4-band S-curve recall is ~1, so LSH+verify ==
            -- exact (equality also asserted in tests/test_operators.py)
            WITH g AS (
              SELECT doc_id, {_GRAMS3} AS grams
              FROM (SELECT doc_id, {WORDS} AS w FROM documents)
            )
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   round(len(list_intersect(a.grams, b.grams))::DOUBLE
                         / greatest(len(a.grams) + len(b.grams)
                                    - len(list_intersect(a.grams, b.grams)), 1),
                         6) AS jaccard
            FROM g a JOIN g b ON a.doc_id < b.doc_id
            WHERE round(len(list_intersect(a.grams, b.grams))::DOUBLE
                        / greatest(len(a.grams) + len(b.grams)
                                   - len(list_intersect(a.grams, b.grams)), 1),
                        6) >= 0.5
        """,
        # exact all-pairs jaccard across the new/old split; the LSH
        # join's recall at this corpus's similarity profile is 1 (true
        # pairs ~0.99 — pinned by tests/test_dedup_index.py's fixture-
        # property test), so LSH+verify == exact. The indexed variant
        # is output-identical by construction, hence the same oracle.
        "neardup_incremental": _INCREMENTAL_SQL,
        "neardup_incremental_indexed": _INCREMENTAL_SQL,
        "docs_keep_drop": keep_drop_sql(),
        "docs_scrubbed": scrub_sql(),
        "per_strategy_report": f"""
            SELECT strategy, lang, count(*) AS docs,
                   array_to_string(list_sort(list(doc_id))[1:5], ',')
                     AS sample_ids
            FROM (
              SELECT doc_id, lang,
                     CASE WHEN {_marker_case_sql()}
                          THEN 'heuristics' ELSE 'classifier' END AS strategy
              FROM documents
              WHERE regexp_matches(text, '(^| )(market|value)( |$)'))
            GROUP BY strategy, lang
        """,
        # --- frozen-expected oracles (tools/gen_expected.py): the
        # queries DuckDB cannot compute (NB classify under the
        # unresolved gate). Expected tables are computed
        # from the pure-Python specs INDEPENDENTLY of Spark,
        # cross-checked at generation time, and frozen at sf0.01 (the
        # scale tests/test_entry_oracle.py runs at).
        "langid_unresolved": f"""
            SELECT doc_id, lang_pred, strategy
            FROM {_frozen("langid_unresolved")}
        """,
        "langid_short_texts": f"""
            SELECT doc_id, lang, lang_pred, correct
            FROM {_frozen("langid_short_texts")}
        """,
        "langid_noisy_texts": f"""
            SELECT doc_id, lang, variant, lang_pred, keep, drop_rule,
                   kept_mislabel
            FROM {_frozen("langid_noisy_texts")}
        """,
        "source_rule_rollup": _source_rollup_sql(),
        "unresolved_disposition": f"""
            SELECT doc_id, lang_pred, keep, drop_rule, ppl_scored,
                   disposition, disposition_if_drop
            FROM {_frozen("unresolved_disposition")}
        """,
    }
