"""Oracle-checked query surface over the sf testdata tables.

``queries()`` maps each name to a Spark query over the sf testdata
tables; ``oracle_sql()`` gives every query a DuckDB oracle under the
same key. Column names/types are aligned pairwise: results compare as
order-insensitive rows under sorted column names
(tests/test_entry_oracle.py).

The queries cover operators over the ``documents`` table: breakdowns,
regex filters, grouped pandas UDFs, the marker-rule strategy report and
dedup. The label spec is not run here: plans/pipeline.py is its one
Spark runner, and its DuckDB oracle lives in functions/spec_sql.py.
"""

from __future__ import annotations

import os
from collections.abc import Callable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hyperpolyglot_spark.functions.spec_sql import WORDS
from hyperpolyglot_spark.session import local_rows_df
from hyperpolyglot_spark.operators.dedup import (
    exact_dedup_groups,
    minhash_neardup_join_indexed,
    ngram_jaccard_pairs,
    save_dedup_index,
)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


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
    return exact_dedup_groups(docs)


def neardup_jaccard_pairs(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(docs, block_col="lang", threshold=0.5)


def neardup_incremental_indexed(spark, sf_dir):
    """Incremental dedup through the persisted index (the continuous-
    crawl scale path, where re-signing the old corpus on every drop
    dominated incremental dedup): the 'existing corpus' (doc_id < 250)
    is signed ONCE into an on-disk banded signature index; the 'new
    drop' (doc_id >= 250) signs only itself and bucket-joins against
    the index — the old corpus is never re-shingled (verification
    reads candidate texts only). Oracle = exact all-pairs jaccard
    across the split."""
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
        # --- dedup ---
        "exact_dedup_documents": exact_dedup_documents,
        "neardup_jaccard_pairs": neardup_jaccard_pairs,
        "neardup_incremental_indexed": neardup_incremental_indexed,
    }


def _lang_info_values() -> str:
    from hyperpolyglot_spark.functions.langdata import LANG_INFO

    return ", ".join(
        f"('{l}','{i['family']}','{i['script']}')"
        for l, i in sorted(LANG_INFO.items())
    )


_LANG_INFO_VALUES = _lang_info_values()


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
        # exact all-pairs jaccard across the new/old split; the LSH
        # join's recall at this corpus's similarity profile is 1 (true
        # pairs ~0.99 — pinned by tests/test_dedup_index.py's fixture-
        # property test), so LSH+verify == exact
        "neardup_incremental_indexed": f"""
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
        """,
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
    }
