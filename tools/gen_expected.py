"""Freeze the label spec's expected outputs on the language-ID strata.

Each table is computed from the pure-Python spec (classify_or_none_py,
py_keep_drop, perplexity_py, py_disposition) over a fixed input: the
sf0.01 ``documents`` rows with doc_id < 100, the out-of-universe
fixture, and the short-form and noisy-encoding strata. No Spark runs.
tests/test_expected_tables.py loads this file by path, rebuilds every
table and compares it with data/expected_sf0.01/, so a change to the
spec that moves any of these labels fails Tier-1 until the tables are
regenerated on purpose:  python tools/gen_expected.py
"""

from __future__ import annotations

import os
import sys

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = "/root/testdata/sf0.01"
OUT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "data",
    "expected_sf0.01",
)


def expected_langid_unresolved() -> pd.DataFrame:
    """classify_or_none_py (default hashed model, full universe) over
    doc_id<100 of documents plus the out-of-universe fixture and 30
    training-pool texts — the open-world terminal, including which
    fixture docs are unresolved (NULL lang_pred)."""
    from hyperpolyglot_spark.datagen.unknown import fixture_rows
    from hyperpolyglot_spark.functions.langid import (
        classify_or_none_py,
        default_hashed_model,
        training_corpus,
    )

    model = default_hashed_model()
    rows = duckdb.sql(
        f"SELECT doc_id, text FROM read_parquet('{SF}/documents.parquet') "
        "WHERE doc_id < 100 ORDER BY doc_id"
    ).fetchall()
    rows = (
        list(rows)
        + [(i, t) for i, _, t in fixture_rows()]
        + [(20_000 + i, t) for i, (_, t) in enumerate(training_corpus()[:30])]
    )
    out = []
    for doc_id, text in rows:
        pred = classify_or_none_py(text, [], model)
        out.append(
            (doc_id, pred, "unresolved" if pred is None else "classifier")
        )
    return pd.DataFrame(
        out, columns=["doc_id", "lang_pred", "strategy"]
    ).astype({"doc_id": "int64"})


def expected_langid_short_texts() -> pd.DataFrame:
    """classify_or_none_py over the short-form stratum (titles/queries,
    datagen/realtext.short_texts) — the frozen length-envelope spec,
    including which fragments the gate declines (NULL lang_pred -> NULL
    correct)."""
    from hyperpolyglot_spark.datagen.realtext import short_texts
    from hyperpolyglot_spark.functions.langid import (
        classify_or_none_py,
        default_hashed_model,
    )

    model = default_hashed_model()
    out = []
    for i, (lang, frags) in enumerate(sorted(short_texts().items())):
        for j, frag in enumerate(frags):
            pred = classify_or_none_py(frag, [], model)
            out.append(
                (
                    30_000 + 3 * i + j,
                    lang,
                    pred,
                    (pred == lang) if pred is not None else None,
                )
            )
    return pd.DataFrame(
        out, columns=["doc_id", "lang", "lang_pred", "correct"]
    ).astype({"doc_id": "int64"})


def expected_langid_noisy_texts() -> pd.DataFrame:
    """classify_or_none_py + py_keep_drop over the noisy-encoding
    stratum — the frozen per-row spec of the robustness behavior the
    floors in test_realtext pin in aggregate."""
    from hyperpolyglot_spark.datagen.realtext import noisy_texts
    from hyperpolyglot_spark.functions.langid import (
        classify_or_none_py,
        default_hashed_model,
    )
    from hyperpolyglot_spark.functions.quality import py_keep_drop

    model = default_hashed_model()
    out = []
    for doc_id, lang, variant, text in noisy_texts():
        keep, rule = py_keep_drop(text)
        pred = classify_or_none_py(text, [], model)
        out.append(
            (
                doc_id, lang, variant, pred, keep, rule,
                bool(keep and pred is not None and pred != lang),
            )
        )
    return pd.DataFrame(
        out,
        columns=[
            "doc_id", "lang", "variant", "lang_pred", "keep",
            "drop_rule", "kept_mislabel",
        ],
    ).astype({"doc_id": "int64"})


def expected_unresolved_disposition() -> pd.DataFrame:
    """Pure-python spec of the unresolved-language policy: classify with
    the gate, keep/drop ladder (no url -> vendor rule can't fire),
    perplexity rule with per-language thresholds (NULL lang -> no LM ->
    unscored, the documented bypass), then the disposition under the
    default quarantine policy and under the drop policy."""
    from hyperpolyglot_spark.datagen.unknown import fixture_rows
    from hyperpolyglot_spark.functions.langid import (
        classify_or_none_py,
        default_hashed_model,
        training_corpus,
    )
    from hyperpolyglot_spark.functions.perplexity import (
        default_ppl_model,
        perplexity_py,
        ppl_thresholds_for,
    )
    from hyperpolyglot_spark.functions.quality import MAX_PPL, py_keep_drop
    from hyperpolyglot_spark.plans.pipeline import py_disposition

    model = default_hashed_model()
    pm = default_ppl_model()
    thr = ppl_thresholds_for(pm)
    rows = duckdb.sql(
        f"SELECT doc_id, text FROM read_parquet('{SF}/documents.parquet') "
        "WHERE doc_id < 100 ORDER BY doc_id"
    ).fetchall()
    rows = (
        list(rows)
        + [(i, t) for i, _, t in fixture_rows()]
        + [(20_000 + i, t) for i, (_, t) in enumerate(training_corpus()[:30])]
    )
    out = []
    for doc_id, text in rows:
        pred = classify_or_none_py(text, [], model)
        keep, rule = py_keep_drop(text, "")
        ppl = None
        if keep:
            ppl = perplexity_py(text, pred, pm) if pred is not None else None
            if ppl is not None and ppl > thr.get(pred, MAX_PPL):
                keep, rule = False, "perplexity"
        disp_q = py_disposition(keep, pred, "quarantine")
        disp_d = "dropped" if (not keep or pred is None) else "kept"
        out.append((doc_id, pred, keep, rule, ppl is not None, disp_q, disp_d))
    return pd.DataFrame(
        out,
        columns=[
            "doc_id",
            "lang_pred",
            "keep",
            "drop_rule",
            "ppl_scored",
            "disposition",
            "disposition_if_drop",
        ],
    ).astype({"doc_id": "int64"})


def expected_tables() -> dict[str, pd.DataFrame]:
    """Every frozen table, by name (its file is ``OUT/<name>.parquet``)."""
    return {
        "langid_unresolved": expected_langid_unresolved(),
        "unresolved_disposition": expected_unresolved_disposition(),
        "langid_short_texts": expected_langid_short_texts(),
        "langid_noisy_texts": expected_langid_noisy_texts(),
    }


def main():
    os.makedirs(OUT, exist_ok=True)
    for name, pdf in expected_tables().items():
        path = os.path.join(OUT, f"{name}.parquet")
        pdf.to_parquet(path, index=False)
        print(f"wrote {path} ({len(pdf)} rows)")


if __name__ == "__main__":
    main()
