"""Per-span language segmentation for code-switched documents.

Generalizes the reference's single-``Detection`` outcome (src/lib.rs:89-95
returns ONE language per file) to a segment-level outcome: real web text
mixes languages inside one document (an English quote inside a Russian
article, fr/ar bilingual pages), and a doc-level argmax both mislabels
the minority spans and pollutes per-language training pools. The
writing system is evidence the cascade already trusts (J4
candidate-intersect, r5 script narrowing), so segmentation splits on
script-run boundaries first — one int8 codepoint->script gather, no
regex — and only then spends classifier time per run.

Spec (pure python, frozen via tools/gen_expected.py):

* ``script_runs_py``: maximal runs of letters sharing a script class,
  where kana+han fuse into one CJK class (a Japanese sentence
  interleaves them every few chars — splitting there would shred ja
  text into unclassifiable confetti and hand the han pieces to zh).
  Non-letters and unknown-script letters never start or end a run:
  they attach to the run on their LEFT (leading ones to the first
  run), so the spans partition the text exactly.
* ``classify_spans_py``: each run with >= MIN_SPAN_LETTERS known-script
  letters is classified by the production hashed NB restricted to the
  run's script-compatible languages (explicit candidates — the gate
  semantics note in langid.py applies to OPEN-world scoring; within a
  script run the script itself is the evidence). Shorter runs get
  lang NULL — too little signal to call, and at corpus scale calling
  8-letter runs is how "le weekend" flips an en doc partly fr.
* Doc level: letters-weighted dominant language (stable strict->
  argmax in LANGUAGES order, O3 semantics), its share, and a
  ``mixed`` flag (>= 2 distinct span languages AND dominant share
  < MIXED_DOMINANT_SHARE) that the keep policy can route on.

Spark side: ONE Arrow-batched pandas UDF returning a struct of
(spans array, dominant_lang, dominant_share, mixed) — the span
array explodes JVM-side (posexplode), so span rows never round-trip
through Python a second time. Scale shape: per doc it is two numpy
gathers + a run-length encode + one matvec per run; the model rides
the per-application cached broadcast (session.cached_broadcast).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .langdata import LANG_INFO, LANGUAGES

MIN_SPAN_LETTERS = 12
MIXED_DOMINANT_SHARE = 0.9

# run label for the fused kana+han class; every other run is labeled
# by its script component name
CJK = "cjk"

_SCRIPT_LANGS: dict[str, tuple[str, ...]] = {}


def _langs_for_script(label: str) -> tuple[str, ...]:
    """Languages compatible with a run label, in LANGUAGES order.
    The fused CJK class admits both han- and kanji_kana-script
    languages (zh, ja); 'hangul' -> ko, 'latin' -> the 61 latin langs,
    etc. Memoized once per process."""
    hit = _SCRIPT_LANGS.get(label)
    if hit is None:
        if label == CJK:
            scripts = {"han", "kanji_kana"}
        else:
            scripts = {label}
        hit = tuple(
            l for l in LANGUAGES if LANG_INFO[l]["script"] in scripts
        )
        _SCRIPT_LANGS[label] = hit
    return hit


def _char_script_labels(text: str):
    """Per-char run label array: the script component name for known-
    script letters (kana/han fused to CJK), None for everything else.
    Returns a python list (the RLE below walks it once)."""
    from .langid import _script_tables
    from .quality import text_codes

    table, names = _script_tables()
    fused = [CJK if n in ("kana", "han") else n for n in names]
    codes = text_codes(text)
    if codes is None:  # lone surrogates: per-char regex fallback
        import re as _re

        from .langid import _SID_RANGES

        out = []
        for ch in text:
            label = None
            if ch.isalpha():
                for name in names:
                    if _re.match("[" + _SID_RANGES[name] + "]", ch):
                        label = CJK if name in ("kana", "han") else name
                        break
            out.append(label)
        return out
    sid = table[codes]
    return [fused[s] if s >= 0 else None for s in sid]


def _has_kana(span_text: str) -> bool:
    """Any kana letter in the span (component id lookup, one gather)."""
    from .langid import _script_tables
    from .quality import text_codes

    table, names = _script_tables()
    kana_id = names.index("kana")
    codes = text_codes(span_text)
    if codes is None:
        import re as _re

        from .langid import _SID_RANGES

        return _re.search("[" + _SID_RANGES["kana"] + "]", span_text) is not None
    return bool((table[codes] == kana_id).any())


def script_runs_py(text: str) -> list[tuple[int, int, int, str | None]]:
    """(start, length, n_letters, script_label) runs partitioning the
    text. A text with no known-script letters is one unlabeled run."""
    labels = _char_script_labels(text)
    runs: list[list] = []  # [start, length, n_letters, label]
    for i, lab in enumerate(labels):
        if lab is None:
            if runs:
                runs[-1][1] += 1
            else:
                runs.append([i, 1, 0, None])
            continue
        if runs and (runs[-1][3] == lab or runs[-1][3] is None):
            # same-script letter, or the leading unlabeled prefix run
            # adopts the first letter's script
            runs[-1][1] += 1
            runs[-1][2] += 1
            runs[-1][3] = lab
        else:
            runs.append([i, 1, 1, lab])
    if not runs and text:
        runs.append([0, len(text), 0, None])
    return [tuple(r) for r in runs]


def classify_spans_py(text: str, model=None) -> dict:
    """Frozen per-doc spec: span rows + doc-level dominant/mixed.

    Returns {"spans": [(start, length, n_letters, script, lang)],
    "dominant_lang": str|None, "dominant_share": float,
    "mixed": bool}."""
    from .langid import classify_hashed_py, default_hashed_model

    model = model if model is not None else default_hashed_model()
    spans = []
    letters_by_lang: dict[str, int] = {}
    for start, length, n_letters, label in script_runs_py(text):
        lang = None
        if label is not None and n_letters >= MIN_SPAN_LETTERS:
            cands = list(_langs_for_script(label))
            if label == CJK:
                # span-length CJK is decided by script composition,
                # not grams: kana is ja-exclusive and Japanese prose
                # always carries kana particles, so kana present -> ja
                # candidates, kana absent -> zh candidates. The NB at
                # span length gets zh/ja wrong in BOTH directions
                # (measured on the code-switch stratum: a 40-char real
                # zh sentence scores ja even unrestricted); doc-length
                # classification keeps the full NB path.
                want = "kanji_kana" if _has_kana(
                    text[start : start + length]
                ) else "han"
                cands = [
                    l for l in cands if LANG_INFO[l]["script"] == want
                ] or cands
            if cands:
                # prepend one space: the span IS preceded by a word
                # boundary in the source doc (a script switch), and
                # the ' th'-style opening-boundary gram is strong
                # evidence a span is too short to do without (measured:
                # 'The sellers call …' scores af without it, en with)
                lang = classify_hashed_py(
                    " " + text[start : start + length], cands, model
                )
                letters_by_lang[lang] = (
                    letters_by_lang.get(lang, 0) + n_letters
                )
        spans.append((start, length, n_letters, label, lang))
    dominant = None
    best = 0
    for l in LANGUAGES:  # stable strict-> argmax (O3 tie-break)
        c = letters_by_lang.get(l, 0)
        if c > best:
            dominant, best = l, c
    total = sum(letters_by_lang.values())
    share = (best / total) if total else 0.0
    mixed = len(letters_by_lang) >= 2 and share < MIXED_DOMINANT_SHARE
    return {
        "spans": spans,
        "dominant_lang": dominant,
        "dominant_share": share,
        "mixed": mixed,
    }


_SPAN_STRUCT = T.ArrayType(
    T.StructType(
        [
            T.StructField("span_start", T.IntegerType()),
            T.StructField("span_len", T.IntegerType()),
            T.StructField("span_letters", T.IntegerType()),
            T.StructField("script", T.StringType()),
            T.StructField("lang", T.StringType()),
        ]
    )
)
_SEG_SCHEMA = T.StructType(
    [
        T.StructField("spans", _SPAN_STRUCT),
        T.StructField("dominant_lang", T.StringType()),
        T.StructField("dominant_share", T.DoubleType()),
        T.StructField("mixed", T.BooleanType()),
    ]
)


def make_segment_udf(spark: SparkSession, model=None):
    """Arrow-batched text -> (spans, dominant_lang, dominant_share,
    mixed). Default model broadcasts once per application."""
    if model is not None:
        bc = spark.sparkContext.broadcast(model)
    else:
        from ..session import cached_broadcast
        from .langid import default_hashed_model

        bc = cached_broadcast(
            spark, "langid.default_hashed_model", default_hashed_model
        )

    @F.pandas_udf(_SEG_SCHEMA)
    def segment_udf(texts: pd.Series) -> pd.DataFrame:
        m = bc.value
        rows = []
        for t in texts:
            if t is None:
                rows.append((None, None, None, None))
                continue
            r = classify_spans_py(t, m)
            rows.append(
                (
                    r["spans"],
                    r["dominant_lang"],
                    r["dominant_share"],
                    r["mixed"],
                )
            )
        return pd.DataFrame(
            rows,
            columns=["spans", "dominant_lang", "dominant_share", "mixed"],
        )

    return segment_udf


def with_segments(
    df: DataFrame,
    spark: SparkSession,
    text_col: str = "text",
    model=None,
) -> DataFrame:
    """Append doc-level segmentation columns (spans array +
    dominant_lang/dominant_share/mixed)."""
    seg = make_segment_udf(spark, model)(F.col(text_col))
    df = df.withColumn("_seg", seg)
    for c in ("spans", "dominant_lang", "dominant_share", "mixed"):
        df = df.withColumn(c, F.col(f"_seg.{c}"))
    return df.drop("_seg")


def span_rows(df: DataFrame) -> DataFrame:
    """Explode the spans array into one row per span (JVM-side), with
    the doc-level columns repeated — the shape downstream per-language
    routing consumes. The exploded span fields take the names 'lang'
    and 'script'; an input already carrying either would produce
    ambiguous duplicate columns downstream (ADVICE r6), so that is
    rejected loudly here instead."""
    clash = {"lang", "script", "span_idx"} & set(df.columns)
    if clash:
        raise ValueError(
            f"span_rows: input columns {sorted(clash)} collide with the "
            "exploded span fields — rename or drop them first"
        )
    return df.select(
        *[c for c in df.columns if c != "spans"],
        F.posexplode("spans").alias("span_idx", "_s"),
    ).select(
        *[c for c in df.columns if c != "spans"],
        "span_idx",
        F.col("_s.span_start").alias("span_start"),
        F.col("_s.span_len").alias("span_len"),
        F.col("_s.span_letters").alias("span_letters"),
        F.col("_s.script").alias("script"),
        F.col("_s.lang").alias("lang"),
    )
