"""Per-span code-switch segmentation (functions/segments.py).

Spec invariants, the CJK kana rule, the cross-script bilingual stratum
floors (VERDICT r5 #2: pinned accuracy), and Spark/py parity through
the posexplode shape."""

from hyperpolyglot_spark.datagen.realtext import (
    CODE_SWITCH_PAIRS,
    code_switched_docs,
)
from hyperpolyglot_spark.functions.langdata import LANG_INFO
from hyperpolyglot_spark.functions.segments import (
    MIN_SPAN_LETTERS,
    classify_spans_py,
    script_runs_py,
)

# stratum floors (measured r6: span 0.973, mixed 20/20, pure FP 0/10,
# dominant 30/30 — floors leave margin for model re-freezes, the
# honest-measurement stance from the short-form fixture)
SPAN_ACC_FLOOR = 0.95
MIXED_RECALL_FLOOR = 0.95
DOMINANT_FLOOR = 0.95


def _fuse(script: str) -> str:
    return "cjk" if script in ("han", "kanji_kana") else script


def test_runs_partition_text_exactly():
    texts = [
        "Он сказал: “the rain started early” — и ушёл домой.",
        "雨は朝から降り始めた。The market fills with people.",
        "plain english only, one run",
        "12345 ... !!!",
        "",
        "a",  # single short letter
        "«Ψ» mixed tiny φθ runs 漢",
    ]
    for t in texts:
        runs = script_runs_py(t)
        # contiguous cover, no overlap, no gap
        pos = 0
        for start, length, n_letters, _label in runs:
            assert start == pos
            assert length > 0
            assert 0 <= n_letters <= length
            pos += length
        assert pos == len(t)
        # adjacent runs never share a label (an unlabeled run can only
        # be the leading prefix before any letter is seen)
        raw = [r[3] for r in runs]
        for a, b in zip(raw, raw[1:]):
            if a is not None and b is not None:
                assert a != b


def test_nonletters_attach_left_and_leading_prefix_adopts():
    runs = script_runs_py("  …Hello мир!")
    # leading punctuation joins the first (latin) run; trailing '!'
    # joins the cyrillic run
    assert runs[0][0] == 0 and runs[0][3] == "latin"
    assert runs[-1][3] == "cyrillic"
    assert runs[-1][1] == len("мир!")


def test_cjk_kana_rule():
    ja = "雨は朝早くから降り始めて、夕方まで止まなかったので休んだ。"
    zh = "每个星期六老市场都挤满了来买面包鱼和蔬菜的人们今天也一样。"
    rj = classify_spans_py(ja)
    rz = classify_spans_py(zh)
    assert [s[4] for s in rj["spans"]] == ["ja"]
    assert [s[4] for s in rz["spans"]] == ["zh"]


def test_short_spans_stay_null():
    # 8 cyrillic letters < MIN_SPAN_LETTERS -> no call
    r = classify_spans_py("Он сказал: “the rain started early in june”")
    first = r["spans"][0]
    assert first[3] == "cyrillic"
    assert first[2] < MIN_SPAN_LETTERS
    assert first[4] is None


def test_no_letters_doc_single_null_span():
    r = classify_spans_py("12345 ... !!!")
    assert r["spans"] == [(0, 13, 0, None, None)]
    assert r["dominant_lang"] is None
    assert r["dominant_share"] == 0.0
    assert r["mixed"] is False
    assert classify_spans_py("")["spans"] == []


def test_code_switch_stratum_floors():
    """Letters-weighted span accuracy, mixed recall, pure-control
    false positives, and dominant-lang accuracy over the bilingual
    stratum. Known misses (documented, intra-script confusable): the
    uk spans of the uk/de pair score ru."""
    ok = tot = 0
    mixed_ok = mixed_tot = pure_fp = pure_tot = dom_ok = dom_tot = 0
    for _doc_id, a, b, layout, text in code_switched_docs():
        r = classify_spans_py(text)
        exp = {
            _fuse(LANG_INFO[a]["script"]): a,
            _fuse(LANG_INFO[b]["script"]): b,
        }
        for _st, _ln, nl, script, lang in r["spans"]:
            if lang is None or script not in exp:
                continue
            tot += nl
            ok += nl if lang == exp[script] else 0
        dom_tot += 1
        dom_ok += r["dominant_lang"] in (a, b)
        if layout == "pure":
            pure_tot += 1
            pure_fp += r["mixed"]
        else:
            mixed_tot += 1
            mixed_ok += r["mixed"]
    assert tot > 5000  # the stratum is letters-substantial
    assert ok / tot >= SPAN_ACC_FLOOR, (ok, tot)
    assert mixed_ok / mixed_tot >= MIXED_RECALL_FLOOR, (mixed_ok, mixed_tot)
    assert pure_fp == 0, pure_fp
    assert dom_ok / dom_tot >= DOMINANT_FLOOR, (dom_ok, dom_tot)


def test_pairs_are_cross_script():
    for a, b in CODE_SWITCH_PAIRS:
        assert _fuse(LANG_INFO[a]["script"]) != _fuse(LANG_INFO[b]["script"]), (a, b)


def test_spark_parity_with_py_spec(spark):
    """with_segments + span_rows distributed output == the frozen
    python spec, row for row, including doc-level columns repeated on
    every span row."""
    from hyperpolyglot_spark.functions.segments import (
        span_rows,
        with_segments,
    )

    rows = [(d, t) for d, _a, _b, _l, t in code_switched_docs()]
    df = spark.createDataFrame(rows, "doc_id long, text string").repartition(4)
    got = sorted(
        (
            r["doc_id"], r["span_idx"], r["span_start"], r["span_len"],
            r["span_letters"], r["script"], r["lang"],
            r["dominant_lang"], r["dominant_share"], r["mixed"],
        )
        for r in span_rows(with_segments(df, spark)).collect()
    )
    exp = []
    for d, t in rows:
        r = classify_spans_py(t)
        for i, (st, ln, nl, sc, lg) in enumerate(r["spans"]):
            exp.append(
                (d, i, st, ln, nl, sc, lg, r["dominant_lang"],
                 r["dominant_share"], r["mixed"])
            )
    assert got == sorted(exp)


def test_surrogate_fallback_matches_shape():
    """Lone-surrogate text takes the per-char regex path and still
    partitions exactly."""
    t = "hello \ud800 мир and more"
    runs = script_runs_py(t)
    pos = 0
    for start, length, _nl, _lab in runs:
        assert start == pos
        pos += length
    assert pos == len(t)
