"""Real-prose transfer measurement (the reference samples/ golden-test
analog; synthetic text alone cannot show how the models transfer):
models trained on the synthetic word pools are evaluated on natural
prose they never saw.
Numbers here are reported in BASELINE.md — the floors assert the
measured levels don't silently regress.

What this fixture already caught (round 3):
  - space-joined CJK training made real zh/ja prose unclassifiable
    (dict-NB accuracy 0) -> training_corpus now joins spaceless
    scripts without separators;
  - at 4096 hash buckets the widened zh gram space covered ~60% of
    buckets and attracted every out-of-vocabulary gram (hashed
    accuracy 0.47) -> HASH_BUCKETS=16384.
"""

import random

from hyperpolyglot_spark.datagen.realtext import REAL_TEXT
from hyperpolyglot_spark.functions.langid import (
    classify_hashed_py,
    default_hashed_model,
)
from hyperpolyglot_spark.functions.perplexity import (
    default_ppl_model,
    perplexity_py,
)


def _accuracy(scorer):
    n = ok = 0
    errs = []
    for lang, passages in REAL_TEXT.items():
        for p in passages:
            n += 1
            got = scorer(p)
            ok += got == lang
            if got != lang:
                errs.append((lang, got))
    return ok / n, errs


def test_fixture_shape():
    assert len(REAL_TEXT) >= 30
    for lang, passages in REAL_TEXT.items():
        assert len(passages) == 3, lang
        for p in passages:
            # CJK passages are ~45-60 chars (each char is a word)
            assert len(p) > 40, lang


def test_hashed_nb_transfer_accuracy():
    hm = default_hashed_model()
    acc, errs = _accuracy(lambda p: classify_hashed_py(p, None, hm))
    # measured 0.980 at 16384 buckets over 306 passages / 102 langs
    # after round-5 script narrowing; residual errors are the
    # genuinely-hard same-script pairs (zh/ja han overlap, uk/ru,
    # ms/id, mk/ru, ga/gd, su/id). The 4096-bucket attractor: 0.47.
    assert acc >= 0.90, (acc, errs)


def test_perplexity_prefers_real_prose_over_scrambled():
    """Under each language's char-LM, natural prose must score lower
    perplexity than the same characters shuffled — the LM orders
    real text above noise even on out-of-distribution prose."""
    m = default_ppl_model()
    rng = random.Random(7)
    n = lower = 0
    for lang, passages in REAL_TEXT.items():
        for p in passages:
            pr = perplexity_py(p, lang, m)
            chars = list(p)
            rng.shuffle(chars)
            ps = perplexity_py("".join(chars), lang, m)
            if pr is None or ps is None:
                continue
            n += 1
            lower += pr < ps
    # measured 177/180 (107/114 before the no-space fix)
    assert lower / n >= 0.9, (lower, n)


def test_real_prose_survives_quality_rules():
    """A full-length real document (the language's three passages
    joined — individual passages sit under the 200-char too_short
    floor by design) is genuine clean prose: none may be dropped by
    the script-aware signal rules. This is the check that caught the
    symbol-class gap (thai/georgian/armenian chars counted as symbols,
    symbol_ratio 0.98 -> everything dropped) and the stopword/rep3
    gates for spaceless scripts."""
    from hyperpolyglot_spark.functions.langid import _lang_sep
    from hyperpolyglot_spark.functions.quality import py_keep_drop

    for lang, passages in REAL_TEXT.items():
        doc = _lang_sep(lang).join(passages)
        keep, rule = py_keep_drop(doc)
        assert keep, (lang, rule, doc[:60])


# ----------------------------------------------------------------------
# short-form stratum (round 5): the length envelope — titles/queries
# ----------------------------------------------------------------------

def _short_accuracy(scorer):
    from hyperpolyglot_spark.datagen.realtext import short_texts

    n = ok = 0
    errs = []
    for lang, frags in short_texts().items():
        for s in frags:
            n += 1
            got = scorer(s)
            ok += got == lang
            if got != lang:
                errs.append((lang, got, s[:30]))
    return ok / n, errs


def test_short_fixture_shape():
    from hyperpolyglot_spark.datagen.realtext import short_texts

    st = short_texts()
    assert len(st) == len(REAL_TEXT)
    for lang, frags in st.items():
        assert len(frags) == 3, lang
        for s in frags:
            # title/query length: never a full passage
            assert len(s.split()) <= 15, (lang, s)
            assert len(s) >= 8, (lang, s)


def test_short_hashed_nb_accuracy():
    hm = default_hashed_model()
    acc, errs = _short_accuracy(lambda s: classify_hashed_py(s, None, hm))
    # measured 0.889 at 16384 buckets (round 5, with script
    # narrowing — 0.869 without); full passages 0.980
    assert acc >= 0.85, (acc, errs)


def test_short_unresolved_rate_bounded():
    """The unresolved gate must not eat the short-doc mass: real titles
    in in-universe languages should overwhelmingly resolve. Measured
    3.6% gated (round 5) — bounded at 8%."""
    from hyperpolyglot_spark.datagen.realtext import short_texts
    from hyperpolyglot_spark.functions.langid import classify_or_none_py

    hm = default_hashed_model()
    n = gated = 0
    for lang, frags in short_texts().items():
        for s in frags:
            n += 1
            gated += classify_or_none_py(s, None, hm) is None
    assert gated / n <= 0.08, (gated, n)


# ----------------------------------------------------------------------
# noisy-encoding stratum (round 6)
# ----------------------------------------------------------------------

def test_noisy_stratum_pins():
    """Pins (measured r6 on the 102-language full-length stratum):
      * clean: accuracy 1.0, nothing dropped
      * zwsp (NBSP + zero-width litter): FULLY absorbed — classifier
        prediction and keep/drop decision identical to clean for every
        language (forced the normalize_scoring_text fix; pre-fix
        accuracy was 0.088 with 90% gated)
      * every transform: NO misclassified doc reaches the kept pool
        (wrong-language docs must be dropped or unresolved) — the
        pipeline-level safety invariant
      * mojibake/pct: zero confident misclassifications (gate catches
        the garbage: 42/46 unresolved, the rest dropped or correct)
      * mojibake: >= 75% of non-surviving docs caught (dropped or
        unresolved; measured 83/102)
    """
    from hyperpolyglot_spark.datagen.realtext import noisy_texts
    from hyperpolyglot_spark.functions.langid import (
        classify_or_none_py,
        default_hashed_model,
    )
    from hyperpolyglot_spark.functions.quality import py_keep_drop

    model = default_hashed_model()
    by_variant: dict[str, list] = {}
    clean_decisions = {}
    clean_preds = {}
    for _doc_id, lang, variant, text in noisy_texts():
        keep, rule = py_keep_drop(text)
        pred = classify_or_none_py(text, [], model)
        by_variant.setdefault(variant, []).append((lang, keep, rule, pred))
        if variant == "clean":
            clean_decisions[lang] = keep
            clean_preds[lang] = pred

    # clean baseline
    clean = by_variant["clean"]
    assert all(p == l for l, _k, _r, p in clean)
    assert all(k for _l, k, _r, _p in clean)

    # zwsp == clean, language by language
    for lang, keep, _rule, pred in by_variant["zwsp"]:
        assert keep == clean_decisions[lang], lang
        assert pred == clean_preds[lang], lang

    # safety invariant: kept ^ misclassified is empty everywhere
    for variant, rows in by_variant.items():
        for lang, keep, _rule, pred in rows:
            mis = pred is not None and pred != lang
            assert not (keep and mis), (variant, lang, pred)

    # mojibake / pct: no confident misclassification at all
    for variant in ("mojibake", "pct"):
        mis = [
            (l, p)
            for l, _k, _r, p in by_variant[variant]
            if p is not None and p != l
        ]
        assert mis == [], (variant, mis)

    # mojibake detection coverage: dropped-or-unresolved >= 75% of the
    # docs the transform actually damaged (non-identity)
    damaged = caught = 0
    for lang, keep, _rule, pred in by_variant["mojibake"]:
        if pred == lang and keep:  # ASCII-dominant: transform ~identity
            continue
        damaged += 1
        caught += (not keep) or pred is None
    assert damaged and caught / damaged >= 0.75, (caught, damaged)
