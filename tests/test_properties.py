"""Property-based robustness tests (hypothesis) — the reference suite
has none (SURVEY.md §5.4); these harden the spec functions against the
arbitrary bytes a 100 TB crawl will throw at them."""

from hypothesis import given, settings
from hypothesis import strategies as st

from hyperpolyglot_spark.functions.extract import (
    extract_text,
    truncate_to_char_boundary,
)
from hyperpolyglot_spark.functions.langid import classify_hashed_py, text_grams
from hyperpolyglot_spark.functions.metadata import (
    filter_candidates,
    tld_candidates,
    url_hint_lang,
)
from hyperpolyglot_spark.functions.quality import py_keep_drop, py_signals
from hyperpolyglot_spark.functions.scrub import py_scrub

# every code point: hypothesis' default alphabet leaves out category Cs
# and draws few code points that high, so lone surrogates get their own
# branch (str holds them, and the spec functions are total over str)
TEXT = st.text(
    st.characters(exclude_categories=()) | st.characters(categories=["Cs"]),
    max_size=400,
)
BYTES = st.binary(max_size=800)


@settings(max_examples=200, deadline=None)
@given(BYTES)
def test_extract_never_raises_and_is_capped(b):
    out = extract_text(b)
    assert len(out.encode("utf-8")) <= 51200
    assert extract_text(b) == out  # deterministic


@settings(max_examples=200, deadline=None)
@given(st.text(max_size=200), st.integers(min_value=0, max_value=64))
def test_truncate_boundary_valid_utf8(s, cap):
    out = truncate_to_char_boundary(s, cap)
    assert len(out.encode("utf-8")) <= cap
    assert s.startswith(out)


@settings(max_examples=150, deadline=None)
@given(TEXT, st.text(max_size=100))
def test_signals_bounded(text, url):
    sig = py_signals(text, url)
    assert 0.0 <= sig["symbol_ratio"] <= 1.0
    assert 0.0 <= sig["rep3_ratio"] <= 1.0
    assert 0.0 <= sig["stop_density"] <= 1.0
    keep, rule = py_keep_drop(text, url)
    assert keep == (rule is None)


@settings(max_examples=150, deadline=None)
@given(TEXT)
def test_scrub_idempotent(s):
    once, counts1 = py_scrub(s)
    twice, counts2 = py_scrub(once)
    assert twice == once  # scrubbing scrubbed text changes nothing
    assert all(v == 0 for v in counts2.values()) or any(
        v > 0 for v in counts1.values()
    )


@settings(max_examples=150, deadline=None)
@given(
    st.lists(st.sampled_from(["a", "b", "c", "d"]), max_size=4, unique=True),
    st.lists(st.sampled_from(["a", "b", "c", "d"]), max_size=4, unique=True),
)
def test_filter_candidates_laws(prev, new):
    out = filter_candidates(prev, new)
    if prev and new:
        # result is prev-ordered and a subset of prev, never empty
        assert out == [x for x in prev if x in out]
        assert set(out) <= set(prev)
        assert out
    elif not prev:
        assert out == new
    else:
        assert out == prev


@settings(max_examples=100, deadline=None)
@given(TEXT)
def test_classify_total(s):
    lang = classify_hashed_py(s, None)
    assert isinstance(lang, str) and lang
    assert len(text_grams(s)) <= 1998


@settings(max_examples=100, deadline=None)
@given(st.text(max_size=120))
def test_shebang_and_url_detectors_total(s):
    url = "https://" + s.replace("\n", "")
    assert tld_candidates(url) is not None
    url_hint_lang(url)  # must not raise


@settings(max_examples=120, deadline=None)
@given(TEXT, st.sampled_from(["en", "de", "zh", "ja", "ru", "nope"]))
def test_perplexity_total_and_positive(s, lang):
    from hyperpolyglot_spark.functions.perplexity import (
        default_ppl_model,
        logprob10_py,
        perplexity_py,
    )

    from hyperpolyglot_spark.functions.langid import normalize_scoring_text

    m = default_ppl_model()
    lp, n = logprob10_py(s, lang, m)
    # r6 spec: scoring normalizes invisible chars before gram windows
    assert n == len(text_grams(normalize_scoring_text(s))) or lang not in m
    assert lp <= 0.0  # probabilities <= 1
    p = perplexity_py(s, lang, m)
    if p is not None:
        assert p >= 1.0 or abs(p - 1.0) < 1e-9


@settings(max_examples=100, deadline=None)
@given(TEXT)
def test_hashed_classifier_total_and_matches_reference(s):
    """classify_hashed_py's numpy path must equal a naive per-gram
    reference on arbitrary unicode text (totality + equivalence). The
    reference loops over the same script-narrowed candidate set the
    scorer defaults to (round 5) — the property under test is the
    scoring/tie-break math, not the candidate policy."""
    from collections import Counter

    from hyperpolyglot_spark.functions.langid import (
        _narrowed_cands,
        classify_hashed_py,
        default_hashed_model,
        gram_bucket,
        script_letters,
        text_grams,
    )

    from hyperpolyglot_spark.functions.langid import normalize_scoring_text

    hm = default_hashed_model()
    got = classify_hashed_py(s, None, hm)
    # r6 spec: the scorer normalizes invisible chars first; the naive
    # reference must model the same input
    s = normalize_scoring_text(s)
    gc = Counter(text_grams(s))
    cands = _narrowed_cands(None, script_letters(s))
    best, bs, first = cands[0], float("-inf"), True
    for lang in cands:
        score = (
            float(sum(n * hm[lang][gram_bucket(g)] for g, n in gc.items()))
            if gc
            else 0.0
        )
        if first or score > bs:
            best, bs, first = lang, score, False
    assert got == best


@settings(max_examples=100, deadline=None)
@given(
    TEXT,
    st.lists(
        st.sampled_from(["en", "de", "zh", "ja", "ru", "ko", "xx", "yy"]),
        min_size=1,
        max_size=5,
        unique=True,
    ),
)
def test_hashed_classifier_candidate_subset_matches_reference(s, cands):
    """The matrix path's candidate-row select (absent languages score
    -inf, earliest candidate wins ties) must equal the naive loop on
    arbitrary candidate subsets, including unknown languages."""
    from collections import Counter

    from hyperpolyglot_spark.functions.langid import (
        classify_hashed_py,
        default_hashed_model,
        gram_bucket,
        text_grams,
    )

    from hyperpolyglot_spark.functions.langid import normalize_scoring_text

    hm = default_hashed_model()
    got = classify_hashed_py(s, cands, hm)
    gc = Counter(text_grams(normalize_scoring_text(s)))  # r6 spec
    best, bs, first = cands[0], float("-inf"), True
    for lang in cands:
        if lang not in hm:
            score = float("-inf")
        elif not gc:
            score = 0.0
        else:
            score = float(sum(n * hm[lang][gram_bucket(g)] for g, n in gc.items()))
        if first or score > bs:
            best, bs, first = lang, score, False
    assert got == best
