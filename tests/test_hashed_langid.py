"""Hashed n-gram classifier: bucket hashing, bounded model size,
tie-breaks, and the cap-before-lower gram contract."""

from collections import Counter

from hyperpolyglot_spark.functions.langid import (
    HASH_BUCKETS,
    classify_hashed_py,
    default_hashed_model,
    gram_bucket,
)


def test_bucket_is_deterministic_and_in_range():
    assert gram_bucket("the") == gram_bucket("the")
    for g in ("abc", "the", "und", "的是了", "ё́ж"):
        assert 0 <= gram_bucket(g) < HASH_BUCKETS


def test_model_size_bounded_by_buckets():
    hm = default_hashed_model()
    for vec in hm.values():
        assert vec.shape == (HASH_BUCKETS,)
    # ~0.8MB at 24 languages; the point: size is O(langs * buckets),
    # independent of vocabulary
    assert sum(v.nbytes for v in hm.values()) < 16 * 2**20


def test_tie_break_and_empty_candidates():
    hm = default_hashed_model()
    # empty text scores 0 for every lang -> stable first-candidate win
    assert classify_hashed_py("", ["fr", "en"], hm) == "fr"
    assert classify_hashed_py("", None, hm) == "en"  # LANGUAGES[0]
    # unknown lang scores -inf
    assert classify_hashed_py("abc", ["nope", "en"], hm) == "en"


def test_cap_before_lower_boundary():
    """Cap/lower ORDER parity (ADVICE r2): the spec is text[:cap].lower().
    'İ' lowercases to 2 chars ('i' + combining dot), so lowering BEFORE
    capping shifts every gram after it in longer-than-cap texts. The
    scorers' packed grams and the perplexity events must slice first,
    exactly like the spec."""
    from hyperpolyglot_spark.functions.langid import (
        _KEY_MASK,
        MAX_SCORE_CHARS,
        _packed_grams,
        text_grams,
    )
    from hyperpolyglot_spark.functions.perplexity import default_ppl_model, logprob10_py

    # 'İ' sits well before the cap; text extends past the cap so the
    # wrong order would shift the capped window by one char per 'İ'.
    text = ("İstanbul und das wasser " * 200)[: MAX_SCORE_CHARS + 50]
    expected = text_grams(text)

    keys, counts = _packed_grams(text)
    decoded = {
        chr(k >> 42) + chr((k >> 21) & _KEY_MASK) + chr(k & _KEY_MASK): n
        for k, n in zip(keys.tolist(), counts.tolist())
    }
    assert decoded == Counter(expected)

    # the LM scores the same events
    assert logprob10_py(text, "de", default_ppl_model())[1] == len(expected)


def test_classify_hashed_empty_model_falls_back_to_first_candidate():
    """An empty model (e.g. trained on an empty corpus) must score
    every candidate -inf and return the earliest candidate, exactly
    like the pre-matrix per-language loop — not raise from
    np.stack([]) (code-review regression)."""
    from hyperpolyglot_spark.functions.langid import classify_hashed_py

    assert classify_hashed_py("some text here", ["en", "de"], {}) == "en"
    assert classify_hashed_py("", ["fr"], {}) == "fr"
