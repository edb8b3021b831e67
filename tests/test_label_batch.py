"""label_batch equals py_label_page row by row, whatever the batching.

Hypothesis draws pages from text families where a batch form could
drift from the per-row spec: invisible-char noise, Greek words ending
in Σ (str.lower's final sigma), 'İ'/'ı'/'ſ', Hangul particle words, CJK
and Thai spaceless runs, stopwords in mixed case, PII and lexicon
stems, empty and whitespace-only bodies, texts over 2,000 chars, and
vendor urls. The batch signals alone are held to py_signals on raw
strings with tabs, newlines, NBSP and lone surrogates, the rows that
take py_signals itself.
"""

import math

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from hyperpolyglot_spark.functions.langdata import STOPWORDS, WORDS
from hyperpolyglot_spark.functions.langid import default_hashed_model
from hyperpolyglot_spark.functions.perplexity import default_ppl_model, ppl_thresholds_for
from hyperpolyglot_spark.functions.quality import (
    batch_keep_drop,
    batch_signals,
    py_keep_drop,
    py_signals,
)
from hyperpolyglot_spark.plans.pipeline import (
    LABEL_FIELDS,
    UNRESOLVED_POLICIES,
    label_batch,
    py_label_page,
)
from tests.test_label_digest import frame_rows

MODEL = default_hashed_model()
PPL_MODEL = default_ppl_model()
PPL_THR = ppl_thresholds_for(PPL_MODEL)

STOP_LANGS = ("en", "de", "fr", "el", "tr", "ru", "ko")
MIXED_CASE_STOPWORDS = st.sampled_from(
    sorted({w for lang in STOP_LANGS for w in STOPWORDS[lang]})
).flatmap(lambda w: st.sampled_from([w, w.upper(), w.capitalize()]))
ATOMS = st.one_of(
    MIXED_CASE_STOPWORDS,
    st.sampled_from(sorted({w for lang in ("en", "de", "ru") for w in WORDS[lang]})),
    # final sigma, and the letters IGNORECASE folds apart from str.lower
    st.sampled_from(["ΟΔΟΣ", "ΣΟΦΟΣ", "ΤΟΥΣ", "ΚΑΙ", "İstanbul", "KIRMIZI", "ıſland",
                     "ſmeg", "aİrlock", "İİ"]),
    st.sampled_from(["학교에서", "사람은", "책을", "나는", "서울의", "한국어"]),
    st.sampled_from(["我们的国家图书馆", "これはテストです", "ภาษาไทยง่าย", "東京都"]),
    st.sampled_from(["\u200b", "\u00ad", "\u2060", "\ufeff", "\u200e", "&nbsp;"]),
    st.sampled_from(["call 555-234-5678", "card 4111 1111 1111 1111", "a@b.co",
                     "DE44 5001 0517 5407 3249 31", "12 Main Street", "fe80::1",
                     "1.2.3.4", "what the frak", "(212) 555-0143"]),
    st.text(max_size=6),
)
SEPS = st.sampled_from([" ", " ", "  ", "", "\u200b", "\n", "</p><p>"])
TEXT = st.lists(st.tuples(ATOMS, SEPS), max_size=50).map(
    lambda xs: "".join(a + s for a, s in xs)
)
PROSE = st.lists(
    st.sampled_from(STOPWORDS["en"] + WORDS["en"]), min_size=300, max_size=600
).map(" ".join)
BODY = st.one_of(
    st.just(""),
    st.just("  \n\t "),
    TEXT,
    PROSE,
    st.tuples(TEXT, st.integers(2, 60)).map(lambda t: (t[0] + " ") * t[1]),
)
URLS = st.sampled_from([
    "", "https://example.com/page", "https://example.com/en/page",
    "https://site.example.de/x", "https://example.kr/ko/x", "https://example.cn/zh/",
    "https://example.com/ads/x.html", "https://example.com/wp-admin/a",
    "https://example.org/p?utm_source=x", "https://example.com/privacy-policy",
    "https://x.example.jp/static/jquery.min.js",
])
PAGES = st.tuples(URLS, BODY, st.sampled_from(["", ' lang="en"', ' lang="ko"', ' lang="cjk"'])).map(
    lambda t: (t[0], f"<html{t[2]}><body><p>{t[1]}</p></body></html>".encode())
)


@settings(max_examples=40, deadline=None,
          suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large])
@given(
    st.lists(PAGES, min_size=1, max_size=16),
    st.sampled_from([0, 1, 2, 255, 257]),
    st.sampled_from([1, 2, 255, 257]),
    st.sampled_from(UNRESOLVED_POLICIES),
)
def test_label_batch_equals_py_label_page_under_any_chunking(pages, n, chunk, policy):
    """``n`` rows cycled from the drawn pages, labelled in chunks of
    ``chunk`` rows, equal py_label_page's rows in order."""
    want = [
        {k: v for k, v in py_label_page(url, html, MODEL, PPL_MODEL, PPL_THR, policy).items()
         if k != "url"}
        for url, html in pages
    ]
    batch = [pages[i % len(pages)] for i in range(n)]
    got = []
    for k in range(0, n, chunk):
        urls, html = zip(*batch[k : k + chunk])
        frame = label_batch(urls, html, MODEL, PPL_MODEL, PPL_THR, policy)
        assert list(frame.columns) == list(LABEL_FIELDS)
        got += frame_rows(frame)
    assert len(got) == n
    for i, row in enumerate(got):
        assert row == want[i % len(pages)], batch[i]


def test_label_batch_of_no_rows_is_an_empty_frame():
    frame = label_batch([], [], MODEL, PPL_MODEL, PPL_THR)
    assert list(frame.columns) == list(LABEL_FIELDS) and len(frame) == 0


RAW_TEXT = st.lists(
    st.one_of(
        ATOMS,
        st.sampled_from(["\t", "\n", "\r", "\x0b", "\x0c", "\u00a0", "\u202f", " "]),
        st.sampled_from(["\ud800", "\udfff", "a\udc80b"]),
        st.text(max_size=4),
    ),
    max_size=40,
).map(" ".join)


@settings(max_examples=150, deadline=None)
@given(st.lists(st.tuples(RAW_TEXT, URLS), max_size=12))
def test_batch_signals_equal_py_signals_on_raw_strings(rows):
    texts = [t for t, _ in rows]
    urls = [u for _, u in rows]
    sig = batch_signals(texts, urls)
    keep, drop_rule = batch_keep_drop(sig)
    for i, (text, url) in enumerate(rows):
        for k, v in py_signals(text, url).items():
            got = sig[k][i]
            assert (math.isnan(got) if v is None else got == v), (k, text)
        assert (keep[i], drop_rule[i]) == py_keep_drop(text, url), text
