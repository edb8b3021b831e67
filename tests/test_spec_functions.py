"""Unit tests for the pure-Python spec functions (oracle mode) —
mirrors the reference's per-operator inline tests (SURVEY.md §5.1) —
plus the checks that hold each spec to its independent oracle (the
generated DuckDB SQL)."""

import numpy as np
import pytest

from hyperpolyglot_spark.functions.extract import (
    extract_text,
    meta_lang_tag,
    truncate_to_char_boundary,
)
from hyperpolyglot_spark.functions.langid import (
    DEFAULT_LOG_PROB,
    HASH_BUCKETS,
    classify_hashed_py,
    default_hashed_model,
    text_grams,
    train_hashed_py,
    training_corpus,
)
from hyperpolyglot_spark.functions.metadata import (
    filter_candidates,
    meta_lang_candidates,
    tld_candidates,
    tld_of,
    url_hint_lang,
    url_host,
)
from hyperpolyglot_spark.functions.quality import py_keep_drop, py_signals
from hyperpolyglot_spark.functions.scrub import py_scrub
from tests.regex_oracles import regex_scrub


# --- filter_candidates: exact src/lib.rs:434-472 semantics -----------
def test_filter_candidates_empty_prev():
    assert filter_candidates([], ["a", "b"]) == ["a", "b"]


def test_filter_candidates_empty_new():
    assert filter_candidates(["a", "b"], []) == ["a", "b"]


def test_filter_candidates_no_overlap_keeps_prev():
    assert filter_candidates(["a", "b"], ["c", "d"]) == ["a", "b"]


def test_filter_candidates_overlap_keeps_prev_order():
    assert filter_candidates(["a", "b", "c"], ["c", "b"]) == ["b", "c"]


# --- url metadata (P1/P2 analogs) -------------------------------------
def test_url_host_and_tld():
    assert url_host("https://www.example.co.uk/x") == "www.example.co.uk"
    assert tld_of("www.example.co.uk") == "uk"
    assert tld_of("foo.com") is None
    # longest-known-suffix scan (compound extension analog)
    assert tld_candidates("https://a.b.ch/page") == ["de", "fr", "it"]
    assert tld_candidates("http://x.cn/") == ["zh"]
    assert tld_candidates("http://x.io/") == []


def test_url_hint_lang():
    assert url_hint_lang("https://site.com/de/artikel") == "de"
    assert url_hint_lang("https://site.com/blog/EN-US/x") == "en"
    assert url_hint_lang("https://site.com/blog/post") is None


def test_meta_lang_candidates():
    assert meta_lang_candidates("en") == ["en"]
    assert meta_lang_candidates("pt-BR".lower()) == ["pt"]
    assert meta_lang_candidates("iberian") == ["es", "pt"]
    assert meta_lang_candidates("en-us-x-mtfrom") == ["en"]
    assert meta_lang_candidates("xx") == []
    assert meta_lang_candidates(None) == []


# --- extraction (byte-identical invariant helpers) --------------------
def test_extract_strips_boilerplate():
    html = (
        b"<html lang='de'><head><style>p{}</style></head><body>"
        b"<nav>Home | About</nav><!-- hidden -->"
        b"<script>var x=1;</script><p>Guten&nbsp;Tag &amp; hallo</p>"
        b"<footer>(c) 2024</footer></body></html>"
    )
    assert extract_text(html) == "Guten Tag & hallo"
    assert meta_lang_tag(html) == "de"


def test_extract_invalid_utf8_policy():
    # decode errors="replace" is THE policy (extract.py docstring)
    assert extract_text(b"<p>ok \xff\xfe</p>") == "ok ��"


def test_truncate_char_boundary():
    s = "a" * 51199 + "京"  # 3-byte char straddling the cap
    out = truncate_to_char_boundary(s, 51200)
    assert out == "a" * 51199
    assert truncate_to_char_boundary("abc", 51200) == "abc"
    assert truncate_to_char_boundary("京" * 3, 4) == "京"


def test_entity_no_double_decode():
    assert extract_text(b"<p>&amp;lt;</p>") == "&lt;"


# --- quality signals + rules ------------------------------------------
GOOD_EN = (
    "the house and the water in the world is that people of the time "
    "for on this market are the children with music at language between "
    "because through country the question answer morning network village "
    "weather mountain library the of and to in is it that was for on are"
) * 2


def test_keep_good_doc():
    keep, rule = py_keep_drop(GOOD_EN)
    assert keep and rule is None


def test_too_short():
    assert py_keep_drop("tiny doc") == (False, "too_short")


def test_symbol_ratio_drop():
    text = "@@@ ###" * 60
    keep, rule = py_keep_drop(text)
    assert (keep, rule) == (False, "symbol_ratio")


def test_repetition_drop():
    text = "the same words again " * 40
    keep, rule = py_keep_drop(text)
    assert (keep, rule) == (False, "repetition")


def test_stopword_density_drop():
    # varied gibberish (no repeated 3-grams) with zero stopwords
    words = [f"zx{i}qv{i * 7}" for i in range(80)]
    text = " ".join(words)
    assert len(text) >= 200
    keep, rule = py_keep_drop(text)
    assert (keep, rule) == (False, "stopword_density")


def test_vendor_url_drop_precedes_all():
    keep, rule = py_keep_drop("tiny", url="https://x.com/ads/page?utm_source=a")
    assert (keep, rule) == (False, "url_blocklist")


def test_signals_values():
    sig = py_signals("ab cd!")
    assert sig["n_chars"] == 6.0
    assert sig["n_words"] == 2.0
    assert sig["symbol_ratio"] == pytest.approx(1 / 6)
    assert sig["rep3_ratio"] == 0.0


# --- scrub -------------------------------------------------------------
def test_scrub_patterns():
    text = (
        "mail bob@example.com or +1 555-123-4567, server 10.0.0.1, "
        "ssn 123-45-6789, card 4111 1111 1111 1111, what the frak"
    )
    scrubbed, counts = py_scrub(text)
    assert "<EMAIL>" in scrubbed and "<PHONE>" in scrubbed
    assert "<IP>" in scrubbed and "<SSN>" in scrubbed
    assert "<CARD>" in scrubbed and "<TOXIC>" in scrubbed
    assert counts["email"] == 1 and counts["toxicity"] == 1
    assert "bob@example.com" not in scrubbed


def test_scrub_idempotent_on_clean():
    s, counts = py_scrub("nothing personal here")
    assert s == "nothing personal here"
    assert all(v == 0 for v in counts.values())


# --- quality + scrub spec vs its oracles --------------------------------
N_PAGES = 300


@pytest.fixture(scope="module")
def page_texts():
    """(doc_id, extracted text) of the first N_PAGES generated pages —
    every stratum of the pages generator, extracted on the driver."""
    from hyperpolyglot_spark.datagen.pages import gen_page

    return [(i, extract_text(gen_page(i)["html"])) for i in range(N_PAGES)]


def _duck_documents(source, page_texts):
    """A DuckDB connection whose ``documents`` is either the sf0.01
    table or the extracted pages."""
    import duckdb
    import pandas as pd

    con = duckdb.connect()
    if source == "sf0.01":
        from tests.test_entry_oracle import SF

        con.execute(
            "CREATE VIEW documents AS SELECT doc_id, text "
            f"FROM read_parquet('{SF}/documents.parquet')"
        )
    else:
        pdf = pd.DataFrame(page_texts, columns=["doc_id", "text"])
        con.register("documents", pdf)
    return con


@pytest.mark.parametrize("source", ["sf0.01", "pages"])
def test_quality_and_scrub_spec_match_duckdb(source, page_texts):
    """py_signals/py_keep_drop and py_scrub against the DuckDB SQL
    generated from the same dims — the spec's independent oracle,
    column by column. The SQL rounds ratios to 6 places."""
    from hyperpolyglot_spark.functions.scrub import SCRUB_NAMES
    from hyperpolyglot_spark.functions.spec_sql import keep_drop_sql, scrub_sql

    con = _duck_documents(source, page_texts)
    texts = dict(con.execute("SELECT doc_id, text FROM documents").fetchall())
    assert len(texts) >= N_PAGES

    res = con.execute(keep_drop_sql())
    cols = [d[0] for d in res.description]
    ratios = ("symbol_ratio", "rep3_ratio", "stop_density", "spaceless_ratio")
    outcomes = set()
    for row in res.fetchall():
        got = dict(zip(cols, row))
        text = texts[got["doc_id"]]
        sig = py_signals(text)
        keep, rule = py_keep_drop(text, signals=sig)
        assert got["n_chars"] == sig["n_chars"], got["doc_id"]
        assert got["n_words"] == sig["n_words"], got["doc_id"]
        for n in ratios:
            assert got[n] == pytest.approx(round(sig[n], 6), abs=1e-12), (
                got["doc_id"],
                n,
            )
        assert (got["keep"], got["drop_rule"]) == (keep, rule), got["doc_id"]
        outcomes.add(rule or "kept")
    if source == "pages":
        assert len(outcomes) >= 6, outcomes

    res = con.execute(scrub_sql())
    cols = [d[0] for d in res.description]
    n_rows = 0
    for row in res.fetchall():
        got = dict(zip(cols, row))
        scrubbed, counts = py_scrub(texts[got["doc_id"]])
        assert got["scrubbed_text"] == scrubbed, got["doc_id"]
        for n in SCRUB_NAMES:
            assert got[f"scrub_{n}"] == counts[n], (got["doc_id"], n)
        n_rows += 1
    assert n_rows == len(texts)


@pytest.mark.parametrize("text", ["skınjob", "aİrlock you", "wİrehead"])
def test_scrub_sql_folds_like_ignorecase(text):
    """IGNORECASE lets 'ı' and 'İ' match i and 'ſ' match s; the DuckDB
    scrub spells them out, so it scrubs these spellings as py_scrub
    does."""
    import duckdb
    import pandas as pd

    from hyperpolyglot_spark.functions.scrub import SCRUB_NAMES
    from hyperpolyglot_spark.functions.spec_sql import scrub_sql

    con = duckdb.connect()
    con.register("documents", pd.DataFrame({"doc_id": [0], "text": [text]}))
    res = con.execute(scrub_sql())
    got = dict(zip([d[0] for d in res.description], res.fetchone()))
    scrubbed, counts = py_scrub(text)
    assert got["scrubbed_text"] == scrubbed == "<TOXIC>"
    assert all(got[f"scrub_{n}"] == counts[n] for n in SCRUB_NAMES)


# --- langid classifier --------------------------------------------------
def test_classifier_accuracy_on_corpus():
    """Golden-corpus accuracy == 1.0 (reference lib.rs:386-432 requires
    accuracy 1.0 on samples/; train==eval like the reference)."""
    model = default_hashed_model()
    corpus = training_corpus(docs_per_lang=10, seed=777)  # fresh draws
    correct = sum(
        1
        for lang, text in corpus
        if classify_hashed_py(text, None, model) == lang
    )
    assert correct / len(corpus) == 1.0


def test_classifier_candidate_restriction():
    model = default_hashed_model()
    de_text = "der die und das ist von mit den nicht ein haus wasser"
    assert classify_hashed_py(de_text, ["fr", "de"], model) == "de"
    # restricted away from truth -> best among candidates, not 'de'
    assert classify_hashed_py(de_text, ["fr", "it"], model) in ("fr", "it")


def test_classifier_stable_tie_break():
    # unknown grams everywhere -> all candidates tie at default logprob;
    # earlier candidate must win (classifier.rs:42-48 stable sort)
    empty = np.full(HASH_BUCKETS, DEFAULT_LOG_PROB)
    model = {"aa": empty, "bb": empty.copy()}
    assert classify_hashed_py("qqqq", ["bb", "aa"], model) == "bb"
    # language missing from model -> -inf, never wins over a known one
    assert classify_hashed_py("qqqq", ["zz", "aa"], model) == "aa"


def test_classifier_empty_candidates_scores_all():
    model = default_hashed_model()
    assert classify_hashed_py("的是了在和有这就不人", [], model) == "zh"


def test_text_grams_bounded():
    grams = text_grams("x" * 10_000)
    assert len(grams) == 2000 - 2  # MAX_SCORE_CHARS cap


def test_train_py_logprobs_normalize():
    vec = train_hashed_py([("xx", "abcabc")])["xx"]
    total = np.exp(vec[vec != DEFAULT_LOG_PROB]).sum()
    assert total == pytest.approx(1.0)


def test_char_mask_parity_with_regex():
    """The code-point masks (langid.char_mask / alpha_mask) must agree
    with the spec regexes char-for-char on adversarial inputs: every
    known-script boundary, unicode whitespace (NEL, NBSP, ideographic
    space), astral symbols (emoji), combining marks and lone
    surrogates, which the code-point form carries like any other."""
    from hyperpolyglot_spark.functions.langid import alpha_mask, char_mask, text_codes
    from hyperpolyglot_spark.functions.quality import (
        _HANGUL_ANY_RE,
        _SPACELESS_RE,
        _SYMBOL_RE,
        _scan_counts,
    )

    samples = [
        "hello world 123",
        "@@@ ### !!! $$$",
        "中文没有空格的文本还有〱〒〓",  # cjk + cjk symbols
        "한국어 조사 테스트 에서",
        "mixed 中文 and ascii ᏣᎳᎩ plus    　 spaces",
        "emoji 😀🎉🚀 and astral 𐐔𐐯𐑅",
        "\x85\x1c\x1d\x1e\x1f edge whitespace-ish controls",
        "combining á ë marks ก้ไทย",
        "ÀàʯḀỿͰϿЀӿ԰֏֐׿؀ۿ boundary letters",
        "lone \ud800 high and \udfff low surrogates \udbff\udc00 paired-looking",
        "",
    ]
    for t in samples:
        want = (
            len(_SYMBOL_RE.findall(t)),
            len(_SPACELESS_RE.findall(t)),
            _HANGUL_ANY_RE.search(t) is not None,
        )
        assert _scan_counts(t) == want, t
        codes = text_codes(t)
        assert len(codes) == len(t)
        assert int(alpha_mask()[codes].sum()) == sum(c.isalpha() for c in t), t
    # every surrogate code point, one at a time
    for rx in (_SYMBOL_RE, _SPACELESS_RE, _HANGUL_ANY_RE):
        mask = char_mask(rx)
        for cp in range(0xD800, 0xE000):
            assert mask[cp] == (rx.search(chr(cp)) is not None), (rx.pattern, hex(cp))
    assert not alpha_mask()[0xD800:0xE000].any()


def test_script_table_letters_equal_the_regexes():
    """The classifier's one script histogram (langid.script_letters)
    counts, per script, exactly the letters (isalpha) its
    SCRIPT_LETTER_CLASSES regex matches, and over all scripts exactly
    the letters of the known-letter class [A-Za-z + LETTER_RANGES]
    that the unknown-script gate and the symbol class share."""
    import re

    import numpy as np

    from hyperpolyglot_spark.functions.langdata import SCRIPT_LETTER_CLASSES
    from hyperpolyglot_spark.functions.langid import (
        _COMPONENTS,
        _SCRIPT_COMPONENTS,
        _script_table,
        alpha_mask,
        char_mask,
    )
    from hyperpolyglot_spark.functions.quality import LETTER_RANGES

    table, alpha = _script_table(), alpha_mask()
    known = table < len(_COMPONENTS)
    want = char_mask(re.compile("[A-Za-z" + LETTER_RANGES + "]")) & alpha
    assert np.array_equal(known, want)
    for script, cls in SCRIPT_LETTER_CLASSES.items():
        got = np.isin(table, _SCRIPT_COMPONENTS[script])
        assert np.array_equal(got, char_mask(re.compile("[" + cls + "]")) & alpha), script


def test_scrub_broadened_patterns():
    """Round-4 production-set widening: IBAN, parenthesized phone,
    IPv6, street-address shapes, and two added toxicity lexicon
    classes — ordered rewrites with per-pattern counts, exact-
    implication guards, and sequential-order guarantees (iban before
    credit_card so an IBAN's digit groups are never half-eaten)."""
    from hyperpolyglot_spark.functions.scrub import SCRUB_NAMES, py_scrub

    s, c = py_scrub("wire DE44 5001 0517 5407 3249 31 today")
    assert "<IBAN>" in s and c["iban"] == 1 and c["credit_card"] == 0
    s, c = py_scrub("office line (212) 555-0143 after lunch")
    assert "<PHONE>" in s and c["phone_paren"] == 1
    s, c = py_scrub("node 2001:0db8:85a3:0000:8a2e:0370:7334 down")
    assert "<IP6>" in s and c["ipv6"] == 1 and c["ipv4"] == 0
    # compressed :: forms (the overwhelmingly common rendering)
    s, c = py_scrub("hosts 2001:db8::1 and fe80::8a2e:370:7334 up")
    assert s == "hosts <IP6> and <IP6> up" and c["ipv6"] == 2
    s, c = py_scrub("loopback ::1 pings; prefix 2001:db8:: reserved")
    assert s == "loopback <IP6> pings; prefix <IP6> reserved"
    assert c["ipv6"] == 2
    # c++ scope operators / short non-hex words don't trip it
    s, c = py_scrub("call std::sort or boost::asio now")
    assert c["ipv6"] == 0 and "<IP6>" not in s
    # r6 ADVICE: hex-looking identifiers around '::' are code, not
    # addresses — compressed branches need >=2 hextet groups or a
    # digit in the leading/first hextet
    for t in ("the DB::Fetch call", "a::b in perl", "use dead:: now",
              "fe:: token", "Acc::count", "mod a::b::c here"):
        s, c = py_scrub(t)
        assert s == t and c["ipv6"] == 0, (t, s)
    s, c = py_scrub("route ::dead:beef added")  # 2 groups after ::
    assert s == "route <IP6> added" and c["ipv6"] == 1
    s, c = py_scrub("cell ::10ab:cd here")  # longest match, not ::10ab
    assert s == "cell <IP6> here" and c["ipv6"] == 1
    s, c = py_scrub("ship to 742 Evergreen Terrace and 12 Baker Street")
    assert s.count("<ADDR>") == 2 and c["address"] == 2
    s, c = py_scrub("that Clanker and its meatbags, I will airlock you")
    assert c["toxicity_slur"] == 2 and c["toxicity_threat"] == 1
    # times and decimals are not addresses/ips/ipv6
    s, c = py_scrub("meet at 12:30, pi is 3.14, room 4 floor 2")
    assert s == "meet at 12:30, pi is 3.14, room 4 floor 2"
    assert all(v == 0 for v in c.values())
    assert len(SCRUB_NAMES) == 12


def test_fused_toxicity_equals_sequential():
    """py_scrub fuses the three toxicity classes into one combined
    scan; output must equal the literal sequential per-class rewrites
    the table (and the generated DuckDB oracle) describes."""
    cases = [
        "what the frak is this gorram clanker, i will airlock you",
        "FRAKKING meatbags and mudbloods, vape them all",
        "frag you and frag them, frakking clankers",
        "I will vaping them because airlocking you failed",
        "frak@example.com carries a stem inside an email",
        "clean text with none of it",
        "wire DE44 5001 0517 5407 3249 31 to the gorram smeg bank",
    ]
    for t in cases:
        assert py_scrub(t) == regex_scrub(t), t
