"""Quality signals + ordered keep/drop rules (heuristic rule engine).

This is the web-text generalization of the reference's heuristic rule
engine (src/detectors/heuristics.rs:46-72): an ORDERED rule list where
the first matching rule decides (drop + rule id), and a pattern-less
default (keep) at the end. Cheap rules run first so expensive stages
never see dropped docs (the `.h -> C` classifier-dodge trick,
codegen.rs:329-336 / README.md:76-83, generalized — SURVEY.md §4 X5).

py_signals/py_keep_drop are the per-row spec, plain Python and numpy;
the DuckDB SQL generated from the same dims (spec_sql.keep_drop_sql) is
its independent oracle. batch_signals/batch_keep_drop compute the same
values for a whole Arrow batch with numpy and pyarrow; the pipeline's
batch labeller (plans/pipeline.label_batch) runs them, and every value
equals py_signals/py_keep_drop's on the same row
(tests/test_label_digest.py, tests/test_label_batch.py).

Word split spec: ASCII-whitespace runs (extraction output collapses all
whitespace to single spaces).
"""

from __future__ import annotations

import re

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from .langdata import ALL_STOPWORDS
from .langid import char_mask, normalize_scoring_text, pack_trigrams, text_codes

# Letter ranges of every script in the language universe (the 26
# scripts): the union of langdata.SCRIPT_LETTER_CLASSES less A-Za-z,
# which langid's unknown-script gate reads (tests pin the two equal).
# The symbol class below is their negation: anything not a known
# letter/digit/space is a "symbol". Same literals compile under Python
# re, Java regex, and RE2/DuckDB.
LETTER_RANGES = (
    "À-ʯ"  # latin-1 supplement + extended A/B + IPA (ə, hausa ɓɗ)
    "Ͱ-Ͽ"  # greek
    "Ѐ-ӿ"  # cyrillic
    "԰-֏"  # armenian
    "֐-׿"  # hebrew
    "؀-ۿ"  # arabic
    "ऀ-ॿ"  # devanagari
    "ঀ-৿"  # bengali
    "਀-੿"  # gurmukhi
    "઀-૿"  # gujarati
    "଀-୿"  # odia
    "஀-௿"  # tamil
    "ఀ-౿"  # telugu
    "ಀ-೿"  # kannada
    "ഀ-ൿ"  # malayalam
    "඀-෿"  # sinhala
    "฀-๿"  # thai
    "຀-໿"  # lao
    "ༀ-࿿"  # tibetan
    "က-႟"  # myanmar
    "Ⴀ-ჿ"  # georgian
    "ሀ-፿"  # ethiopic
    "ក-៿"  # khmer
    "Ḁ-ỿ"  # latin extended additional (vietnamese, yoruba/igbo dots)
    "぀-ヿ"  # hiragana + katakana
    "一-鿿"  # cjk unified ideographs
    "가-힯"  # hangul syllables
    "ᄀ-ᇿ"  # hangul conjoining jamo (decomposed korean)
    "㄰-㆏"  # hangul compatibility jamo
)
# Chars that count as "symbols": not alnum, not whitespace, and not a
# letter of any known script.
_SYMBOL_CLASS = "[^A-Za-z0-9\\s" + LETTER_RANGES + "]"
_SYMBOL_RE = re.compile(_SYMBOL_CLASS)
_WS_SPLIT_RE = re.compile(r"[ \t\n\r\f\x0b]+")

# Scripts written WITHOUT spaces between words (han, kana, thai —
# hangul and vietnamese DO space). Word-based quality signals are
# meaningless for text dominated by these scripts: a 400-word zh doc is
# ~10 whitespace tokens, so stopword density reads ~0 and word-3-gram
# repetition reads ~0 regardless of content. Docs with
# spaceless_ratio > 0.5 get CHAR-based equivalents instead (the CCNet/
# Gopher-style CJK special-case every real web filter needs).
_SPACELESS_CLASS = "[぀-ヿ一-鿿฀-๿ក-៿຀-໿က-႟ༀ-࿿]"
_SPACELESS_RE = re.compile(_SPACELESS_CLASS)
SPACELESS_THRESHOLD = 0.5
_REP_CHAR_N = 3
_REP_CHAR_CAP = 2000

# Korean is SPACED but agglutinative: function morphemes (은/는/이/가/
# 를/에서/...) attach to content words, so real Korean prose has ~zero
# EXACT stopword-token matches (measured 0.015 on the real-text
# fixture). A hangul token ending in a common particle counts as a
# stop hit — same regex in Python re, Java rlike, and DuckDB RE2.
_HANGUL_PARTICLE_RE_S = (
    "[가-힯]+(?:는|은|이|가|를|을|의|에서|에게|에|으로|로|와|과|도|만"
    "|까지|부터|처럼|보다)$"
)
_HANGUL_PARTICLE_RE = re.compile(_HANGUL_PARTICLE_RE_S)
# doc-level gate for the per-word particle scan: the particle regex
# requires [가-힯]+, so a doc with no Hangul syllable can skip it
_HANGUL_ANY_RE = re.compile("[가-힯]")

# Vendor/boilerplate URL blocklist — the P3/P4 analog of the reference's
# ~120 vendored-path globs (src/filters/vendor.rs, documentation.rs),
# compiled to ONE regex alternation so it is a single search per url.
# Java- and RE2-safe (no lookaround). Categories mirror the
# reference's: third-party asset dirs, minified bundles, tracking,
# admin/infra paths, and boilerplate/legal sections (the doc-filter
# analog).
_VENDOR_PATH_DIRS = (
    # ad/tracking infrastructure
    "ads?", "adserver", "adsense", "advert(?:s|ising)?", "banners?",
    "tracking", "trackers?", "analytics", "pixel", "beacons?",
    "doubleclick", "googletagmanager", "googleads", "adsbygoogle",
    "outbrain", "taboola", "criteo", "quantcast", "scorecardresearch",
    "chartbeat", "hotjar", "mouseflow", "crazyegg", "piwik", "matomo",
    "statcounter", "metrika",
    # CMS internals / admin
    "cdn-cgi", "wp-admin", "wp-includes", "wp-json", "xmlrpc",
    "wp-content/plugins", "wp-content/themes", "wp-content/cache",
    "typo3temp", "typo3conf", "bitrix", "administrator", "phpmyadmin",
    "umbraco", "sites/all/modules", "sites/default/files/js",
    "misc/jquery", "modules/contrib", "media/system", "media/jui",
    "skin/frontend", "js/mage", "pub/static", "static/version[0-9]*",
    # vendored assets
    "assets/vendor", "static/vendor", "node_modules", "bower_components",
    "third[_-]party", "vendor/bundles?", "dist/min", "min/js", "min/css",
    "cgi-bin", "__media__", "plesk-stat", "webstat", "awstats",
)
_TRACKING_PARAMS = (
    "utm_[a-z]+", "gclid", "fbclid", "mc_eid", "ref_src", "igshid",
    "msclkid", "dclid", "twclid", "yclid", "wbraid", "gbraid",
    "_hsenc", "_hsmi", "mkt_tok", "vero_id", "s_kwcid", "ncid",
)
_BOILERPLATE_SECTIONS = (
    "privacy-policy", "privacy_policy", "terms-of-service", "terms-of-use",
    "terms-and-conditions", "cookie-policy", "cookie-notice",
    "legal-notice", "impressum", "disclaimer", "unsubscribe",
    "login", "signin", "signup", "register", "password-reset",
    "forgot-password", "my-account", "account/settings", "order-history",
    "track-order", "cart", "checkout", "wishlist",
    "refund-policy", "return-policy", "shipping-policy",
    "accessibility-statement", "gdpr", "newsletter-signup",
    "print-preview", "under-construction", "coming-soon",
    "sitemap\\.xml", "robots\\.txt", "favicon\\.ico", "feed\\.xml",
    "rss\\.xml", "atom\\.xml", "opensearch\\.xml", "ads\\.txt",
    "humans\\.txt", "browserconfig\\.xml", "manifest\\.webmanifest",
)
_BOILERPLATE_FILES = (
    r"[^/]*\.min\.(?:js|css)", r"jquery[^/]*\.js", r"bootstrap[^/]*\.(?:js|css)",
    r"modernizr[^/]*\.js", r"gtag\.js", r"fbevents\.js", r"ga\.js",
    r"analytics\.js", r"piwik\.js", r"matomo\.js", r"hotjar[^/]*\.js",
    r"adsbygoogle\.js", r"beacon(?:\.min)?\.js", r"clarity\.js",
    r"plausible\.js", r"angular[^/]*\.js", r"react(?:-dom)?[^/]*\.js",
    r"vue[^/]*\.js", r"ember[^/]*\.js", r"backbone[^/]*\.js",
    r"underscore[^/]*\.js", r"lodash[^/]*\.js", r"prototype\.js",
    r"mootools[^/]*\.js", r"swfobject\.js", r"require[^/]*\.js",
    r"polyfill[^/]*\.js", r"webfont[^/]*\.js",
)
# ~120 vendor/boilerplate patterns (the vendor.rs:3-364 breadth analog)
# compiled into ONE alternation.
VENDOR_URL_RE = (
    "(?:/(?:" + "|".join(_VENDOR_PATH_DIRS) + ")/"
    "|[?&](?:" + "|".join(_TRACKING_PARAMS) + ")="
    "|/(?:" + "|".join(_BOILERPLATE_SECTIONS) + ")(?:/|$)"
    "|/(?:" + "|".join(_BOILERPLATE_FILES) + ")(?:$|[?#])"
    ")"
)
_VENDOR_URL_COMPILED = re.compile(VENDOR_URL_RE)

# --- thresholds (the ordered rule table) ------------------------------
MIN_CHARS = 200
# spaceless scripts carry ~2.5x information per char (each han char is
# a word): the length floor for spaceless-dominant docs is lower
MIN_CHARS_SPACELESS = 80
MAX_CHARS = 40_000
MAX_SYMBOL_RATIO = 0.30
MAX_REP3_RATIO = 0.50
MIN_STOPWORD_DENSITY = 0.05
# KenLM-style LM threshold: kept fixture prose scores ppl <= ~7 under
# the per-language char-3-gram LM; scrambled/word-salad text scores
# 20-50+ (measured, tests/test_perplexity.py pins the separation).
MAX_PPL = 10.0

# Char-trigram repetition threshold for spaceless docs: normal zh/ja
# prose has distinct-trigram ratio ~0.7-0.95 (rep ~0.05-0.3); a
# repeated phrase block collapses it (rep 0.9+). Measured on the
# fixture strata (tests/test_spec_functions.py).
MAX_REP_CHAR_RATIO = 0.60

# (rule_id, signal, op) — order IS the spec (first match wins).
# The *_gated signals are NULL/None for the script class where the
# word-based form is meaningless (see _SPACELESS_CLASS above); a NULL
# signal never fires its rule, so each rule applies exactly to the
# script class it measures.
RULES: tuple[tuple[str, str, str, float], ...] = (
    ("url_blocklist", "is_vendor_url", ">=", 1.0),
    ("too_short", "n_chars_gated", "<", float(MIN_CHARS)),
    ("too_short_spaceless", "n_chars_spaceless_gated", "<", float(MIN_CHARS_SPACELESS)),
    ("too_long", "n_chars", ">", float(MAX_CHARS)),
    ("symbol_ratio", "symbol_ratio", ">", MAX_SYMBOL_RATIO),
    ("repetition", "rep3_gated", ">", MAX_REP3_RATIO),
    ("repetition_char", "rep_char_gated", ">", MAX_REP_CHAR_RATIO),
    ("stopword_density", "stop_density_gated", "<", MIN_STOPWORD_DENSITY),
)

# The perplexity rule is LAST by design (classifier-dodge economics,
# X5): the LM scores only docs every cheap rule already passed. It
# needs lang_pred, so it joins the table where the pipeline has both
# (plans/pipeline.py, RULES_WITH_PPL); a missing/None signal never
# fires a rule (a <3-char doc has no LM events).
PPL_RULE = ("perplexity", "perplexity", ">", MAX_PPL)
RULES_WITH_PPL: tuple[tuple[str, str, str, float], ...] = RULES + (PPL_RULE,)


# ======================================================================
# char-class counts
# ======================================================================
# The three single-char classes the signals count, as one uint8 code-
# point table (langid.char_mask builds each bit from its spec regex):
# one UTF-32 encode and one gather per text or batch.

_SYMBOL_BIT, _SPACELESS_BIT, _HANGUL_BIT = 1, 2, 4
_CLASS_TABLE = None


def _class_table():
    """uint8 codepoint table: symbol | spaceless << 1 | hangul << 2."""
    global _CLASS_TABLE
    if _CLASS_TABLE is None:
        t = char_mask(_SYMBOL_RE).astype(np.uint8)
        t |= char_mask(_SPACELESS_RE).astype(np.uint8) << 1
        t |= char_mask(_HANGUL_ANY_RE).astype(np.uint8) << 2
        _CLASS_TABLE = t
    return _CLASS_TABLE


def _scan_counts(text: str) -> tuple[int, int, bool]:
    """(n_symbols, n_spaceless, has_hangul): the spec regexes' counts."""
    cls = _class_table()[text_codes(text)]
    return (
        int(np.count_nonzero(cls & _SYMBOL_BIT)),
        int(np.count_nonzero(cls & _SPACELESS_BIT)),
        bool((cls & _HANGUL_BIT).any()),
    )


# ======================================================================
# pure-Python spec (oracle mode)
# ======================================================================

# py_words fast path: extraction collapses all whitespace to single
# spaces, so pipeline text never contains the other four class chars —
# one C-level scan decides, and str.split(" ") + the existing
# empty-filter is exactly _WS_SPLIT_RE.split for such text (runs of
# spaces produce empty strings either way, and both are filtered).
_WS_OTHER_RE = re.compile(r"[\t\n\r\f\x0b]")


def py_words(text: str) -> list[str]:
    if _WS_OTHER_RE.search(text) is None:
        return [w for w in text.split(" ") if w]
    return [w for w in _WS_SPLIT_RE.split(text) if w]


def py_signals(text: str, url: str = "") -> dict[str, float]:
    # r6 noisy-encoding fix: quality signals normalize their input the
    # same way the scorers do (langid.normalize_scoring_text) — ZWSP-
    # littered / NBSP-spaced real prose otherwise fails stopword
    # density and word splitting (measured: 75/102 clean passages in
    # the noisy stratum wrongly dropped). The STORED text stays
    # byte-identical; only the signal computation normalizes.
    text = normalize_scoring_text(text)
    words = py_words(text)
    n_chars = len(text)
    n_words = len(words)
    n_sym, n_spaceless, has_hangul = _scan_counts(text)
    # distinct word-triples == distinct "a b c" strings (words contain
    # no whitespace); tuples avoid n_words string joins
    n_grams = max(0, n_words - 2)
    rep3 = (
        0.0
        if not n_grams
        else 1.0 - len(set(zip(words, words[1:], words[2:]))) / n_grams
    )
    # exact stopword match OR hangul-particle suffix (agglutinative ko).
    # The particle regex can only match words containing Hangul
    # syllables, so gate it on ONE doc-level scan; the common
    # (non-Korean) case is then a pure C-level map/sum pipeline.
    if not has_hangul:
        n_stop = sum(map(ALL_STOPWORDS.__contains__, map(str.lower, words)))
    else:
        lows = list(map(str.lower, words))
        n_stop = sum(map(ALL_STOPWORDS.__contains__, lows))
        search = _HANGUL_PARTICLE_RE.search
        n_stop += sum(
            1
            for w, lw in zip(words, lows)
            if lw not in ALL_STOPWORDS and search(w) is not None
        )
    spaceless_ratio = n_spaceless / max(1, n_chars)
    spaceless = spaceless_ratio > SPACELESS_THRESHOLD
    # char-trigram repetition over the capped text (the spaceless
    # analog of rep3) — computed ONLY for spaceless docs (it is None
    # outside its script class anyway, and the 2000-slice set build is
    # the kind of per-row cost the hot path must not pay for nothing)
    rep_char = None
    if spaceless:
        t = text[:_REP_CHAR_CAP]
        n_ctri = max(0, len(t) - _REP_CHAR_N + 1)
        rep_char = (
            0.0
            if not n_ctri
            else 1.0
            - len({t[i : i + _REP_CHAR_N] for i in range(n_ctri)}) / n_ctri
        )
    return {
        "n_chars": float(n_chars),
        "n_words": float(n_words),
        "symbol_ratio": n_sym / max(1, n_chars),
        "rep3_ratio": rep3,
        "stop_density": n_stop / max(1, n_words),
        "spaceless_ratio": spaceless_ratio,
        "n_chars_gated": None if spaceless else float(n_chars),
        "n_chars_spaceless_gated": float(n_chars) if spaceless else None,
        "rep3_gated": None if spaceless else rep3,
        "rep_char_gated": rep_char,
        "stop_density_gated": None if spaceless else n_stop / max(1, n_words),
        "is_vendor_url": 1.0 if _VENDOR_URL_COMPILED.search(url) else 0.0,
    }


def _cmp(val: float, op: str, thr: float) -> bool:
    if op == "<":
        return val < thr
    if op == ">":
        return val > thr
    if op == ">=":
        return val >= thr
    raise ValueError(op)


def py_keep_drop(
    text: str,
    url: str = "",
    signals: dict[str, float] | None = None,
    rules: tuple[tuple[str, str, str, float], ...] = RULES,
) -> tuple[bool, str | None]:
    """First-match-wins over ``rules``; no match -> keep (default rule).
    Pass precomputed ``signals`` to avoid recomputing them. A signal
    that is absent or None never fires its rule (SQL-null semantics,
    same as the DuckDB ladder's CASE WHEN)."""
    sig = signals if signals is not None else py_signals(text, url)
    for rule_id, signal, op, thr in rules:
        val = sig.get(signal)
        if val is not None and _cmp(val, op, thr):
            return False, rule_id
    return True, None


# ======================================================================
# batch form (the pipeline's label_batch)
# ======================================================================
# py_signals + py_keep_drop over a whole batch: one UTF-32 encode and
# one class-table gather for the char counts, one pyarrow split and
# dictionary encode for the words, str.lower and the stopword test once
# per distinct word, one np.unique for the distinct word triples, and
# the ladder as array comparisons. Counts are exact integers and each
# ratio is one float64 division of them, as in py_signals, so every
# value is bit-identical to the per-row spec.

_LADDER_OPS = {"<": np.less, ">": np.greater, ">=": np.greater_equal}


def _segment_sums(flags, lens):
    """Sum of ``flags`` over each of the consecutive segments of
    lengths ``lens`` (np.add.reduceat over the non-empty ones)."""
    out = np.zeros(len(lens), dtype=np.int64)
    nonempty = lens > 0
    if nonempty.any():
        starts = np.cumsum(lens) - lens
        out[nonempty] = np.add.reduceat(flags, starts[nonempty], dtype=np.int64)
    return out


# a char that sends its row to py_signals: whitespace that py_words
# splits on besides " ", or a lone surrogate, which Arrow's UTF-8
# strings cannot carry
_PY_ROW_RE = re.compile(r"[\t\n\r\f\x0b\ud800-\udfff]")


def _batch_rows(norm: list[str]):
    """(rows, code points): the rows batch_signals computes itself, and
    their texts' concatenated code points."""
    rows = list(range(len(norm)))
    joined = "".join(norm)
    if _PY_ROW_RE.search(joined) is not None:
        rows = [i for i in rows if _PY_ROW_RE.search(norm[i]) is None]
        joined = "".join(norm[i] for i in rows)
    return rows, text_codes(joined)


def _distinct_triples(ids, doc, n_docs: int):
    """Distinct (id, id, id) triples of consecutive words per doc: one
    np.unique over ((id1*V + id2)*V + id3)*n_docs + doc, or a set per
    doc when that key could overflow int64."""
    same = doc[:-2] == doc[2:]
    v = int(ids.max()) + 1 if len(ids) else 1
    if v**3 * n_docs < 2**62:
        a = ids.astype(np.int64)
        key = ((a[:-2] * v + a[1:-1]) * v + a[2:]) * n_docs + doc[:-2]
        return np.bincount(np.unique(key[same]) % n_docs, minlength=n_docs)
    out = np.zeros(n_docs, dtype=np.int64)
    bounds = np.searchsorted(doc, np.arange(n_docs + 1))
    for d in range(n_docs):
        w = ids[bounds[d] : bounds[d + 1]].tolist()
        out[d] = len(set(zip(w, w[1:], w[2:])))
    return out


def _rep_char(codes) -> float:
    """py_signals' char-trigram repetition of a spaceless text's
    codepoints (already capped at _REP_CHAR_CAP)."""
    n = len(codes) - _REP_CHAR_N + 1
    if n <= 0:
        return 0.0
    return 1.0 - len(np.unique(pack_trigrams(codes))) / n


def batch_signals(texts: list[str], urls: list[str]) -> dict[str, np.ndarray]:
    """py_signals of every (text, url) pair, as one float64 array per
    signal, NaN where py_signals gives None. Rows that py_words splits
    on more than spaces, or that Arrow cannot carry (lone surrogates),
    take py_signals itself; extraction output has neither."""
    n = len(texts)
    sig = {k: np.full(n, np.nan) for k in py_signals("")}  # every signal name
    sig["is_vendor_url"] = np.array(
        [_VENDOR_URL_COMPILED.search(u) is not None for u in urls], dtype=np.float64
    )
    norm = texts
    # normalize_scoring_text returns its input when it has nothing to
    # normalize, so one call over the joined batch tells
    joined = "".join(texts)
    if normalize_scoring_text(joined) is not joined:
        norm = [normalize_scoring_text(t) for t in texts]
    fast, codes = _batch_rows(norm)
    for i in sorted(set(range(n)) - set(fast)):
        for k, v in py_signals(texts[i], urls[i]).items():
            sig[k][i] = np.nan if v is None else v
    m = len(fast)
    if not m:
        return sig

    lens = np.fromiter((len(norm[i]) for i in fast), dtype=np.int64, count=m)
    cls = _class_table()[codes]
    n_sym = _segment_sums(cls & _SYMBOL_BIT, lens)
    n_spaceless = _segment_sums((cls & _SPACELESS_BIT) != 0, lens)
    has_hangul = _segment_sums((cls & _HANGUL_BIT) != 0, lens) > 0

    split = pc.split_pattern(pa.array([norm[i] for i in fast], pa.large_string()), " ")
    tokens = pc.list_flatten(split)
    nonempty = np.asarray(pc.binary_length(tokens)) > 0
    tokens = tokens.filter(pa.array(nonempty))
    doc = np.asarray(pc.list_parent_indices(split))[nonempty]
    enc = pc.dictionary_encode(tokens)
    ids = np.asarray(enc.indices)
    words = enc.dictionary.to_numpy(zero_copy_only=False)
    n_words = np.bincount(doc, minlength=m)

    is_stop = np.fromiter(
        (w.lower() in ALL_STOPWORDS for w in words), dtype=bool, count=len(words)
    )
    stop = is_stop[ids]
    # the particle suffix counts for non-stopwords of docs with Hangul
    # syllables; the regex runs once per such distinct word
    cand = ~stop & has_hangul[doc]
    if cand.any():
        particle = np.zeros(len(words), dtype=bool)
        for j in np.unique(ids[cand]).tolist():
            particle[j] = _HANGUL_PARTICLE_RE.search(words[j]) is not None
        stop = stop | (cand & particle[ids])
    n_stop = np.bincount(doc[stop], minlength=m)

    n_grams = np.maximum(0, n_words - 2)
    rep3 = np.where(
        n_grams > 0,
        1.0 - _distinct_triples(ids, doc, m) / np.maximum(1, n_grams),
        0.0,
    )
    n_chars = lens.astype(np.float64)
    spaceless_ratio = n_spaceless / np.maximum(1, lens)
    spaceless = spaceless_ratio > SPACELESS_THRESHOLD
    stop_density = n_stop / np.maximum(1, n_words)
    rep_char = np.full(m, np.nan)
    starts = np.cumsum(lens) - lens
    for j in np.flatnonzero(spaceless).tolist():
        rep_char[j] = _rep_char(codes[starts[j] : starts[j] + min(lens[j], _REP_CHAR_CAP)])

    rows = np.array(fast)
    for k, v in (
        ("n_chars", n_chars),
        ("n_words", n_words),
        ("symbol_ratio", n_sym / np.maximum(1, lens)),
        ("rep3_ratio", rep3),
        ("stop_density", stop_density),
        ("spaceless_ratio", spaceless_ratio),
        ("n_chars_gated", np.where(spaceless, np.nan, n_chars)),
        ("n_chars_spaceless_gated", np.where(spaceless, n_chars, np.nan)),
        ("rep3_gated", np.where(spaceless, np.nan, rep3)),
        ("rep_char_gated", rep_char),
        ("stop_density_gated", np.where(spaceless, np.nan, stop_density)),
    ):
        sig[k][rows] = v
    return sig


def batch_keep_drop(
    sig: dict[str, np.ndarray],
    rules: tuple[tuple[str, str, str, float], ...] = RULES,
) -> tuple[np.ndarray, np.ndarray]:
    """py_keep_drop over batch_signals' arrays: (keep, drop_rule), the
    first matching rule per row; NaN never fires a rule, as None never
    does in py_keep_drop."""
    n = len(sig["n_chars"])
    keep = np.ones(n, dtype=bool)
    drop_rule = np.full(n, None, dtype=object)
    for rule_id, signal, op, thr in rules:
        hit = keep & _LADDER_OPS[op](sig[signal], thr)
        drop_rule[hit] = rule_id
        keep &= ~hit
    return keep, drop_rule
