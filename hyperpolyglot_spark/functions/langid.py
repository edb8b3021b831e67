"""Char-n-gram naive-Bayes language identifier (fastText-style).

Mirrors the reference token-NB classifier semantics exactly
(src/detectors/classifier.rs:18-49), generalized from code tokens to
character 3-grams for web text:

  - score(candidate) = sum over doc grams of log P(gram | lang),
    missing gram -> DEFAULT_LOG_PROB = -19 (classifier.rs:10),
    language absent from model -> -inf (classifier.rs:36).
  - empty candidate list -> score ALL languages (classifier.rs:19-22).
  - argmax with STABLE tie-break: earlier candidate in candidate-list
    order wins (classifier.rs:42-48 stable sort) — reproduced by
    Python's stable sort, never by Spark max_by (SURVEY.md §2.5 O3).
  - per-row compute is bounded: first MAX_SCORE_CHARS chars only
    (the 51200-byte cap analog, X6).

Features are hashed: each gram lands in one of HASH_BUCKETS md5
buckets, so the model is a fixed-width (languages x buckets) matrix.

Training = the codegen analog (src/bin/codegen.rs:357-428): count grams
per (lang, bucket), total per lang, emit ln(count/total). One trainer,
train_hashed_py, runs on the driver over the deterministic corpus.

Scoring on Spark: the fused label UDF broadcasts that model once per
application (a few MB — classic broadcast-model scoring).
"""

from __future__ import annotations

import random
import re

import numpy as np

from .langdata import LANG_INFO, LANGUAGES, SCRIPT_LETTER_CLASSES, STOPWORDS, WORDS

DEFAULT_LOG_PROB = -19.0  # classifier.rs:10
MAX_SCORE_CHARS = 2000
NGRAM = 3


def text_grams(text: str) -> list[str]:
    t = text[:MAX_SCORE_CHARS].lower()
    return [t[i : i + NGRAM] for i in range(max(0, len(t) - NGRAM + 1))]


# ----------------------------------------------------------------------
# scoring-time normalization (round 6, noisy-encoding robustness)
# ----------------------------------------------------------------------
# Real web text is littered with INVISIBLE formatting characters —
# zero-width spaces from CMS editors, BOMs, soft hyphens, direction
# marks, NBSP-class spaces. They carry no language signal but land in
# every trigram window: measured on the realtext noisy stratum, a
# ZWSP-every-7-chars variant collapsed hashed-NB accuracy 0.96 -> 0.09
# (90% gated as noise). Scoring therefore normalizes its INPUT — strip
# the purely-visual chars, map NBSP-class to a plain space — before
# capping. ZWNJ (U+200C) and ZWJ (U+200D) are deliberately KEPT: they
# are linguistically meaningful (Persian/Hindi orthography, emoji
# sequences) and appear in real prose the models should learn as-is.
# Training corpora are clean by construction, so this applies at
# SCORING time (classify/perplexity) only.
# ZWSP, BOM/ZWNBSP, word joiner, soft hyphen, LRM, RLM
_STRIP_CHARS = "\u200b\ufeff\u2060\u00ad\u200e\u200f"
# NBSP, narrow NBSP, figure space
_SPACE_CHARS = "\u00a0\u202f\u2007"
_NORM_TABLE = {ord(c): None for c in _STRIP_CHARS}
_NORM_TABLE.update({ord(c): " " for c in _SPACE_CHARS})
# fast-path guard: str.translate with a dict table walks the whole
# string through dict lookups (~15% of py_label_page in the r07
# profile), but clean text — the overwhelmingly common case — contains
# none of the 9 normalization chars. One C-level regex scan decides;
# translate runs only when a char is actually present (identical
# output either way: the class below is exactly the table's key set).
_NORM_ANY_RE = re.compile("[" + _STRIP_CHARS + _SPACE_CHARS + "]")


def normalize_scoring_text(text: str) -> str:
    """Strip invisible formatting chars / unify NBSP-class spaces —
    the pre-gram cleanup every scorer applies (spec above)."""
    if _NORM_ANY_RE.search(text) is None:
        return text
    return text.translate(_NORM_TABLE)


# translate()-form of the same table for the DuckDB oracle SQL
# (spec_sql.py): chars in NORM_FROM beyond len(NORM_TO) are DELETED
# (the SQL-standard deletion rule), so the oracle shares the spec's
# normalization.
NORM_FROM = _SPACE_CHARS + _STRIP_CHARS
NORM_TO = " " * len(_SPACE_CHARS)


# ----------------------------------------------------------------------
# code points: the one form every character scan of the label stages
# reads (the script evidence here, quality's class counts and trigram
# repetition, scrub's guards, the NB and LM trigram keys)
# ----------------------------------------------------------------------
# One UTF-32 encode per text plus boolean-mask gathers replace the
# re-engine scans of single-char classes. The encode passes lone
# surrogates through, so it is total: every str has its code points.
# Masks are built lazily, once per process, by running the spec regex
# over the full code-point alphabet, surrogates included, so a mask
# equals its regex at every code point by construction (pinned by
# tests). ~1 MB per mask; only classes actually scanned get one.

_ALPHABET: str | None = None
_MASK_CACHE: dict[tuple[str, int], np.ndarray] = {}
_ALPHA_MASK: np.ndarray | None = None


def text_codes(text: str) -> np.ndarray:
    """Code points of ``text`` as uint32, lone surrogates included."""
    return np.frombuffer(text.encode("utf-32-le", "surrogatepass"), dtype="<u4")


def _alphabet() -> str:
    global _ALPHABET
    if _ALPHABET is None:
        _ALPHABET = "".join(map(chr, range(0x110000)))
    return _ALPHABET


def _mask_of(chars: str) -> np.ndarray:
    m = np.zeros(0x110000, dtype=bool)
    m[text_codes(chars)] = True
    return m


def char_mask(rx: "re.Pattern[str]") -> np.ndarray:
    """Boolean code-point lookup for a compiled single-char-class regex,
    derived from the regex itself (findall over the alphabet)."""
    key = (rx.pattern, rx.flags)
    got = _MASK_CACHE.get(key)
    if got is None:
        _MASK_CACHE[key] = got = _mask_of("".join(rx.findall(_alphabet())))
    return got


def alpha_mask() -> np.ndarray:
    """Code-point lookup for str.isalpha (the script evidence's letters)."""
    global _ALPHA_MASK
    if _ALPHA_MASK is None:
        _ALPHA_MASK = _mask_of("".join(filter(str.isalpha, _alphabet())))
    return _ALPHA_MASK


def pack_trigrams(codes: np.ndarray) -> np.ndarray:
    """int64 key of each 3-code-point window: c0 << 42 | c1 << 21 | c2
    (code points are below 2^21)."""
    a = codes.astype(np.int64)
    return (a[:-2] << 42) | (a[1:-1] << 21) | a[2:]


# ----------------------------------------------------------------------
# deterministic training corpus (the samples/ analog)
# ----------------------------------------------------------------------

# scripts written WITHOUT spaces between words: training docs for these
# join words directly, like real prose — otherwise every real zh/ja/th
# trigram crosses a space the model never saw and the scorer
# degenerates to the all-DEFAULT_LOG_PROB tie (measured on the
# real-text fixture: zh/ja dict-NB accuracy 0 -> 1 with this fix)
_NO_SPACE_SCRIPTS = frozenset(
    ("han", "kanji_kana", "thai", "khmer", "lao", "myanmar", "tibetan")
)


def _lang_sep(lang: str) -> str:
    info = LANG_INFO.get(lang)
    return "" if info and info["script"] in _NO_SPACE_SCRIPTS else " "


def training_corpus(
    docs_per_lang: int = 50, words_per_doc: int = 80, seed: int = 1337
) -> list[tuple[str, str]]:
    """(lang, text) rows drawn from the per-language word pools with a
    seeded RNG — fully deterministic, mirrors reference samples/.
    Space-less scripts (zh/ja/th) join without separators, like the
    text they will be scored on."""
    rows = []
    for lang in LANGUAGES:
        rng = random.Random(f"{seed}:{lang}")
        pool = WORDS[lang]
        stop = STOPWORDS[lang]
        sep = _lang_sep(lang)
        for _ in range(docs_per_lang):
            words = []
            for _ in range(words_per_doc):
                # ~45% stopwords, like real prose
                src = stop if rng.random() < 0.45 else pool
                words.append(src[rng.randrange(len(src))])
            rows.append((lang, sep.join(words)))
    return rows


# ----------------------------------------------------------------------
# script-based candidate narrowing (round 5, short-text robustness)
# ----------------------------------------------------------------------
# The open-world terminal used to score ALL 102 languages when the
# cheap stages produced no candidates; on title-length text the NB has
# so few grams that a hangul query could lose to 'en' (every gram OOV
# everywhere, tie-break order wins). The writing system is evidence
# the cascade already trusts elsewhere (J4 candidate-intersect), so an
# EMPTY candidate list now narrows to the languages whose script
# covers >= 50% of the doc's letters before scoring — hangul -> ko,
# greek -> el, han -> {zh, ja, ...}. Explicit candidates always win
# (narrowing applies only where there was no evidence at all), and
# the unresolved gate still keys off the ORIGINAL candidate list.
# Measured on the realtext short stratum: hashed 0.869 -> 0.889, dict
# 0.892 -> 0.899; full passages unchanged.
#
# Scale shape: one uint8 code point -> script-component lookup (built
# lazily once per worker), one np.bincount and one isalpha gather per
# doc (script_letters) — no regex in the hot path. The same counts feed
# the unresolved gate's two script checks below.

SCRIPT_NARROW_MIN_LETTERS = 5
SCRIPT_NARROW_MIN_RATIO = 0.5

# SCRIPT_LETTER_CLASSES entries are pairwise disjoint EXCEPT
# kanji_kana ⊃ han, so the table stores disjoint components (every
# other script, plus kana) and a script's letters are the sum of its
# components' (kanji_kana = kana + han).
_COMPONENT_CLASSES = {s: c for s, c in SCRIPT_LETTER_CLASSES.items() if s != "kanji_kana"}
_COMPONENT_CLASSES["kana"] = "぀-ヿ"
_COMPONENTS = sorted(_COMPONENT_CLASSES)
_SCRIPT_COMPONENTS: dict[str, tuple[int, ...]] = {
    s: tuple(
        _COMPONENTS.index(c) for c in (("kana", "han") if s == "kanji_kana" else (s,))
    )
    for s in SCRIPT_LETTER_CLASSES
}
_SCRIPT_TABLE: np.ndarray | None = None

# a document's script evidence: (its letters, its letters per component)
ScriptLetters = tuple[int, list[int]]


def _script_table() -> np.ndarray:
    """uint8 code point -> index into _COMPONENTS of the component whose
    class holds it, for letters (isalpha); len(_COMPONENTS) for every
    other code point."""
    global _SCRIPT_TABLE
    if _SCRIPT_TABLE is None:
        table = np.full(0x110000, len(_COMPONENTS), dtype=np.uint8)
        alpha = alpha_mask()
        for i, name in enumerate(_COMPONENTS):
            table[char_mask(re.compile("[" + _COMPONENT_CLASSES[name] + "]")) & alpha] = i
        _SCRIPT_TABLE = table
    return _SCRIPT_TABLE


def script_letters(text: str) -> ScriptLetters:
    """(n_alpha, letters of each script component) of ``text``: one
    code-point array, one isalpha gather and one bincount. Letters
    only on both sides: the script classes hold non-alphabetic code
    points (×/÷ in Latin-1, Hebrew niqqud, Greek punctuation) that
    would let a raw class count exceed n_alpha."""
    codes = text_codes(text)
    hist = np.bincount(_script_table()[codes], minlength=len(_COMPONENTS) + 1)
    return int(alpha_mask()[codes].sum()), hist[:-1].tolist()


def _script_hits(letters: ScriptLetters, script: str) -> int:
    counts = letters[1]
    return sum(counts[i] for i in _SCRIPT_COMPONENTS[script])


def script_candidates(letters: ScriptLetters) -> list[str]:
    """Languages whose script covers >= SCRIPT_NARROW_MIN_RATIO of the
    doc's letters, in LANGUAGES order (tie-break stability). Empty when
    the doc has < SCRIPT_NARROW_MIN_LETTERS letters or no script
    qualifies — callers fall back to the full universe."""
    n_alpha = letters[0]
    if n_alpha < SCRIPT_NARROW_MIN_LETTERS:
        return []
    qualified = {
        s
        for s in _SCRIPT_COMPONENTS
        if _script_hits(letters, s) / n_alpha >= SCRIPT_NARROW_MIN_RATIO
    }
    return [l for l in LANGUAGES if LANG_INFO[l]["script"] in qualified]


def _narrowed_cands(
    candidates: list[str] | None, letters: ScriptLetters | None
) -> list[str]:
    """Shared candidate-defaulting for the char-gram scorers: explicit
    candidates verbatim; empty -> script narrowing (by the doc's
    ``letters``) -> full universe."""
    if candidates:
        return list(candidates)
    return script_candidates(letters) or list(LANGUAGES)


# ----------------------------------------------------------------------
# scoring
# ----------------------------------------------------------------------


# ----------------------------------------------------------------------
# unknown-language outcome: the reference's
# `detect` can return None (src/lib.rs:187-189) but the cascade used to
# force-argmax over all 102 languages, assigning a language-103 doc its
# nearest confusable. CCNet-style pipelines threshold the classifier;
# we gate on TWO per-gram-normalized signals so a doc is unresolved
# only when its decision is indistinguishable from noise on BOTH axes:
#   margin = (top1 - top2) / n_grams   (how decisive the argmax is)
#   top1   =  top1 / n_grams           (how plausible the winner is)
# Calibration (measured once, deterministic constants like
# HASH_BUCKETS): synthetic training docs score margin >= 1.49 and
# top1/gram >= -8.1; natural-prose transfer passages (realtext) have
# margin p5 = 0.32 and top1 p5 = -15.7; character-salad / alien-trigram
# text has margin median ~0.14-0.22 and top1 median ~ -16.6. The AND of
# (margin < 0.15, top1 < -15.0) keeps 176/180 realtext passages
# resolved (two of the four gated ones were already misclassified
# zh/ja / uk->ru confusions) while flagging ~half of near-Latin
# pronounceable gibberish and virtually all alien-script salad — the
# same recall/precision trade a fastText confidence cutoff makes.
UNRESOLVED_MARGIN = 0.15
UNRESOLVED_ABS = -15.0


def classify_margin_py(text: str, candidates: list[str] | None, model=None):
    """(best_lang, margin_per_gram, top1_per_gram, gate_lang).

    best_lang is the spec winner (classify_hashed_py): the first max
    over the candidates, with script narrowing for empty candidate
    lists; languages absent from the model score -inf. The GATE
    statistics (margin, top1, gate winner) are always computed over
    the ORIGINAL candidate set (the full universe when empty): the
    noise-gate constants below were calibrated on full-universe
    margins, and a narrowed set mechanically inflates margins
    (dropping 40 languages from scoring widens top1-top2 even on pure
    noise — the alien-Latin fixture caught exactly this). The gate
    WINNER matters too: on OOV noise the full-universe argmax is the
    widest-bucket-coverage attractor (zh/ja), whose script
    incoherence with the document is itself a noise signal the
    unresolved gate checks — the narrowed winner is coherent by
    construction and carries no such signal. One score vector either
    way: winner and gate read different rows of it.

    A singleton EXPLICIT candidate list is 'resolved elsewhere' and
    reports +inf margin (never gated); an empty feature set returns
    margin 0.0 / top1 -inf only when there is genuinely no evidence.

    The score vector is summed in an order numpy fixes (elementwise
    products, then a sum over the grams), never one a BLAS kernel
    picks, so margins have the same bits on every host (the
    perplexity module's docstring has the reason)."""
    if candidates and len(candidates) == 1:
        return candidates[0], float("inf"), 0.0, candidates[0]
    return _margin(text, candidates, None if candidates else script_letters(text), model)


def _margin(
    text: str,
    candidates: list[str] | None,
    letters: ScriptLetters | None,
    model: HashedModel | None,
):
    """classify_margin_py for none or several candidates; ``letters``
    (script_letters of ``text``) narrows an empty list."""
    cands = _narrowed_cands(candidates, letters)  # winner set
    gate_cands = list(candidates) if candidates else list(LANGUAGES)
    if model is None:
        model = default_hashed_model()
    if not model:
        return cands[0], 0.0, float("-inf"), gate_cands[0]
    packed = _packed_grams(text)
    if packed is None:
        lang = next((l for l in cands if l in model), cands[0])
        glang = next((l for l in gate_cands if l in model), gate_cands[0])
        return lang, 0.0, float("-inf"), glang
    # winner from the narrowed rows, top-2 and gate winner from the
    # gate rows, one score vector
    uk, cnts = packed
    idx = _keys_to_buckets(uk)
    mt, lidx = _hashed_matrix(model)
    all_scores = (cnts[:, None] * mt[idx]).sum(axis=0)
    rows = np.array([lidx.get(l, -1) for l in cands], dtype=np.int64)
    scores = np.where(rows >= 0, all_scores[np.maximum(rows, 0)], -np.inf)
    bi = int(np.argmax(scores))
    grows = np.array([lidx.get(l, -1) for l in gate_cands], dtype=np.int64)
    gscores = np.where(grows >= 0, all_scores[np.maximum(grows, 0)], -np.inf)
    gate_lang = gate_cands[int(np.argmax(gscores))]
    n = float(cnts.sum())
    finite = gscores[np.isfinite(gscores)]
    if finite.size == 0 or not n:
        return cands[bi], 0.0, float("-inf"), gate_lang
    if finite.size == 1:
        return cands[bi], float("inf"), float(np.max(gscores)) / n, gate_lang
    top2 = np.partition(finite, -2)[-2:]
    return cands[bi], float(top2[1] - top2[0]) / n, float(top2[1]) / n, gate_lang


# Unknown-script gate, checked BEFORE the margin gate: a doc whose
# letters mostly fall outside every known script's ranges (Cherokee,
# Yi, Tifinagh, Runic, ... — scripts with no language in the universe)
# has ZERO candidate languages, which is exactly the case where the
# reference's `detect` returns None (src/lib.rs:187-189). This catches
# what the margin gate can't: the hashed model's OOV grams land in
# arbitrary buckets, and the language with the widest bucket coverage
# (zh) can win with a confident-looking margin on pure alien script.
MIN_SCRIPT_LETTERS = 10
KNOWN_SCRIPT_MIN_RATIO = 0.5
# a classifier prediction must be script-coherent: at least this
# fraction of the doc's letters must belong to the predicted
# language's script (a Latin-only doc predicted 'zh' is the OOV
# bucket attractor, not a detection)
PRED_SCRIPT_MIN_RATIO = 0.3


def known_script_ratio(letters: ScriptLetters) -> tuple[int, float]:
    """(n_letters, fraction of them in some known script's class), from
    a doc's script_letters; (0, 1.0) for a doc without letters."""
    n_alpha, counts = letters
    if not n_alpha:
        return 0, 1.0
    return n_alpha, sum(counts) / n_alpha


def classify_or_none_py(
    text: str,
    candidates: list[str] | None,
    model=None,
    margin_thr: float = UNRESOLVED_MARGIN,
    abs_thr: float = UNRESOLVED_ABS,
) -> str | None:
    """classify_hashed_py with the unresolved gate: None when the script is
    unknown, when the NB decision is noise-like on both axes (see the
    calibration note above), or when the FULL-UNIVERSE argmax is
    script-incoherent with the document. One script_letters of the
    text serves the unknown-script gate, the narrowing of an empty
    candidate list and the coherence check.

    The coherence check deliberately targets the gate-set winner, not
    the (script-narrowed) returned label: on OOV noise the full
    argmax is the widest-bucket-coverage attractor (zh/ja) and its
    script mismatch with the document is the noise signal — the
    narrowed winner is coherent by construction, so checking it would
    silence the gate (the alien-Latin fixture pins this)."""
    if candidates and len(candidates) == 1:
        return candidates[0]  # resolved elsewhere: never gated
    letters = script_letters(text)
    n_alpha, ratio = known_script_ratio(letters)
    if n_alpha >= MIN_SCRIPT_LETTERS and ratio < KNOWN_SCRIPT_MIN_RATIO:
        return None
    lang, margin, top1, gate_lang = _margin(text, candidates, letters, model)
    if margin < margin_thr and top1 < abs_thr:
        return None
    info = LANG_INFO.get(gate_lang)
    if (
        n_alpha >= MIN_SCRIPT_LETTERS
        and info is not None
        and _script_hits(letters, info["script"]) / n_alpha < PRED_SCRIPT_MIN_RATIO
    ):
        return None
    return lang


# ----------------------------------------------------------------------
# hashed n-gram features (the north-star's "hashed character-n-gram
# features"): the fastText hashing trick. The model is a FIXED-WIDTH
# (n_langs x HASH_BUCKETS) log-prob matrix — broadcast size is bounded
# by bucket count, not vocabulary, so it stays O(MB) at 100+ languages.
# ----------------------------------------------------------------------

# 16384 buckets: at 60 languages with space-less CJK training the
# no-space scripts occupy thousands of distinct grams, and at 4096
# buckets zh covered ~60% of the hash space — every out-of-vocabulary
# gram of ANY language collided into a zh bucket at logp ~ -8 vs the
# -19 miss penalty, so broad-coverage languages became attractors
# (real-text fixture accuracy 0.47). 16384 cuts coverage 4x
# (accuracy 0.95, tests/test_realtext.py); broadcast stays bounded:
# 60 langs x 16384 x 8B = 7.9 MB.
HASH_BUCKETS = 16384

# lang -> float64[HASH_BUCKETS] of logp (DEFAULT_LOG_PROB where empty)
HashedModel = dict[str, np.ndarray]


_BUCKET_CACHE: dict[str, int] = {}


def gram_bucket(gram: str) -> int:
    """Deterministic gram -> bucket: first 15 hex digits of md5 (they
    fit a signed 64-bit integer), mod HASH_BUCKETS — the same bucket in
    every process, unlike the salted builtin hash().

    A lone surrogate hashes as its surrogatepass UTF-8 bytes.

    Grams repeat massively across documents, so lookups are memoized
    (bounded at 200k entries ~ 20MB per python worker; md5 runs only
    on first sight of a gram)."""
    b = _BUCKET_CACHE.get(gram)
    if b is None:
        import hashlib

        if len(_BUCKET_CACHE) > 200_000:
            _BUCKET_CACHE.clear()
        b = (
            int(hashlib.md5(gram.encode("utf-8", "surrogatepass")).hexdigest()[:15], 16)
            % HASH_BUCKETS
        )
        _BUCKET_CACHE[gram] = b
    return b


def train_hashed_py(corpus: list[tuple[str, str]]) -> HashedModel:
    """lang -> logp vector over hashed buckets. Collisions merge counts
    (the standard hashing-trick tradeoff); empty buckets score
    DEFAULT_LOG_PROB, exactly like a gram missing from the reference's
    vocabulary (classifier.rs:10)."""
    model: HashedModel = {}
    for lang in sorted({l for l, _ in corpus}):
        counts = np.zeros(HASH_BUCKETS, dtype=np.float64)
        total = 0
        for l, text in corpus:
            if l == lang:
                for g in text_grams(text):
                    counts[gram_bucket(g)] += 1
                    total += 1
        vec = np.full(HASH_BUCKETS, DEFAULT_LOG_PROB, dtype=np.float64)
        if total:
            nz = counts > 0
            vec[nz] = np.log(counts[nz] / total)
        model[lang] = vec
    return model


_DEFAULT_HASHED_MODEL: HashedModel | None = None


def default_hashed_model() -> HashedModel:
    global _DEFAULT_HASHED_MODEL
    if _DEFAULT_HASHED_MODEL is None:
        _DEFAULT_HASHED_MODEL = train_hashed_py(training_corpus())
    return _DEFAULT_HASHED_MODEL


_KEY_MASK = (1 << 21) - 1

# gram-key -> bucket memo, two tiers: a SORTED numpy snapshot (warm
# lookups are one vectorized searchsorted, no Python loop) plus a dict
# overlay for keys seen since the last merge. Bounded at ~200k entries
# (~20 MB/worker) like the round-2 dict cache it replaces.
_KB_SORTED_KEYS: np.ndarray = np.empty(0, dtype=np.int64)
_KB_SORTED_VALS: np.ndarray = np.empty(0, dtype=np.int64)
_KB_OVERLAY: dict[int, int] = {}
_KB_MERGE_AT = 4096
_KB_MAX = 200_000


def _packed_grams(text: str) -> tuple[np.ndarray, np.ndarray] | None:
    """Distinct trigrams of the normalized, capped, lowercased text as
    pack_trigrams keys + counts, None under NGRAM chars — the all-numpy
    Counter(text_grams(normalize_scoring_text(text))), shared by the NB
    scorer and the LM (perplexity.logprob10_py)."""
    t = normalize_scoring_text(text)[:MAX_SCORE_CHARS].lower()
    if len(t) < NGRAM:
        return None
    uk, cnt = np.unique(pack_trigrams(text_codes(t)), return_counts=True)
    return uk, cnt.astype(np.float64)


def _keys_to_buckets(uk: np.ndarray) -> np.ndarray:
    """Packed gram keys -> hashed buckets, memoized on the int key (the
    md5 runs only on first sight of a gram). Warm keys resolve with one
    searchsorted against the sorted snapshot; only misses fall to the
    Python loop, and the overlay merges into the snapshot in bulk."""
    global _KB_SORTED_KEYS, _KB_SORTED_VALS
    out = np.empty(len(uk), dtype=np.int64)
    n = len(_KB_SORTED_KEYS)
    if n:
        pos = np.minimum(np.searchsorted(_KB_SORTED_KEYS, uk), n - 1)
        hit = _KB_SORTED_KEYS[pos] == uk
        out[hit] = _KB_SORTED_VALS[pos[hit]]
        miss = np.nonzero(~hit)[0]
    else:
        miss = np.arange(len(uk))
    if len(miss):
        ov = _KB_OVERLAY
        for i in miss:
            k = int(uk[i])
            b = ov.get(k)
            if b is None:
                g = chr(k >> 42) + chr((k >> 21) & _KEY_MASK) + chr(k & _KEY_MASK)
                b = gram_bucket(g)
                ov[k] = b
            out[i] = b
        if len(ov) > _KB_MERGE_AT:
            if n + len(ov) > _KB_MAX:
                n = 0  # drop the old snapshot; keep the recent overlay
                _KB_SORTED_KEYS = _KB_SORTED_KEYS[:0]
                _KB_SORTED_VALS = _KB_SORTED_VALS[:0]
            ks = np.fromiter(ov.keys(), np.int64, len(ov))
            vs = np.fromiter(ov.values(), np.int64, len(ov))
            allk = np.concatenate([_KB_SORTED_KEYS, ks])
            allv = np.concatenate([_KB_SORTED_VALS, vs])
            order = np.argsort(allk, kind="stable")
            _KB_SORTED_KEYS = allk[order]
            _KB_SORTED_VALS = allv[order]
            ov.clear()
    return out


_HM_MATRIX: tuple[HashedModel, np.ndarray, dict[str, int]] | None = None


def _hashed_matrix(model: HashedModel) -> tuple[np.ndarray, dict[str, int]]:
    """Stack the model's per-lang vectors ONCE into a (buckets x
    n_langs) transposed matrix, cached on model IDENTITY (the cache
    holds the model reference, so an `is` hit can never be a recycled
    address — the perplexity scorer-cache pattern): per-doc scoring is
    then one contiguous row-gather + one weighted row sum for ALL languages
    instead of a Python loop of per-lang gathers."""
    global _HM_MATRIX
    c = _HM_MATRIX
    if c is not None and c[0] is model:
        return c[1], c[2]
    langs = sorted(model)
    mt = np.ascontiguousarray(np.stack([model[l] for l in langs], axis=1))
    lidx = {l: i for i, l in enumerate(langs)}
    _HM_MATRIX = (model, mt, lidx)
    return mt, lidx


def classify_hashed_py(
    text: str, candidates: list[str] | None, model: HashedModel | None = None
) -> str:
    """The spec scorer, exact classifier.rs:18-49 semantics over hashed
    features (plus the documented script narrowing for empty
    candidates): stable earlier-candidate tie-break. The winner of
    classify_margin_py, which computes it once for both."""
    return classify_margin_py(text, candidates, model)[0]
