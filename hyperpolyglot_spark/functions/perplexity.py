"""KenLM-style per-document perplexity under per-language char-n-gram
LMs (the north-star's "KenLM-style perplexity scores" stage).

Model: per language, an order-3 character LM with add-alpha smoothing —
the same broadcast-model scoring machinery as the reference's trained
TOKEN_LOG_PROBABILITIES path (src/detectors/classifier.rs:28-48),
pointed at a quality signal instead of a label:

    P(c | ctx)   = (cnt3(ctx+c) + ALPHA) / (cnt2(ctx) + ALPHA * V)
    cnt2(ctx)    = sum_c cnt3(ctx+c)      (derived from the trigram table)
    V            = |distinct event chars|  (distinct 3rd chars of the
                                            language's trigram events)
    logprob10    = sum over trigram events of log10 P
    perplexity   = 10 ** (-logprob10 / n_events)

Text prep is frozen: lowercase, first PPL_MAX_CHARS chars, events are
all contiguous 3-char windows (no BOS/EOS padding). A doc with fewer
than 3 chars has no events -> perplexity None (no rule fires).

train_ppl_py / perplexity_py are the pure-Python spec, plain Python
and numpy. The model is trained once on the driver and broadcast; the
pipeline's fused label UDF (plans/pipeline.py) is the only Spark runner
and scores each kept row with perplexity_py.

The logprob10 sum runs in an order numpy fixes (elementwise products,
then numpy's pairwise sum), never one a BLAS kernel picks: OpenBLAS
chooses its dot kernel from the CPU at load time, and each kernel adds
the terms in another order, so a BLAS dot would move perplexities in
their last bits from host to host and the frozen label digest, which
hashes them at their exact bits, would hold on one host only.
"""

from __future__ import annotations

import math
from collections import Counter

import numpy as np

PPL_NGRAM = 3
PPL_ALPHA = 0.1
PPL_MAX_CHARS = 2000

# lang -> (tri_counts, ctx_counts, vocab_size)
PplModel = dict[str, tuple[dict[str, int], dict[str, int], int]]


def ppl_events(text: str) -> list[str]:
    """All 3-char windows of the lowercased, capped text."""
    t = text[:PPL_MAX_CHARS].lower()
    return [t[i : i + PPL_NGRAM] for i in range(max(0, len(t) - PPL_NGRAM + 1))]


def train_ppl_py(corpus: list[tuple[str, str]]) -> PplModel:
    """(lang, text) rows -> per-language smoothed trigram LM."""
    model: PplModel = {}
    for lang in sorted({l for l, _ in corpus}):
        tri: Counter[str] = Counter()
        for l, text in corpus:
            if l == lang:
                tri.update(ppl_events(text))
        if not tri:
            continue  # a lang with zero events has no LM (spec: absent)
        ctx: Counter[str] = Counter()
        vocab: set[str] = set()
        for g, c in tri.items():
            ctx[g[: PPL_NGRAM - 1]] += c
            vocab.add(g[PPL_NGRAM - 1])
        model[lang] = (dict(tri), dict(ctx), len(vocab))
    return model


# Vectorized scoring form, cached per model: trigrams are packed into
# int64 keys (c0<<42 | c1<<21 | c2 — codepoints < 2^21), the per-lang
# log10 tables become SORTED key/value arrays, and a document scores
# with numpy (unique + searchsorted + sum) instead of 2000 string
# slices + dict probes. log10 is evaluated once per MODEL entry, not
# once per document event. Same probabilities, ~10x less python time.
# id(model) -> (model, scorer). The model reference is held STRONGLY so
# the id can never be recycled by a different dict (id-reuse after GC
# would silently serve the wrong scorer); identity is re-checked on hit.
_SCORER_CACHE: dict[int, tuple[PplModel, dict]] = {}


def _pack3(g: str) -> int:
    return (ord(g[0]) << 42) | (ord(g[1]) << 21) | ord(g[2])


def _pack2(cx: str) -> int:
    return (ord(cx[0]) << 21) | ord(cx[1])


def _scorer(model: PplModel) -> dict:
    key = id(model)
    hit = _SCORER_CACHE.get(key)
    if hit is not None and hit[0] is model:
        return hit[1]
    if len(_SCORER_CACHE) > 8:
        _SCORER_CACHE.clear()
    sc = {}
    for lang, (tri, ctx, v) in model.items():
        denom = {cx: c2 + PPL_ALPHA * v for cx, c2 in ctx.items()}
        tri_items = sorted(
            (_pack3(g), math.log10((c3 + PPL_ALPHA) / denom[g[:2]]))
            for g, c3 in tri.items()
        )
        ctx_items = sorted(
            (_pack2(cx), math.log10(PPL_ALPHA / d))
            for cx, d in denom.items()
        )
        sc[lang] = (
            np.array([k for k, _ in tri_items], dtype=np.int64),
            np.array([p for _, p in tri_items], dtype=np.float64),
            np.array([k for k, _ in ctx_items], dtype=np.int64),
            np.array([p for _, p in ctx_items], dtype=np.float64),
            math.log10(PPL_ALPHA / (PPL_ALPHA * v)),
        )
    _SCORER_CACHE[key] = (model, sc)
    return sc


def logprob10_py(
    text: str, lang: str, model: PplModel
) -> tuple[float, int]:
    """(sum of log10 P over events, n_events); lang absent -> (0, 0).
    Events are grouped (np.unique) and scored count * logp against the
    precomputed sorted tables — all-C numpy path. The terms are summed
    by numpy's pairwise sum, in an order numpy fixes and no BLAS kernel
    chooses, so the bits do not depend on the host's BLAS kernel."""
    sc = _scorer(model).get(lang)
    if sc is None:
        return 0.0, 0
    # r6: same invisible-char cleanup as the NB scorer (langid spec) —
    # applied at SCORING time; training corpora are clean by
    # construction
    from .langid import normalize_scoring_text

    t = normalize_scoring_text(text)[:PPL_MAX_CHARS].lower()
    n = len(t) - PPL_NGRAM + 1
    if n <= 0:
        return 0.0, 0
    a = np.frombuffer(t.encode("utf-32-le"), dtype=np.uint32).astype(np.int64)
    keys = (a[:-2] << 42) | (a[1:-1] << 21) | a[2:]
    uk, cnt = np.unique(keys, return_counts=True)
    tk, tl, ck, cl, dflt = sc
    pos = np.minimum(np.searchsorted(tk, uk), len(tk) - 1)
    hit = tk[pos] == uk
    lps = np.where(hit, tl[pos], 0.0)
    miss = ~hit
    if miss.any():
        cxk = uk[miss] >> 21
        posc = np.minimum(np.searchsorted(ck, cxk), len(ck) - 1)
        lps[miss] = np.where(ck[posc] == cxk, cl[posc], dflt)
    return float((lps * cnt).sum()), int(n)


def perplexity_py(text: str, lang: str, model: PplModel) -> float | None:
    lp, n = logprob10_py(text, lang, model)
    if n == 0:
        return None
    return 10.0 ** (-lp / n)


_DEFAULT_PPL_MODEL: PplModel | None = None


def default_ppl_model() -> PplModel:
    """LM trained on the deterministic training corpus (the same
    samples/-analog the NB classifier trains on) — built once per
    process, broadcast at score time."""
    global _DEFAULT_PPL_MODEL
    if _DEFAULT_PPL_MODEL is None:
        from .langid import training_corpus

        _DEFAULT_PPL_MODEL = train_ppl_py(training_corpus())
    return _DEFAULT_PPL_MODEL


# ----------------------------------------------------------------------
# per-language threshold calibration (the CCNet lesson): one global
# MAX_PPL cannot serve every script — char-trigram entropy differs by
# an order of magnitude between Latin prose (clean ~3) and spaceless
# CJK (clean ~26-44, because each character is a word and the trigram
# space is undersampled at any fixed corpus size). Thresholds are
# derived deterministically from the SAME word pools the model trains
# on: per language, the geometric mean of the held-out-clean median
# and the word-salad median — the midpoint of the measured separation.
# ----------------------------------------------------------------------

_CAL_DOCS = 8
_CAL_WORDS = 200
_SALAD_ALPHABET = "abcdefghijklmnopqrstuvwxyz"


def _cal_clean(lang: str, seed: int) -> str:
    """Held-out clean doc: same pools/mix as training_corpus but a
    disjoint seed namespace — measures unseen-but-in-distribution ppl."""
    import random

    from .langid import STOPWORDS, WORDS, _lang_sep

    rng = random.Random(f"ppl-cal-clean:{seed}:{lang}")
    pool, stop = WORDS[lang], STOPWORDS[lang]
    sep = _lang_sep(lang)
    words = []
    for _ in range(_CAL_WORDS):
        src = stop if rng.random() < 0.45 else pool
        words.append(src[rng.randrange(len(src))])
    return sep.join(words)


def _cal_salad(lang: str, seed: int) -> str:
    """The 'perplexed' fixture stratum shape: genuine stopwords mixed
    with ascii gibberish — what the ppl rule exists to catch."""
    import random

    from .langid import STOPWORDS, _lang_sep

    rng = random.Random(f"ppl-cal-salad:{seed}:{lang}")
    stop = STOPWORDS[lang]
    sep = _lang_sep(lang)
    out = []
    for _ in range(_CAL_WORDS):
        if rng.random() < 0.45:
            out.append(stop[rng.randrange(len(stop))])
        else:
            out.append(
                "".join(
                    rng.choice(_SALAD_ALPHABET)
                    for _ in range(rng.randint(4, 9))
                )
            )
    return sep.join(out)


def ppl_thresholds(model: PplModel, langs=None) -> dict[str, float]:
    """lang -> drop threshold: sqrt(median(clean) * median(salad)).
    Deterministic (seeded calibration docs); a language missing from
    the model gets no entry (callers fall back to quality.MAX_PPL)."""
    import statistics

    from .langid import LANGUAGES

    out: dict[str, float] = {}
    for lang in langs if langs is not None else LANGUAGES:
        if lang not in model:
            continue
        clean = [
            p
            for s in range(_CAL_DOCS)
            if (p := perplexity_py(_cal_clean(lang, s), lang, model)) is not None
        ]
        salad = [
            p
            for s in range(_CAL_DOCS)
            if (p := perplexity_py(_cal_salad(lang, s), lang, model)) is not None
        ]
        if not clean or not salad:
            continue
        out[lang] = float(
            (statistics.median(clean) * statistics.median(salad)) ** 0.5
        )
    return out


# id(model) -> (model, thresholds). The model reference is held
# STRONGLY and identity is re-checked on hit, mirroring _SCORER_CACHE:
# without it, a garbage-collected model whose address is reused by a
# new PplModel would silently serve the OLD model's thresholds —
# wrong per-language drop cutoffs with no error.
_THRESHOLD_CACHE: dict[int, tuple[PplModel, dict[str, float]]] = {}


def ppl_thresholds_for(model: PplModel) -> dict[str, float]:
    """Memoized-by-identity thresholds (the default model computes its
    calibration once per process, like the model itself)."""
    key = id(model)
    hit = _THRESHOLD_CACHE.get(key)
    if hit is not None and hit[0] is model:
        return hit[1]
    if len(_THRESHOLD_CACHE) > 8:
        _THRESHOLD_CACHE.clear()
    got = ppl_thresholds(model)
    _THRESHOLD_CACHE[key] = (model, got)
    return got
