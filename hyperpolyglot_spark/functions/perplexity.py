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

Text prep is frozen and shared with the NB classifier: the events are
langid.text_grams, every contiguous 3-char window (no BOS/EOS padding)
of the first MAX_SCORE_CHARS chars, lowercased; scoring normalizes
the text first (langid._packed_grams). A doc with fewer than 3 chars
has no events -> perplexity None (no rule fires).

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
import random
import statistics
from collections import Counter

import numpy as np

from .langid import (
    LANGUAGES,
    NGRAM,
    STOPWORDS,
    WORDS,
    _lang_sep,
    _packed_grams,
    pack_trigrams,
    text_codes,
    text_grams,
    training_corpus,
)

PPL_ALPHA = 0.1

# lang -> (tri_counts, ctx_counts, vocab_size)
PplModel = dict[str, tuple[dict[str, int], dict[str, int], int]]


def train_ppl_py(corpus: list[tuple[str, str]]) -> PplModel:
    """(lang, text) rows -> per-language smoothed trigram LM."""
    model: PplModel = {}
    for lang in sorted({l for l, _ in corpus}):
        tri: Counter[str] = Counter()
        for l, text in corpus:
            if l == lang:
                tri.update(text_grams(text))
        if not tri:
            continue  # a lang with zero events has no LM (spec: absent)
        ctx: Counter[str] = Counter()
        vocab: set[str] = set()
        for g, c in tri.items():
            ctx[g[: NGRAM - 1]] += c
            vocab.add(g[NGRAM - 1])
        model[lang] = (dict(tri), dict(ctx), len(vocab))
    return model


# Vectorized scoring form, cached per model: trigrams are packed into
# int64 keys (langid.pack_trigrams; a context's key is its trigrams'
# key >> 21), the per-lang log10 tables become SORTED key/value arrays,
# and a document scores with numpy (unique + searchsorted + sum)
# instead of 2000 string slices + dict probes. log10 is evaluated once
# per MODEL entry, not once per document event. Same probabilities,
# ~10x less python time.
# id(model) -> (model, scorer). The model reference is held STRONGLY so
# the id can never be recycled by a different dict (id-reuse after GC
# would silently serve the wrong scorer); identity is re-checked on hit.
_SCORER_CACHE: dict[int, tuple[PplModel, dict]] = {}


def _sorted_table(keys: np.ndarray, logps: list[float]):
    order = np.argsort(keys)
    return keys[order], np.array(logps, dtype=np.float64)[order]


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
        # each gram, and each context padded to 3 chars, is one window
        # of the joined string every NGRAM code points
        tri_keys = pack_trigrams(text_codes("".join(tri)))[::NGRAM]
        ctx_keys = pack_trigrams(text_codes(" ".join(denom) + " "))[::NGRAM] >> 21
        sc[lang] = (
            *_sorted_table(
                tri_keys,
                [math.log10((c3 + PPL_ALPHA) / denom[g[:2]]) for g, c3 in tri.items()],
            ),
            *_sorted_table(ctx_keys, [math.log10(PPL_ALPHA / d) for d in denom.values()]),
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
    # r6: the NB scorer's grams, after the same invisible-char cleanup
    # — applied at SCORING time; training corpora are clean by
    # construction
    packed = _packed_grams(text)
    if packed is None:
        return 0.0, 0
    uk, cnt = packed
    tk, tl, ck, cl, dflt = sc
    pos = np.minimum(np.searchsorted(tk, uk), len(tk) - 1)
    hit = tk[pos] == uk
    lps = np.where(hit, tl[pos], 0.0)
    miss = ~hit
    if miss.any():
        cxk = uk[miss] >> 21
        posc = np.minimum(np.searchsorted(ck, cxk), len(ck) - 1)
        lps[miss] = np.where(ck[posc] == cxk, cl[posc], dflt)
    return float((lps * cnt).sum()), int(cnt.sum())


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
