"""KenLM-style perplexity: training and scoring spec, rule wiring,
and the quality separation the MAX_PPL threshold relies on."""

import json
import math
import os
import platform
import subprocess
import sys

import numpy as np
import pytest
from pyspark.sql import functions as F

from hyperpolyglot_spark.datagen.pages import gen_page, gen_pages_pdf
from hyperpolyglot_spark.functions.langid import classify_margin_py, text_grams
from hyperpolyglot_spark.functions.perplexity import (
    PPL_ALPHA,
    default_ppl_model,
    logprob10_py,
    perplexity_py,
    train_ppl_py,
)
from hyperpolyglot_spark.functions.quality import MAX_PPL
from hyperpolyglot_spark.plans.pipeline import py_label_page


def test_events_spec():
    """The LM's events are the NB classifier's grams (langid.text_grams)."""
    assert text_grams("") == []
    assert text_grams("ab") == []
    assert text_grams("AbC") == ["abc"]
    assert text_grams("abcd") == ["abc", "bcd"]


def test_probabilities_normalize():
    """Over the SEEN vocab, sum_c P(c|ctx) < 1 and with the alpha mass
    spread over V chars the smoothed distribution sums to exactly 1."""
    model = train_ppl_py([("xx", "abab abab")])
    tri, ctx, v = model["xx"]
    seen_next = {}
    for g, c in tri.items():
        seen_next.setdefault(g[:2], set()).add(g[2])
    for cx, total in ctx.items():
        s = sum(
            (tri.get(cx + ch, 0) + PPL_ALPHA) / (total + PPL_ALPHA * v)
            for ch in {g[2] for g in tri if g[:2] == cx}
        )
        # remaining alpha mass belongs to unseen chars of the vocab
        n_seen = len(seen_next[cx])
        s_full = s + (v - n_seen) * PPL_ALPHA / (total + PPL_ALPHA * v)
        assert s_full == pytest.approx(1.0, abs=1e-12)


def test_scoring_spec_by_hand():
    model = train_ppl_py([("xx", "abcabc")])
    tri, ctx, v = model["xx"]
    # events of "abcabc": abc bca cab abc -> tri {abc:2, bca:1, cab:1}
    assert tri == {"abc": 2, "bca": 1, "cab": 1}
    assert ctx == {"ab": 2, "bc": 1, "ca": 1}
    assert v == 3  # next chars {c, a, b}
    lp, n = logprob10_py("abc", "xx", model)
    assert n == 1
    assert lp == pytest.approx(
        math.log10((2 + PPL_ALPHA) / (2 + PPL_ALPHA * 3))
    )
    # unseen context: P = alpha / (0 + alpha*V) = 1/V
    lp_u, n_u = logprob10_py("zzz", "xx", model)
    assert n_u == 1
    assert lp_u == pytest.approx(math.log10(1.0 / 3))
    # no events / unknown lang -> None
    assert perplexity_py("ab", "xx", model) is None
    assert perplexity_py("abcdef", "nope", model) is None


def test_quality_separation_and_rule():
    """Clean fixture prose stays under its LANGUAGE'S calibrated
    threshold (perplexity.ppl_thresholds_for — per-language because
    char-trigram entropy differs by script); the perplexed stratum
    scores over it; py_label_page drops it with rule id 'perplexity'
    and never scores docs an earlier rule dropped."""
    from hyperpolyglot_spark.functions.perplexity import (
        default_ppl_model,
        ppl_thresholds_for,
    )

    thr = ppl_thresholds_for(default_ppl_model())
    n_ppl_drops = 0
    for i in range(400):
        r = gen_page(i)
        row = py_label_page(r["url"], r["html"])
        t = thr.get(row["lang_pred"], MAX_PPL)
        if row["keep"]:
            assert row["perplexity"] is not None
            assert row["perplexity"] <= t
        elif row["drop_rule"] == "perplexity":
            n_ppl_drops += 1
            assert row["perplexity"] > t
            assert row["scrubbed_text"] is None
        else:
            # early-exit X5: LM never scored docs cheap rules dropped
            assert row["perplexity"] is None
    assert n_ppl_drops >= 5


def test_thresholds_are_per_language_and_ordered():
    """Latin thresholds sit near the old global cutoff; spaceless-CJK
    thresholds are an order of magnitude higher — the calibration that
    keeps clean zh/ja prose (pre-fix: 100% of it was ppl-dropped)."""
    from hyperpolyglot_spark.functions.perplexity import (
        default_ppl_model,
        ppl_thresholds_for,
    )

    thr = ppl_thresholds_for(default_ppl_model())
    for lang in ("en", "de", "fr", "ru", "ar"):
        assert 5.0 < thr[lang] < 15.0, (lang, thr[lang])
    assert thr["zh"] > 30 and thr["ja"] > 25
    assert thr["zh"] > 3 * thr["en"]


def test_pipeline_emits_perplexity_metrics(spark):
    from hyperpolyglot_spark.plans.pipeline import metrics, run_pipeline

    pages = spark.createDataFrame(gen_pages_pdf(300))
    labels = run_pipeline(spark, pages)
    m = metrics(labels)
    rules = {r["drop_rule"] for r in m.select("drop_rule").distinct().collect()}
    assert "perplexity" in rules
    from hyperpolyglot_spark.functions.perplexity import (
        default_ppl_model,
        ppl_thresholds_for,
    )

    max_thr = max(ppl_thresholds_for(default_ppl_model()).values())
    kept_ppl = labels.filter(F.col("keep")).agg(F.max("perplexity")).collect()[0][0]
    assert kept_ppl is not None and kept_ppl <= max_thr


def test_threshold_cache_is_identity_checked():
    """ADVICE r3: id() reuse after GC must not serve another model's
    thresholds — the cache stores the model ref and re-checks identity."""
    from hyperpolyglot_spark.functions import perplexity as P

    m1 = P.train_ppl_py([("en", "the cat sat on the mat again and again")])
    t1 = P.ppl_thresholds_for(m1)
    # forge a stale entry under a key that a NEW model will collide with
    m2 = P.train_ppl_py([("en", "a completely different training text")])
    P._THRESHOLD_CACHE[id(m2)] = (m1, {"en": -1.0})
    got = P.ppl_thresholds_for(m2)
    assert got != {"en": -1.0}  # identity check rejected the stale hit
    assert P._THRESHOLD_CACHE[id(m2)][0] is m2
    assert P.ppl_thresholds_for(m1) == t1


def _blas_is_openblas() -> bool:
    blas = np.show_config(mode="dicts")["Build Dependencies"]["blas"]
    return "openblas" in str(blas.get("name", "")).lower()


_PPL_BITS_SCRIPT = """
import json, sys
from hyperpolyglot_spark.datagen.pages import gen_page
from hyperpolyglot_spark.functions.perplexity import default_ppl_model, perplexity_py
pm = default_ppl_model()
pages = [gen_page(i, 7) for i in range(int(sys.argv[1]))]
ppl = [perplexity_py(p["text"], p["lang"], pm) for p in pages]
print(json.dumps([None if v is None else v.hex() for v in ppl]))
"""

_MARGIN_BITS_SCRIPT = """
import json, sys
from hyperpolyglot_spark.datagen.pages import gen_page
from hyperpolyglot_spark.functions.langid import classify_margin_py
pages = [gen_page(i, 7) for i in range(int(sys.argv[1]))]
out = [classify_margin_py(p["text"], None) for p in pages]
print(json.dumps([[lang, margin.hex(), top1.hex(), gate] for lang, margin, top1, gate in out]))
"""

needs_x86_openblas = pytest.mark.skipif(
    platform.machine() != "x86_64" or not _blas_is_openblas(),
    reason="needs numpy built against OpenBLAS on x86_64",
)


def _prescott_child(script: str, n: int):
    """The JSON that ``script`` prints last, run with ``n`` in a child
    process pinned to OpenBLAS's SSE3 Prescott kernel."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = os.pathsep.join(filter(None, [root, os.environ.get("PYTHONPATH")]))
    env = dict(os.environ, OPENBLAS_CORETYPE="Prescott", PYTHONPATH=path)
    proc = subprocess.run(
        [sys.executable, "-c", script, str(n)],
        cwd=root, env=env, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@needs_x86_openblas
def test_perplexity_bits_do_not_depend_on_the_blas_kernel():
    """perplexity_py is the spec the frozen label digest hashes at its
    exact bits, so its sum's order must not be chosen by the BLAS kernel
    OpenBLAS picks from the CPU: the bits this process gives equal those
    of a child pinned to the SSE3 Prescott kernel."""
    n = 200
    child = _prescott_child(_PPL_BITS_SCRIPT, n)
    pm = default_ppl_model()
    here = [perplexity_py(p["text"], p["lang"], pm) for p in (gen_page(i, 7) for i in range(n))]
    here = [None if v is None else v.hex() for v in here]
    assert sum(v is not None for v in here) > n // 2
    moved = [i for i, (a, b) in enumerate(zip(here, child)) if a != b]
    assert not moved, f"{len(moved)} of {n} perplexities differ under Prescott, first: {moved[:10]}"


@needs_x86_openblas
def test_margin_bits_do_not_depend_on_the_blas_kernel():
    """The classifier's gate statistics (margin and top1 per gram) sit
    next to the 0.15 / -15.0 gate thresholds, so their sums must not be
    ordered by the BLAS kernel either: classify_margin_py gives the bits
    of a child pinned to the SSE3 Prescott kernel."""
    n = 200
    child = _prescott_child(_MARGIN_BITS_SCRIPT, n)
    here = [classify_margin_py(gen_page(i, 7)["text"], None) for i in range(n)]
    here = [[lang, margin.hex(), top1.hex(), gate] for lang, margin, top1, gate in here]
    moved = [i for i, (a, b) in enumerate(zip(here, child)) if a != b]
    assert not moved, f"{len(moved)} of {n} margins differ under Prescott, first: {moved[:10]}"
