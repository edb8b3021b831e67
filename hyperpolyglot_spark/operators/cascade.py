"""The staged language-detection cascade (reference detect(),
src/lib.rs:136-195) re-expressed Spark-first.

Stage order and candidate-narrowing semantics mirror the reference:
  1. url hint   (filename map probe, :137-144)  -> resolved, early exit
  2. host TLD   (extension 1:N probe, :147-155) -> resolved if unique
  3. meta lang  (shebang parse + intersect, :157-166)
  4. heuristics (rule engine + intersect, only if >1 candidate, :169-185)
  5. classifier (naive Bayes over remaining candidates, :187-194 —
     the hashed fixed-width n-gram model, langid.HashedModel);
     deviation from the reference (documented): 0 candidates at the
     terminal classifies over ALL languages instead of returning None —
     a web pipeline labels every document (classifier.rs:19-22 is the
     reference's own public-API behavior for empty candidate lists).

Spark shape: this module is the per-document spec only. The production
job runs detect_lang_py inside the batch labeller of its Arrow label UDF
(plans/pipeline.label_batch), where the classifier stage is reached
only by rows stages 1-4 leave unresolved — the early-exit cascade X1:
resolved rows never pay the expensive stage.
"""

from __future__ import annotations

import re

from ..functions.langdata import MARKER_RULES
from ..functions.langid import classify_or_none_py
from ..functions.metadata import (
    filter_candidates,
    meta_lang_candidates,
    tld_candidates,
    url_hint_lang,
)
from ..functions.rules import DISAMBIGUATION_RULES, RULE_CONTEXTS, apply_rules

_MARKERS_COMPILED = {l: re.compile(p) for l, p in MARKER_RULES.items()}


def heuristic_matches_py(cands: list[str], text: str) -> list[str]:
    """Stage 4 spec: a known candidate-set context dispatches to its
    ORDERED combinator rule table (heuristics.rs:21-72 semantics via
    rules.apply_rules — first eligible matching rule wins, pattern-less
    default matches unconditionally); unknown contexts fall back to the
    one-marker-per-language filter (the single-Positive special case)."""
    key = RULE_CONTEXTS.get(frozenset(cands))
    if key is not None:
        return apply_rules(DISAMBIGUATION_RULES[key], cands, text)
    return [l for l in cands if _MARKERS_COMPILED[l].search(text)]


# ======================================================================
# pure-Python spec (oracle mode) — the frozen reference semantics
# ======================================================================

def detect_lang_py(
    url: str, text: str, meta_tag: str | None, model=None
) -> tuple[str | None, str]:
    """(lang, strategy) for one document. THE label spec.

    The terminal classifier stage returns (None, 'unresolved') when
    the NB decision is noise-like (langid.classify_or_none_py) — the
    analog of the reference's `detect` returning None at zero
    candidates (src/lib.rs:187-189) generalized to an open-world
    confidence cutoff."""
    hint = url_hint_lang(url)
    if hint is not None:
        return hint, "urlhint"

    cands = tld_candidates(url)
    if len(cands) == 1:
        return cands[0], "tld"

    cands = filter_candidates(cands, meta_lang_candidates(meta_tag))
    if len(cands) == 1:
        return cands[0], "meta"

    if len(cands) > 1:
        matched = heuristic_matches_py(cands, text)
        cands = filter_candidates(cands, matched)
    if len(cands) == 1:
        return cands[0], "heuristics"

    lang = classify_or_none_py(text, cands, model)
    if lang is None:
        return None, "unresolved"
    return lang, "classifier"
