"""Regex PII / toxicity scrubbing with per-pattern counts.

Generalizes the reference's regex rule machinery (heuristics.rs
Positive patterns) into rewrite rules. The pattern table is ORDERED and
applied sequentially to the running text — order is part of the spec
(e.g. credit-card before phone, so a card number is never half-eaten by
the phone rule). All patterns are RE2/Java/Python-compatible (no
lookaround, no backrefs) so the same table drives py_scrub and the
DuckDB oracle SQL (spec_sql.scrub_sql).

Regexes are compiled once at module import — once per Python worker —
not per call (the reference recompiles PCRE per match call,
heuristics.rs:24-39; SURVEY.md §4 X7 says do better, so we do).

Spark side: the pipeline's batch labeller (plans/pipeline.label_batch)
is the only runner. It computes the guards of a batch's kept rows at
once (batch_guards) and then runs scrub_guarded on each kept row,
counting and rewriting in one pass per text instead of 2xN regexp
passes over a text column. py_scrub, which computes one text's guards
itself (_guards), is the per-row spec.
"""

from __future__ import annotations

import re

import numpy as np

from .langid import char_mask, text_codes

# A hextet (1-4 hex chars) that contains at least one DIGIT — used by
# the compressed-ipv6 branches so a bare all-letter token before '::'
# ('DB::Fetch', 'a::b in perl', 'dead::', 'fe::') is never scrubbed:
# those are code identifiers far more often than addresses. Spelled as
# an enumeration (digit at position 0/1/2/3) because the table must
# stay lookaround-free for RE2/DuckDB.
_DIGIT_HEXTET = (
    "(?:[0-9][0-9A-Fa-f]{0,3}|[A-Fa-f][0-9][0-9A-Fa-f]{0,2}"
    "|[A-Fa-f]{2}[0-9][0-9A-Fa-f]?|[A-Fa-f]{3}[0-9])"
)
_HEXTET = "[0-9A-Fa-f]{1,4}"
# optional right side after '::' (trailing '::' is legal, e.g. 'fe80::')
_IP6_TAIL = r"(?:[0-9A-Fa-f]{1,4}(?::[0-9A-Fa-f]{1,4}){0,5}\b)?"

# (name, pattern, replacement) — ordered. Order is spec: iban before
# credit_card (a card-shaped digit span inside an IBAN must not be
# half-eaten), ssn before phone, ipv6 before ipv4, shape rules before
# lexicon rules. Names starting with 'toxicity' compile IGNORECASE.
SCRUB_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    # IBAN shape: 2-letter country + 2 check digits + 8-31 alnum BBAN,
    # optionally space-grouped by 4 (public ISO 13616 shape)
    (
        "iban",
        r"\b[A-Z]{2}\d{2}(?: ?[A-Z0-9]{4}){2,7}(?: ?[A-Z0-9]{1,3})?\b",
        "<IBAN>",
    ),
    ("credit_card", r"\b(?:\d[ -]?){13,16}\b", "<CARD>"),
    # US SSN variants: dashed or spaced groups
    ("ssn", r"\b\d{3}[ -]\d{2}[ -]\d{4}\b", "<SSN>"),
    ("phone", r"\b\+?\d{1,3}[ .-]\d{3}[ .-]\d{3,4}[ .-]\d{4}\b", "<PHONE>"),
    # international/NANP parenthesized area code: (212) 555-0143,
    # (020) 7946 0958
    ("phone_paren", r"\(\d{2,4}\)[ .-]?\d{3,4}[ .-]\d{3,4}\b", "<PHONE>"),
    # ipv6: full/partial form, then the common :: compressions —
    # '2001:db8::1', 'fe80::8a2e:370:7334', trailing 'fe80::', leading
    # '::1'. Compressed branches require >=2 leading hextet groups OR a
    # digit in the leading/first hextet (r6 ADVICE): a lone all-letter
    # hex-looking token around '::' is code ('DB::Fetch', 'a::b',
    # 'dead::'), so those — and the rare all-letter addresses like
    # 'a::b' or '::beef' — are deliberately NOT scrubbed (precision
    # over recall on code-bearing web text). \b placement: a trailing
    # '::' ends at a non-word char (no \b possible there), and a
    # LEADING '::' cannot take \b either, hence the un-anchored-left
    # branch; inside it the multi-group alternative precedes the
    # single-digit-hextet one so leftmost-FIRST matching still takes
    # the longest address ('::10ab:cd' scrubs whole, not '::10ab').
    # KNOWN residual (ADVICE r6, accepted): the un-anchored leading-::
    # branch still fires mid-identifier when the RIGHT side looks
    # hex-with-digit — 'std::f1' scrubs to 'std<IP6>' — because
    # rejecting it needs lookbehind, which RE2 (the shared
    # Spark/DuckDB dialect) does not support; same precision trade as
    # the 'DB::Fetch' class above, documented rather than half-fixed.
    (
        "ipv6",
        rf"\b(?:{_HEXTET}:){{4,7}}{_HEXTET}\b"
        rf"|\b(?:{_HEXTET}:){{2,6}}:{_IP6_TAIL}"
        rf"|\b{_DIGIT_HEXTET}::{_IP6_TAIL}"
        rf"|::(?:{_HEXTET}(?::{_HEXTET}){{1,6}}\b|{_DIGIT_HEXTET}\b)",
        "<IP6>",
    ),
    ("ipv4", r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
    # street-address shape: house number + capitalized street name +
    # suffix word
    (
        "address",
        r"\b\d{1,5} [A-Z][a-z]+ "
        r"(?:Street|Avenue|Boulevard|Road|Lane|Drive|Court|Place|Terrace"
        r"|Way|St|Ave|Blvd|Rd|Ln|Dr)\b",
        "<ADDR>",
    ),
    # fictional toxicity lexicons (deterministic stand-ins for real
    # lexicon classes; the machinery — ordered classes, per-class
    # counts, guards — is what matters): expletives, slurs, threats
    (
        "toxicity",
        r"\b(?:frak|frakking|gorram|smeg|feldercarb|drokk)\b",
        "<TOXIC>",
    ),
    (
        "toxicity_slur",
        r"\b(?:clanker|meatbag|mudblood|skinjob|wirehead)s?\b",
        "<TOXIC>",
    ),
    (
        "toxicity_threat",
        r"\b(?:frag|airlock|vape)(?:ging|ing)? (?:you|him|her|them)\b",
        "<TOXIC>",
    ),
)

SCRUB_NAMES: tuple[str, ...] = tuple(name for name, _, _ in SCRUB_PATTERNS)

_COMPILED: tuple[tuple[str, re.Pattern[str], str], ...] = tuple(
    (
        name,
        re.compile(pat, re.IGNORECASE if name.startswith("toxicity") else 0),
        rep,
    )
    for name, pat, rep in SCRUB_PATTERNS
)

# a substring of every match of the three toxicity classes, lowercased
_TOX_STEMS = (
    "frak", "gorram", "smeg", "felder", "drokk",
    "clanker", "meatbag", "mudblood", "skinjob", "wirehead",
    "frag", "airlock", "vape",
)

# Necessary conditions, each tested against the ORIGINAL text. They are
# exact implications: a rule's match in the running text consists of
# original chars, contiguous in the original. Tags carry no ':', '(',
# '@', '[ .-]' or lexicon stem; their capitals are never followed by a
# lowercase letter or a digit pair; and the one digit in a tag, <IP6>'s
# 6, sits between a letter and '>', so no digit-led match can reach it.
# A replacement is never empty, so it can join no two chars. Per rule:
#   card -> a digit cluster (digits joined by at most one [ .-]) of
#   >= 13 digits; ssn -> >= 9; phone -> >= 11 (1+3+3+4); ipv4 -> >= 3
#   dots inside one cluster; phone_paren -> a '('; iban ->
#   [A-Z]{2}\d\d; ipv6 -> >= 4 ':' or a '::' (compressed forms);
#   address -> '\d [A-Z]'; toxicity classes -> a stem substring.
# Every digit rule needs >= 4 digits in one cluster, so the scan keeps
# only such clusters. A page's 4-digit 'page NNNN' header is one, but
# it passes no digit rule's guard.
# Each hint starts with a single char class, not a repeat: sre then
# skips to the class's next char in C ('[A-Z][A-Z]' scans 2.4x faster
# than '[A-Z]{2}').
_CLUSTER_RE = re.compile(r"\d(?:[ .\-]?\d){3,}")
_IBAN_HINT_RE = re.compile(r"[A-Z][A-Z]\d\d")
_ADDRESS_HINT_RE = re.compile(r"\d [A-Z]")
_DIGIT_RE = re.compile(r"\d")

# The email rule as a scan from each '@': a match is the [local]+ run
# right before an '@' (back to the previous match's end at most), then
# the domain part matched after it. The regex form retries every start
# inside a local run that no '@' ends, quadratic on a long one. Split
# from SCRUB_PATTERNS, which stays the DuckDB oracle's source.
_EMAIL_PAT, _EMAIL_TAG = next(
    (pat, rep) for name, pat, rep in SCRUB_PATTERNS if name == "email"
)
_EMAIL_LOCAL, _EMAIL_DOMAIN = _EMAIL_PAT.split("@")
_EMAIL_LOCAL_RE = re.compile(_EMAIL_LOCAL)  # run over the reversed text
_EMAIL_DOMAIN_RE = re.compile(_EMAIL_DOMAIN)

# The three toxicity classes use disjoint \b-delimited word sets, and
# a rewrite can never create or destroy another class's match ('<'/'>'
# break stems), so the sequential per-class scans are equivalent to ONE
# combined scan with per-class attribution — a 3x cut on lexicon-
# bearing docs. Built from SCRUB_PATTERNS so the table (and the
# generated sequential DuckDB oracle) stays the single source of truth.
_TOX_NAMES = tuple(n for n, _, _ in SCRUB_PATTERNS if n.startswith("toxicity"))
_TOX_COMBINED = re.compile(
    "|".join(
        f"(?P<{name}>{pat})"
        for name, pat, _ in SCRUB_PATTERNS
        if name.startswith("toxicity")
    ),
    re.IGNORECASE,
)
_TOX_REPLACEMENT = "<TOXIC>"


def _guards(text: str) -> dict[str, bool]:
    """Which non-lexicon rules can match (see the necessary conditions
    above): single C-speed scans of the original text."""
    digits, dotted = 0, False
    for c in _CLUSTER_RE.findall(text):
        dots = c.count(".")
        digits = max(digits, len(c) - dots - c.count(" ") - c.count("-"))
        dotted = dotted or dots >= 3
    return _char_guards(
        text,
        _IBAN_HINT_RE.search(text) is not None,
        _ADDRESS_HINT_RE.search(text) is not None,
        digits,
        dotted,
        _has_stem(_fold(text)),
    )


def _fold(text: str) -> str:
    """``text`` lowercased with the folds IGNORECASE adds: 'ſ' matches
    s and 'ı', 'İ' match i, which str.lower keeps apart. Length is
    kept: 'İ', the one char str.lower lengthens, is replaced first."""
    return text.replace("İ", "i").lower().replace("ſ", "s").replace("ı", "i")


def _has_stem(folded: str) -> bool:
    return any(s in folded for s in _TOX_STEMS)


def _char_guards(
    text: str, iban: bool, address: bool, digits: int, dotted: bool, stem: bool
) -> dict[str, bool]:
    return {
        "email": "@" in text,
        "iban": iban,
        "credit_card": digits >= 13,
        "ssn": digits >= 9,
        "phone": digits >= 11,
        "phone_paren": "(" in text,
        "ipv6": text.count(":") >= 4 or "::" in text,
        "ipv4": dotted,
        "address": address,
        "toxicity": stem,
    }


def batch_guards(texts: list[str]) -> list[dict[str, bool]]:
    """_guards of each text. The IBAN and address hints and the digit
    clusters are computed over the batch joined by NUL, which no hint
    or cluster spans: the hints as shifted code-point masks, the
    clusters from the digit positions. A digit links to the next digit
    right after it or after one [ .-]; a maximal linked run is a
    _CLUSTER_RE match when it holds >= 4 digits, and only runs of >= 9
    digits or >= 3 dots (which imply >= 4 digits) pass a guard. The
    stem test stays per text: str.find over one joined, mostly
    four-byte-wide string was slower than over each text in its own
    narrow form."""
    n = len(texts)
    codes = text_codes("\0".join(texts))
    starts = np.cumsum([0] + [len(t) + 1 for t in texts[:-1]])

    def doc_of(pos):
        return np.searchsorted(starts, pos, side="right") - 1

    def docs_with(hits):
        out = np.zeros(n, dtype=bool)
        out[doc_of(np.flatnonzero(hits))] = True
        return out

    digit = char_mask(_DIGIT_RE)[codes]
    upper = (codes >= 65) & (codes <= 90)
    iban = docs_with(upper[:-3] & upper[1:-2] & digit[2:-1] & digit[3:])
    address = docs_with(digit[:-2] & (codes[1:-1] == 32) & upper[2:])

    digits = np.zeros(n, dtype=np.int64)
    dotted = np.zeros(n, dtype=bool)
    pos = np.flatnonzero(digit)
    if len(pos):
        gap = np.diff(pos)
        mid = codes[pos[:-1] + 1]
        link = (gap == 1) | ((gap == 2) & ((mid == 32) | (mid == 46) | (mid == 45)))
        run = np.concatenate(([0], np.cumsum(~link)))
        run_digits = np.bincount(run)
        run_dots = np.bincount(
            run[1:][link & (gap == 2) & (mid == 46)], minlength=len(run_digits)
        )
        run_doc = doc_of(pos[np.searchsorted(run, np.arange(len(run_digits)))])
        np.maximum.at(digits, run_doc, run_digits)
        dotted[run_doc[run_dots >= 3]] = True

    return [
        _char_guards(
            t, bool(iban[i]), bool(address[i]), int(digits[i]), bool(dotted[i]),
            _has_stem(_fold(t)),
        )
        for i, t in enumerate(texts)
    ]


def _scrub_email(text: str) -> tuple[str, int]:
    """The email rule's subn, linear: see _EMAIL_LOCAL_RE."""
    pieces = []
    pos = 0
    rev = None
    at = text.find("@")
    while at >= 0:
        dom = _EMAIL_DOMAIN_RE.match(text, at + 1)
        if dom is not None:
            if rev is None:
                rev = text[::-1]
            n = len(text)
            loc = _EMAIL_LOCAL_RE.match(rev, n - at, n - pos)
            if loc is not None:
                pieces.append(text[pos : at - len(loc.group())])
                pos = dom.end()
        at = text.find("@", at + 1)
    if not pieces:
        return text, 0
    pieces.append(text[pos:])
    return _EMAIL_TAG.join(pieces), len(pieces) - 1


def py_scrub(text: str) -> tuple[str, dict[str, int]]:
    """Pure-Python spec: sequentially rewrite, count per pattern.

    Cheap necessary-condition guards (_guards) skip regexes that cannot
    match (exact implications, so skipping never changes the result);
    toxicity needs a lexicon stem. Most clean documents run zero
    rewrite regexes. The email rule runs as the linear _scrub_email."""
    return scrub_guarded(text, _guards(text))


def scrub_guarded(text: str, run: dict[str, bool]) -> tuple[str, dict[str, int]]:
    """py_scrub with the guards ``run`` already computed (_guards, or
    batch_guards for a whole batch)."""
    counts: dict[str, int] = {}
    tox_done = False
    for name, rx, rep in _COMPILED:
        if name.startswith("toxicity"):
            if not tox_done:
                counts.update(dict.fromkeys(_TOX_NAMES, 0))
                if run["toxicity"]:
                    text = _scrub_toxicity(text, counts)
                tox_done = True
        elif not run[name]:
            counts[name] = 0
        elif name == "email":
            text, counts[name] = _scrub_email(text)
        else:
            text, counts[name] = rx.subn(rep, text)
    return text, counts


def _scrub_toxicity(text: str, counts: dict[str, int]) -> str:
    """One combined scan for all toxicity classes (see _TOX_COMBINED
    note) — identical output to the sequential per-class scans."""

    def _sub(m: "re.Match[str]") -> str:
        counts[m.lastgroup] += 1
        return _TOX_REPLACEMENT

    return _TOX_COMBINED.sub(_sub, text)
