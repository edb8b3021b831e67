"""Per-document metadata detectors (stages 1-3) + candidate algebra.

Pure-Python spec functions, composed into the cascade by
operators/cascade.detect_lang_py.

Semantics mirrored from the reference:
  - filter_candidates: src/lib.rs:268-290 — either side empty -> other
    side; empty intersection -> keep previous; else intersection with
    PREVIOUS order preserved.
  - url hint lookup: filenames.rs:5-7 (exact probe, short-circuits).
  - tld lookup: extensions.rs:5-32 (1:N probe; longest-known-suffix scan
    is mirrored for multi-label TLDs like ``co.uk``).
  - meta-lang lookup: interpreters.rs:8-65 (parse declared tag, probe).
"""

from __future__ import annotations

from .langdata import META_LANG_CANDS, TLD_LANGS, URL_LANG_HINTS


def filter_candidates(prev: list[str], new: list[str]) -> list[str]:
    """Exact port of reference src/lib.rs:268-290 semantics."""
    if not prev:
        return list(new)
    if not new:
        return list(prev)
    filtered = [c for c in prev if c in new]
    return filtered if filtered else list(prev)


def url_host(url: str) -> str:
    """Host part of an http(s) url, lowercased (no stdlib urlparse — the
    split is part of the frozen spec)."""
    rest = url.split("://", 1)[-1]
    return rest.split("/", 1)[0].lower()


def url_path_segments(url: str) -> list[str]:
    rest = url.split("://", 1)[-1]
    parts = rest.split("/")[1:]
    return [p.lower() for p in parts if p]


def url_hint_lang(url: str) -> str | None:
    """Stage 1: first path segment found in URL_LANG_HINTS decides the
    language outright (FILENAMES-map analog: exact probe, early exit —
    the html is never decoded for these rows)."""
    for seg in url_path_segments(url):
        if seg in URL_LANG_HINTS:
            return URL_LANG_HINTS[seg]
    return None


def tld_of(host: str) -> str | None:
    """Longest known dotted suffix of the host (compound-extension scan
    analog, extensions.rs:24-31: scan every '.' left-to-right, first
    suffix present in the map wins — longest known suffix)."""
    labels = host.split(".")
    for i in range(1, len(labels)):
        suffix = ".".join(labels[i:])
        if suffix in TLD_LANGS:
            return suffix
    return None


def tld_candidates(url: str) -> list[str]:
    """Stage 2: host TLD -> candidate language list (1:N)."""
    t = tld_of(url_host(url))
    return list(TLD_LANGS[t]) if t else []


def meta_lang_candidates(tag: str | None) -> list[str]:
    """Stage 3: declared <html lang> tag -> candidates. Unknown tag ->
    no candidates (interpreters.rs:61-64). A version-ish suffix like
    ``en-US-x-mtfrom`` strips to its first two labels (version-strip
    analog, interpreters.rs:52-58)."""
    if not tag:
        return []
    tag = tag.lower()
    if tag in META_LANG_CANDS:
        return list(META_LANG_CANDS[tag])
    parts = tag.split("-")
    if len(parts) > 2:
        short = "-".join(parts[:2])
        if short in META_LANG_CANDS:
            return list(META_LANG_CANDS[short])
    if parts[0] in META_LANG_CANDS:
        return list(META_LANG_CANDS[parts[0]])
    return []
