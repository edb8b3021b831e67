"""The label front end's spec as plain regexes: the oracles that the
linear forward-scan extraction and the guarded scrub must equal.

``regex_extract_text`` is the original statement of extraction: one
regex substitution per step. It rescans to the end of the page after
each unclosed opener, so it is quadratic on repeated ones and stays
here, out of the job. ``regex_scrub`` applies every SCRUB_PATTERNS rule
in table order to the running text, with no guard and no combined
toxicity scan: the sequential spec that the DuckDB scrub SQL also
states."""

import re

from hyperpolyglot_spark.functions.extract import (
    _ENTITIES,
    truncate_to_char_boundary,
)
from hyperpolyglot_spark.functions.scrub import SCRUB_PATTERNS

_DROP_BLOCK_RE = re.compile(
    r"<(script|style|nav|header|footer|aside)\b[^>]*>.*?</\1\s*>",
    re.IGNORECASE | re.DOTALL,
)
_COMMENT_RE = re.compile(r"<!--.*?-->", re.DOTALL)
_TAG_RE = re.compile(r"<[^>]*>")
_WS_RE = re.compile(r"\s+")

_COMPILED = tuple(
    (
        name,
        re.compile(pat, re.IGNORECASE if name.startswith("toxicity") else 0),
        rep,
    )
    for name, pat, rep in SCRUB_PATTERNS
)


def regex_extract_text(html: bytes | str) -> str:
    if isinstance(html, bytes):
        text = html.decode("utf-8", errors="replace")
    else:
        text = html
    text = _COMMENT_RE.sub(" ", text)
    text = _DROP_BLOCK_RE.sub(" ", text)
    text = _TAG_RE.sub(" ", text)
    for ent, rep in _ENTITIES:
        text = text.replace(ent, rep)
    text = _WS_RE.sub(" ", text).strip()
    return truncate_to_char_boundary(text)


def regex_scrub(text: str) -> tuple[str, dict[str, int]]:
    counts = {}
    for name, rx, rep in _COMPILED:
        text, counts[name] = rx.subn(rep, text)
    return text, counts
