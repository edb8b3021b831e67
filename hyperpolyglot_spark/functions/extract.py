"""Deterministic HTML -> text extraction (library-free, version-pinned).

Extraction is a forward scan, linear in the page on any input
(``extract_text``); the regex statement of the same spec, quadratic on
repeated unclosed openers, is kept in the tests as its oracle
(tests/regex_oracles.py).

The per-row invariant (BASELINE.json input_hint) is byte-identical
extracted text per url, so extraction is a pure function of the html
bytes with no external parser dependency (SURVEY.md §7.3). Decode
policy: UTF-8 with errors="replace" — documented here as THE policy
(the reference differs by code path: detect() errors on invalid UTF-8,
src/lib.rs:169-171, while training coerces to "", codegen.rs:390; we
pick one and apply it everywhere).

Content is capped at MAX_CONTENT_BYTES=51200 at a char boundary after
extraction, mirroring reference MAX_CONTENT_SIZE_BYTES
(src/lib.rs:22,198-207).
"""

from __future__ import annotations

import functools
import re

MAX_CONTENT_BYTES = 51200  # reference src/lib.rs:22

# Boilerplate containers dropped wholesale (vendor/doc filter analog at
# the intra-document level); then all remaining tags are stripped. The
# opener's name matches under IGNORECASE, so it also accepts the
# Unicode case variants 'İ', 'ı' (for i) and 'ſ' (for s).
_BLOCK_OPEN_RE = re.compile(
    r"<(script|style|nav|header|footer|aside)\b", re.IGNORECASE
)
_TAG_RE = re.compile(r"<[^>]*>")

# The closer must repeat the opener's name up to sre's per-char simple
# lowercase: 'İ' lowers to 'i', while 'ı' and 'ſ' lower to themselves,
# so '<ſtyle>' closes only with '</ſtyle>' and '<scrıpt>' with
# '</scrıpt>'. Closer chars per lowered name char; ASCII letters take
# either case.
_CLOSER_CHARS = {"i": "iIİ", "ı": "ı", "ſ": "ſ"}


@functools.cache  # one entry per lowered spelling, 13 across the names
def _closer_re(name: str) -> re.Pattern[str]:
    """'</name\\s*>' for an opener's name lowered as sre lowers it:
    'İ' to 'i', the rest by str.lower."""
    cls = "".join(f"[{_CLOSER_CHARS.get(c, c + c.upper())}]" for c in name)
    return re.compile(rf"</{cls}\s*>")


# Fixed, closed entity table — no library drift.
_ENTITIES = (
    ("&nbsp;", " "),
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&amp;", "&"),  # last, so "&amp;lt;" -> "&lt;" (no double decode)
)


def truncate_to_char_boundary(s: str, max_bytes: int = MAX_CONTENT_BYTES) -> str:
    """Byte-cap a str at a UTF-8 char boundary (src/lib.rs:198-207)."""
    raw = s.encode("utf-8")
    if len(raw) <= max_bytes:
        return s
    cut = raw[:max_bytes]
    # back off continuation bytes (0b10xxxxxx) to the char boundary
    end = max_bytes
    while end > 0 and (cut[end - 1] & 0xC0) == 0x80:
        end -= 1
    if end > 0 and cut[end - 1] >= 0xC0:  # leading byte of a cut char
        end -= 1
    return raw[:end].decode("utf-8")


def _drop_comments(text: str) -> str:
    """Replace each '<!--...-->' (shortest, left to right) with a space.
    Once an opener has no '-->' after it, no later opener has either."""
    pieces = []
    pos = 0
    i = text.find("<!--")
    while i >= 0:
        j = text.find("-->", i + 4)
        if j < 0:
            break
        pieces.append(text[pos:i])
        pos = j + 3
        i = text.find("<!--", pos)
    pieces.append(text[pos:])
    return " ".join(pieces)


def _drop_blocks(text: str) -> str:
    """Replace each script/style/nav/header/footer/aside block with a
    space, left to right: an opener, its tag's first '>', then the
    nearest closer with the same name. An opener with no closer is left
    in place and the scan moves on one char. Openers are looked for
    only before the last '>'; the next '>' and, per name spelling, the
    nearest closer are remembered, so repeated unclosed openers cost
    O(1) each."""
    last_gt = text.rfind(">")
    pieces = []
    pos = start = 0
    gt = -1
    closers: dict[re.Pattern[str], tuple[int, int, re.Match[str] | None]] = {}
    while (m := _BLOCK_OPEN_RE.search(text, start, last_gt)) is not None:
        if gt < m.end():
            gt = text.find(">", m.end())
        rx = _closer_re(m.group(1).replace("İ", "i").lower())
        # every search from lo..hi finds c (hi: c's start, or the end)
        lo, hi, c = closers.get(rx, (1, 0, None))
        if not lo <= gt + 1 <= hi:
            c = rx.search(text, gt + 1)
            closers[rx] = (gt + 1, c.start() if c else len(text), c)
        if c is None:
            start = m.start() + 1
            continue
        pieces.append(text[pos : m.start()])
        pos = start = c.end()
    pieces.append(text[pos:])
    return " ".join(pieces)


def extract_text(html: bytes | str) -> str:
    """Pure function html-bytes -> extracted text. THE reference impl.

    Steps (order is part of the spec):
      1. decode utf-8, errors="replace"
      2. replace <!-- comments --> with a space
      3. replace script/style/nav/header/footer/aside blocks with a space
      4. replace every remaining tag with a space
      5. decode the fixed entity table
      6. collapse whitespace runs to single spaces, strip ends
      7. byte-cap at 51200 on a char boundary

    One forward scan per step, linear in the page on any input. The
    regex form of steps 2-4 (``<!--.*?-->``,
    ``<(script|...)\\b[^>]*>.*?</\\1\\s*>`` under IGNORECASE|DOTALL,
    ``<[^>]*>``) rescans to the end after each unclosed opener or '<',
    quadratic on repeated ones; the tests keep it, with ``\\s+`` for
    step 6, as the oracle this function must equal byte for byte. Step
    4 here runs its regex only up to the last '>', past which no tag
    can close."""
    if isinstance(html, bytes):
        text = html.decode("utf-8", errors="replace")
    else:
        text = html
    text = _drop_blocks(_drop_comments(text))
    last = text.rfind(">") + 1
    text = _TAG_RE.sub(" ", text[:last]) + text[last:]
    for ent, rep in _ENTITIES:
        text = text.replace(ent, rep)
    # \s is str.isspace on every code point, so split() is the collapse
    return truncate_to_char_boundary(" ".join(text.split()))


_META_LANG_RE = re.compile(
    r"<html\b[^>]*?\blang\s*=\s*[\"']([A-Za-z-]{2,16})[\"']", re.IGNORECASE
)


def meta_lang_tag(html: bytes | str) -> str | None:
    """Declared <html lang="..."> tag, lowercased (shebang-parse analog,
    reference src/detectors/interpreters.rs:8-59 — reads only the head
    of the content)."""
    if isinstance(html, bytes):
        head = html[:2048].decode("utf-8", errors="replace")
    else:
        head = html[:2048]
    m = _META_LANG_RE.search(head)
    return m.group(1).lower() if m else None
