"""Freeze the label spec's expected outputs.

Two kinds of frozen output, both computed from the pure-Python spec
with no Spark:

- the language-ID tables in data/expected_sf0.01/ (classify_or_none_py,
  py_keep_drop, perplexity_py, py_disposition) over the sf0.01
  ``documents`` rows with doc_id < 100, the out-of-universe fixture,
  and the short-form and noisy-encoding strata;
  tests/test_expected_tables.py rebuilds and compares them;
- the label digest, data/label_digest.parquet: one 64-bit hash per
  (page, label field) of py_label_page's row over a fixed page set
  (``digest_runs``); tests/test_label_digest.py recomputes it with
  py_label_page, label_batch and run_pipeline.

A change to the spec that moves any of these labels fails Tier-1 until
the files are regenerated on purpose:  python tools/gen_expected.py
"""

from __future__ import annotations

import hashlib
import os
import random
import struct
import sys

import duckdb
import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SF = "/root/testdata/sf0.01"
OUT = os.path.join(ROOT, "data", "expected_sf0.01")
DIGEST = os.path.join(ROOT, "data", "label_digest.parquet")


def expected_langid_unresolved() -> pd.DataFrame:
    """classify_or_none_py (default hashed model, full universe) over
    doc_id<100 of documents plus the out-of-universe fixture and 30
    training-pool texts — the open-world terminal, including which
    fixture docs are unresolved (NULL lang_pred)."""
    from hyperpolyglot_spark.datagen.unknown import fixture_rows
    from hyperpolyglot_spark.functions.langid import (
        classify_or_none_py,
        default_hashed_model,
        training_corpus,
    )

    model = default_hashed_model()
    rows = duckdb.sql(
        f"SELECT doc_id, text FROM read_parquet('{SF}/documents.parquet') "
        "WHERE doc_id < 100 ORDER BY doc_id"
    ).fetchall()
    rows = (
        list(rows)
        + [(i, t) for i, _, t in fixture_rows()]
        + [(20_000 + i, t) for i, (_, t) in enumerate(training_corpus()[:30])]
    )
    out = []
    for doc_id, text in rows:
        pred = classify_or_none_py(text, [], model)
        out.append(
            (doc_id, pred, "unresolved" if pred is None else "classifier")
        )
    return pd.DataFrame(
        out, columns=["doc_id", "lang_pred", "strategy"]
    ).astype({"doc_id": "int64"})


def expected_langid_short_texts() -> pd.DataFrame:
    """classify_or_none_py over the short-form stratum (titles/queries,
    datagen/realtext.short_texts) — the frozen length-envelope spec,
    including which fragments the gate declines (NULL lang_pred -> NULL
    correct)."""
    from hyperpolyglot_spark.datagen.realtext import short_texts
    from hyperpolyglot_spark.functions.langid import (
        classify_or_none_py,
        default_hashed_model,
    )

    model = default_hashed_model()
    out = []
    for i, (lang, frags) in enumerate(sorted(short_texts().items())):
        for j, frag in enumerate(frags):
            pred = classify_or_none_py(frag, [], model)
            out.append(
                (
                    30_000 + 3 * i + j,
                    lang,
                    pred,
                    (pred == lang) if pred is not None else None,
                )
            )
    return pd.DataFrame(
        out, columns=["doc_id", "lang", "lang_pred", "correct"]
    ).astype({"doc_id": "int64"})


def expected_langid_noisy_texts() -> pd.DataFrame:
    """classify_or_none_py + py_keep_drop over the noisy-encoding
    stratum — the frozen per-row spec of the robustness behavior the
    floors in test_realtext pin in aggregate."""
    from hyperpolyglot_spark.datagen.realtext import noisy_texts
    from hyperpolyglot_spark.functions.langid import (
        classify_or_none_py,
        default_hashed_model,
    )
    from hyperpolyglot_spark.functions.quality import py_keep_drop

    model = default_hashed_model()
    out = []
    for doc_id, lang, variant, text in noisy_texts():
        keep, rule = py_keep_drop(text)
        pred = classify_or_none_py(text, [], model)
        out.append(
            (
                doc_id, lang, variant, pred, keep, rule,
                bool(keep and pred is not None and pred != lang),
            )
        )
    return pd.DataFrame(
        out,
        columns=[
            "doc_id", "lang", "variant", "lang_pred", "keep",
            "drop_rule", "kept_mislabel",
        ],
    ).astype({"doc_id": "int64"})


def expected_unresolved_disposition() -> pd.DataFrame:
    """Pure-python spec of the unresolved-language policy: classify with
    the gate, keep/drop ladder (no url -> vendor rule can't fire),
    perplexity rule with per-language thresholds (NULL lang -> no LM ->
    unscored, the documented bypass), then the disposition under the
    default quarantine policy and under the drop policy."""
    from hyperpolyglot_spark.datagen.unknown import fixture_rows
    from hyperpolyglot_spark.functions.langid import (
        classify_or_none_py,
        default_hashed_model,
        training_corpus,
    )
    from hyperpolyglot_spark.functions.perplexity import (
        default_ppl_model,
        perplexity_py,
        ppl_thresholds_for,
    )
    from hyperpolyglot_spark.functions.quality import MAX_PPL, py_keep_drop
    from hyperpolyglot_spark.plans.pipeline import py_disposition

    model = default_hashed_model()
    pm = default_ppl_model()
    thr = ppl_thresholds_for(pm)
    rows = duckdb.sql(
        f"SELECT doc_id, text FROM read_parquet('{SF}/documents.parquet') "
        "WHERE doc_id < 100 ORDER BY doc_id"
    ).fetchall()
    rows = (
        list(rows)
        + [(i, t) for i, _, t in fixture_rows()]
        + [(20_000 + i, t) for i, (_, t) in enumerate(training_corpus()[:30])]
    )
    out = []
    for doc_id, text in rows:
        pred = classify_or_none_py(text, [], model)
        keep, rule = py_keep_drop(text, "")
        ppl = None
        if keep:
            ppl = perplexity_py(text, pred, pm) if pred is not None else None
            if ppl is not None and ppl > thr.get(pred, MAX_PPL):
                keep, rule = False, "perplexity"
        disp_q = py_disposition(keep, pred, "quarantine")
        disp_d = "dropped" if (not keep or pred is None) else "kept"
        out.append((doc_id, pred, keep, rule, ppl is not None, disp_q, disp_d))
    return pd.DataFrame(
        out,
        columns=[
            "doc_id",
            "lang_pred",
            "keep",
            "drop_rule",
            "ppl_scored",
            "disposition",
            "disposition_if_drop",
        ],
    ).astype({"doc_id": "int64"})


def expected_tables() -> dict[str, pd.DataFrame]:
    """Every frozen table, by name (its file is ``OUT/<name>.parquet``)."""
    return {
        "langid_unresolved": expected_langid_unresolved(),
        "unresolved_disposition": expected_unresolved_disposition(),
        "langid_short_texts": expected_langid_short_texts(),
        "langid_noisy_texts": expected_langid_noisy_texts(),
    }


# ----------------------------------------------------------------------
# the label digest
# ----------------------------------------------------------------------

DIGEST_SEED = 7
N_COMPACT = 3000  # seed-7 compact pages, default policy
N_POLICY = 200  # the first compact pages again, under "keep" and "drop"
# ... with every compact row the spec leaves unresolved (lang_pred None),
# so the policies act; main() checks that the list is current
UNRESOLVED_ROWS = (
    281, 408, 412, 442, 643, 666, 760, 786, 979, 1165, 1393, 1422, 1427,
    1459, 1545, 1567, 1669, 1748, 1816, 1827, 1946, 2038, 2045, 2098,
    2149, 2236, 2301, 2311, 2497, 2567, 2604, 2668, 2975,
)
PADDED_EVERY = 30  # every 30th compact page again, padded
PAD_BYTES = 20_000
HOST_ROW = 6  # a kept English compact page that hosts embedded payloads
PPL_SWEEP_LANGS = ("en", "de", "fr", "ru")
PPL_SWEEP_WORDS = 300
# the hostile input families of tests/test_linear_front_end.py, as raw
# html and (the scrub families) embedded in the host page's prose
HOSTILE_UNITS = (
    ("script", "<script>x", ""),
    ("comment", "<!--x", ""),
    ("tag", "<a", ""),
    ("lt", "<", ""),
    ("email_run", "a", "@"),
    ("email_dotted_run", "a.", "@"),
)
HOSTILE_BYTES = 20_000
EDGE_HTML = (
    "<!--->a-->b",
    "<script <style>a</style>b</script>c",
    "<script <style>a</style>b",
    "<nav>a<nav>b</nav>c</nav>d",
    "<style>a</style\n\t >b<style>c",
)
SCRUB_PAYLOADS = (
    "card 1234567890123 ok",
    "ssn 123-45-6789 ok",
    "phone 1 212 555 0143 ok",
    "ip 1.2.3.4 ok",
    "call 555 0143 or 212.555.0143, ssn 123-45-6789, page 1234",
    "card 4111 1111 1111 1111 and 4111-1111-1111-1111!",
    "+1 212 555 0143 | 10.0.0.1 and 1.2.3 and 1.2.3.4.5",
    "office (020) 7946 0958; (12) 345-678",
    "house 1 Elm St ok",
    "12 Main Street and 3 Elm Rd, 7 Oak Way",
    "a.b@c.de.fgh@i.jk x@y mail: bob+x@ex-ample.org.",
    "fe80::1 std::f1 2001:db8::1 a:b:c:d:e",
    "ſmeg, aİrlock them, skınjobs and fra\u212aking",
    "wire DE44 5001 0517 5407 3249 31 and GB29NWBK60161331926819 today",
    "card ٤١١١ ١١١١ ١١١١ ١١١١ and é4111 1111 1111 1111",
)


def _insert(html: bytes, chunk: str) -> bytes:
    """``chunk`` inserted right before ``html``'s last ``</body>``."""
    cut = html.rindex(b"</body>")
    return html[:cut] + chunk.encode() + html[cut:]


def _pad(html: bytes, row_id: int) -> bytes:
    """``html`` with PAD_BYTES of script/style/nav/comment boilerplate
    before ``</body>``."""
    rng = random.Random(f"digest-pad:{row_id}")
    blocks, size = [], 0
    while size < PAD_BYTES:
        body = " ".join(f"v{rng.randrange(1000)}" for _ in range(150))
        blk = (
            f"<script>var x = '{body}';</script>",
            f"<style>.c {{ {body} }}</style>",
            f'<nav><a href="/x">{body}</a></nav>',
            f"<!-- {body} -->",
        )[rng.randrange(4)]
        blocks.append(blk)
        size += len(blk)
    return _insert(html, "".join(blocks))


def _prose_html(words: list[str], sep: str = " ") -> bytes:
    paras = "".join(f"<p>{sep.join(words[i:i + 40])}</p>" for i in range(0, len(words), 40))
    return f"<html><body>{paras}</body></html>".encode()


def _long_pages() -> list[tuple[str, bytes]]:
    """Pages over MAX_CHARS (too_long), plus English texts cut at
    exactly 40,000 and 40,001 chars (the rule is ``>``)."""
    from hyperpolyglot_spark.functions.langdata import STOPWORDS, WORDS
    from hyperpolyglot_spark.functions.langid import _lang_sep

    out = []
    for lang in ("en", "de", "ru", "zh"):
        rng = random.Random(f"digest-long:{lang}")
        words, size = [], 0
        while size < 42_000:
            src = STOPWORDS[lang] if rng.random() < 0.45 else WORDS[lang]
            words.append(src[rng.randrange(len(src))])
            size += len(words[-1]) + 1
        out.append((f"https://example.com/long-{lang}", _prose_html(words, _lang_sep(lang))))
        if lang == "en":
            text = " ".join(words)
            for n in (40_000, 40_001):
                cut = text[: n - 1] + "x"
                out.append((f"https://example.com/long-en-{n}", _prose_html([cut])))
    return out


def _ppl_sweep_pages() -> list[tuple[str, bytes]]:
    """Per language, a clean text turned into word salad one word at a
    time: the perplexities sweep from ~3 to ~20+, densely enough that a
    threshold moved by 0.1 flips a label. The url's language segment
    resolves the language (url hint)."""
    from hyperpolyglot_spark.functions.langdata import STOPWORDS, WORDS

    out = []
    for lang in PPL_SWEEP_LANGS:
        rng = random.Random(f"digest-ppl:{lang}")
        stop, pool, n = STOPWORDS[lang], WORDS[lang], PPL_SWEEP_WORDS
        clean = [rng.choice(stop if rng.random() < 0.45 else pool) for _ in range(n)]
        salad = [
            rng.choice(stop) if rng.random() < 0.45
            else "".join(rng.choice("abcdefghijklmnopqrstuvwxyz") for _ in range(rng.randint(4, 9)))
            for _ in range(n)
        ]
        order = rng.sample(range(n), n)
        words = list(clean)
        for k in range(n + 1):
            if k:
                words[order[k - 1]] = salad[order[k - 1]]
            out.append((f"https://example.com/{lang}/ppl-sweep-{k}", _prose_html(words)))
    return out


def _hostile_pages(host: bytes) -> list[tuple[str, bytes]]:
    out = []
    for name, unit, tail in HOSTILE_UNITS:
        body = (unit * (HOSTILE_BYTES // len(unit) + 1))[: HOSTILE_BYTES - len(tail)] + tail
        out.append((f"https://example.com/hostile/{name}", body.encode()))
        if tail:  # scrub families: in kept prose, so scrub sees them
            out.append((f"https://example.com/hostile/{name}-in-prose", _insert(host, f"<p>{body}</p>")))
    for i, html in enumerate(EDGE_HTML):
        out.append((f"https://example.com/edge/{i}", html.encode()))
    for i, payload in enumerate(SCRUB_PAYLOADS):
        out.append((f"https://example.com/scrub/{i}", _insert(host, f"<p>{payload}</p>")))
    return out


def digest_runs() -> list[tuple[str, str, bool, list[tuple[str, bytes]]]]:
    """The digest's page set as (case, policy, calibrated, pages): each
    run labels its (url, html) pages under one unresolved policy, with
    the calibrated per-language perplexity thresholds or, when
    ``calibrated`` is False, none (every language falls back to
    quality.MAX_PPL). (case, policy, url) is unique."""
    from hyperpolyglot_spark.datagen.pages import gen_page

    compact = [gen_page(i, DIGEST_SEED) for i in range(N_COMPACT)]
    pages = [(p["url"], p["html"]) for p in compact]
    padded = [(u, _pad(h, i)) for i, (u, h) in enumerate(pages) if i % PADDED_EVERY == 0]
    hostile = _hostile_pages(pages[HOST_ROW][1])
    policy = pages[:N_POLICY] + [pages[i] for i in UNRESOLVED_ROWS if i >= N_POLICY]
    return [
        ("compact", "quarantine", True, pages),
        ("compact", "keep", True, policy),
        ("compact", "drop", True, policy),
        ("padded", "quarantine", True, padded),
        ("too_long", "quarantine", True, _long_pages()),
        ("hostile", "quarantine", True, hostile),
        ("ppl_sweep_fallback", "quarantine", False, _ppl_sweep_pages()),
    ]


def label_hash(value) -> int:
    """A signed 64-bit hash of one label value, typed: None, bool, int,
    float (its exact IEEE-754 bits) and str hash apart."""
    if value is None:
        raw = b"n"
    elif isinstance(value, bool):
        raw = b"b1" if value else b"b0"
    elif isinstance(value, int):
        raw = b"i%d" % value
    elif isinstance(value, float):
        raw = b"f" + struct.pack("<d", value)
    elif isinstance(value, str):
        raw = b"s" + value.encode("utf-8", "surrogatepass")
    else:
        raise TypeError(f"unhashable label value {value!r} ({type(value).__name__})")
    return int.from_bytes(hashlib.blake2b(raw, digest_size=8).digest(), "little", signed=True)


def label_digest(rows) -> pd.DataFrame:
    """(case, policy, url, label row) tuples -> the digest frame: key
    columns, then one hash column per label field in label order."""
    from hyperpolyglot_spark.plans.pipeline import LABEL_FIELDS

    return pd.DataFrame(
        [(case, policy, url, *(label_hash(row[f]) for f in LABEL_FIELDS))
         for case, policy, url, row in rows],
        columns=["case", "policy", "url", *LABEL_FIELDS],
    )


def spec_label_rows(runs=None):
    """(case, policy, url, py_label_page row) over ``runs``
    (default: every digest run)."""
    from hyperpolyglot_spark.functions.langid import default_hashed_model
    from hyperpolyglot_spark.functions.perplexity import (
        default_ppl_model,
        ppl_thresholds_for,
    )
    from hyperpolyglot_spark.plans.pipeline import py_label_page

    model, pm = default_hashed_model(), default_ppl_model()
    thr = ppl_thresholds_for(pm)
    return [
        (case, policy, url, py_label_page(url, html, model, pm, thr if calibrated else {}, policy))
        for case, policy, calibrated, pages in (runs or digest_runs())
        for url, html in pages
    ]


def main():
    os.makedirs(OUT, exist_ok=True)
    for name, pdf in expected_tables().items():
        path = os.path.join(OUT, f"{name}.parquet")
        pdf.to_parquet(path, index=False)
        print(f"wrote {path} ({len(pdf)} rows)")
    rows = spec_label_rows()
    unresolved = tuple(
        i for i, (case, policy, _, row) in enumerate(rows[:N_COMPACT])
        if row["lang_pred"] is None
    )
    if unresolved != UNRESOLVED_ROWS:
        raise SystemExit(f"UNRESOLVED_ROWS is stale; the spec leaves these unresolved: {unresolved}")
    digest = label_digest(rows)
    digest.to_parquet(DIGEST, index=False)
    print(f"wrote {DIGEST} ({len(digest)} rows)")


if __name__ == "__main__":
    main()
