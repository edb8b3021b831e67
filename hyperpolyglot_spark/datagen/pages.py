"""Deterministic synthetic Common-Crawl-style ``pages`` table.

Schema per BASELINE.json input_hint:
    url:string, warc_ts:timestamp, html:binary, text:string, lang:string

Every row is a pure function of (seed, row_id) — generation is
embarrassingly parallel and identical whether produced driver-side
(pandas, for tests) or distributed (spark.range + mapInPandas, for
bench scale). ``text`` is extract_text(html) by construction, freezing
the byte-identical-extraction invariant into the data itself.

Strata (FIXTURES.md §1): clean prose per language (24 langs, en-heavy
Zipf-ish mix); too-short docs; high symbol-ratio; high-repetition; low
stopword-density gibberish; stopword-dense scrambled word salad that
only the perplexity rule catches; PII + toxicity hits;
vendor/boilerplate urls; Zipf-skewed hosts (exercises salting);
lang-hint url segments; declared/sloppy/absent <html lang> tags
(incl. ambiguous tags that exercise the combinator rule contexts); a
slice of invalid-UTF-8 html bytes.
"""

from __future__ import annotations

import datetime
import random

import pandas as pd

from ..functions.extract import extract_text
from ..functions.langdata import LANGUAGES, STOPWORDS, WORDS
from ..functions.langid import _lang_sep

# Host TLDs correlate with language (like the real web): unique-mapping
# TLDs, ambiguous multi-candidate TLDs, and neutral gTLDs. Host index is
# Zipf-skewed within each group — site0.* are hot hosts (skew stratum).
_UNIQUE_TLD = {"en": "uk", "de": "de", "fr": "fr", "it": "it",
               "nl": "nl", "zh": "cn", "es": "es", "pt": "pt",
               "sv": "se", "da": "dk", "fi": "fi", "pl": "pl",
               "cs": "cz", "ro": "ro", "hu": "hu", "tr": "tr",
               "ru": "ru", "el": "gr", "ja": "jp", "ko": "kr",
               "ar": "sa", "hi": "in", "id": "id", "vi": "vn",
               # round-3 breadth block. Not all of these resolve
               # uniquely in TLD_LANGS (.in carries 8 candidates, .ua
               # two) — those languages exercise the later cascade
               # stages instead, which is exactly the point.
               "no": "no", "uk": "ua", "bg": "bg", "sr": "rs",
               "hr": "hr", "sk": "sk", "sl": "si", "lt": "lt",
               "lv": "lv", "et": "ee", "he": "il", "fa": "ir",
               "ur": "pk", "bn": "bd", "ta": "lk", "te": "in",
               "ml": "in", "mr": "in", "th": "th", "ms": "my",
               "tl": "ph", "sw": "tz", "af": "za", "ca": "ad",
               "gl": "es", "eu": "es", "is": "is", "ga": "ie",
               "cy": "uk", "sq": "al", "mk": "mk", "az": "az",
               "kk": "kz", "ka": "ge", "hy": "am", "be": "by",
               # breadth block 2. Languages without an entry here fall
               # back to the neutral gTLDs (their TLD carries no
               # signal, so they exercise later cascade stages / the
               # classifier — the realistic shape for minority
               # languages on the web).
               "ne": "np", "pa": "in", "gu": "in", "kn": "in",
               "or": "in", "si": "lk", "km": "kh", "lo": "la",
               "my": "mm", "am": "et", "mn": "mn", "ky": "kg",
               "tg": "tj", "ps": "af", "mt": "mt", "lb": "lu",
               "fy": "frl", "fo": "fo", "br": "bzh", "ht": "ht",
               "yo": "ng", "ig": "ng", "ha": "ng", "so": "so",
               "sn": "zw", "rw": "rw", "mg": "mg", "uz": "uz",
               "tk": "tm", "ku": "krd", "la": "va"}
_AMBIG_TLD = {"en": ("ca", "in", "ie", "sg", "za"),
              "de": ("ch", "nl", "at"),
              "fr": ("ch", "be", "ca"),
              "it": ("ch",), "nl": ("be",), "zh": ("tw", "sg", "hk"),
              "es": ("es", "br", "ar", "mx"), "pt": ("pt", "br"),
              "sv": ("fi",), "fi": ("fi",), "ru": ("ua", "by", "kz"),
              "ar": ("ae", "eg"), "hi": ("in",), "cs": ("sk",),
              "no": ("no",), "uk": ("ua",), "be": ("by",),
              "sr": ("rs",), "hr": ("hr",), "sk": ("sk",),
              "ur": ("pk", "in"), "ta": ("lk", "in"),
              "te": ("in",), "ml": ("in",), "mr": ("in",),
              "bn": ("in",), "ms": ("sg",), "tl": ("ph",),
              "sw": ("ke",), "af": ("za",), "ga": ("ie",),
              "ka": ("ge",), "hy": ("am",), "az": ("az",),
              "kk": ("kz",), "gl": ("es",), "eu": ("es",)}
_NEUTRAL_TLD = ("com", "org", "net", "io")
_N_HOSTS = 16
_ZIPF_WEIGHTS = [1.0 / (i + 1) ** 1.2 for i in range(_N_HOSTS)]
_ZIPF_TOTAL = sum(_ZIPF_WEIGHTS)
_ZIPF_CDF = []
_acc = 0.0
for _w in _ZIPF_WEIGHTS:
    _acc += _w / _ZIPF_TOTAL
    _ZIPF_CDF.append(_acc)

_SLOPPY_TAGS = {"es": "iberian", "pt": "iberian", "de": "germanic",
                "nl": "germanic", "fr": "romance", "it": "romance",
                "sv": "scandinavian", "da": "scandinavian",
                "ru": "slavic", "pl": "slavic", "cs": "slavic",
                "zh": "cjk", "ja": "cjk", "ko": "cjk",
                # round-3 contexts: each tag is an ambiguous candidate
                # set backed by a combinator rule table (rules.py)
                "no": "nordic", "uk": "eastslavic", "be": "eastslavic",
                "bg": "balkanslavic", "mk": "balkanslavic",
                "sr": "balkan", "hr": "balkan", "sl": "southslavic",
                "sk": "czechoslovak", "lt": "baltic", "lv": "baltic",
                "et": "baltofinnic", "ms": "malay", "id": "malay",
                "ca": "iberia", "gl": "galaico", "eu": "iberiafull",
                "fa": "perso", "ur": "hindustani", "mr": "devanagari",
                "ta": "indic", "te": "indic", "ml": "indic",
                "bn": "indic", "tr": "turkic", "az": "azeri",
                "kk": "steppe", "af": "kaaps", "ga": "celtic",
                "cy": "brythonic", "he": "levantine", "is": "insular",
                "sw": "eastafrican", "tl": "philippine",
                "ka": "kartvelian", "hy": "transcaucasian"}

_PII_SNIPPETS = (
    "contact me at alice.smith@example.org for details",
    "call +1 555-234-5678 any time",
    "server logs show 192.168.10.42 repeatedly",
    "ssn on file 123-45-6789 do not share",
    "card 4111 1111 1111 1111 expires soon",
    "wire to DE44 5001 0517 5407 3249 31 before friday",
    "office line (212) 555-0143 after lunch",
    "node at 2001:0db8:85a3:0000:8a2e:0370:7334 timed out",
    "ship it to 742 Evergreen Terrace or 12 Baker Street instead",
)
_TOXIC_SNIPPETS = (
    "what the frak is this",
    "that gorram machine broke again",
    "this smeg happens every drokk time",
    "ignore that rusty clanker and its meatbag friends",
    "i will airlock you if this breaks again",
)

EPOCH = datetime.datetime(2024, 1, 1, tzinfo=datetime.timezone.utc)


def _pick_host(rng: random.Random, lang: str) -> str:
    # one global mega-host takes ~25% of all traffic (the hot-host skew
    # stratum that salting / url-hash partitioning must absorb)
    if rng.random() < 0.25:
        return "portal.example.com"
    roll = rng.random()
    opts = _AMBIG_TLD.get(lang, ())
    cc = _UNIQUE_TLD.get(lang)
    if cc is not None and (roll < 0.45 or (roll < 0.65 and not opts)):
        tld = cc
    elif opts and roll < 0.65:
        tld = opts[rng.randrange(len(opts))]
    else:
        tld = _NEUTRAL_TLD[rng.randrange(len(_NEUTRAL_TLD))]
    r = rng.random()
    idx = _N_HOSTS - 1
    for i, c in enumerate(_ZIPF_CDF):
        if r <= c:
            idx = i
            break
    return f"site{idx}.example.{tld}"


def _words(rng: random.Random, lang: str, n: int) -> list[str]:
    stop = STOPWORDS[lang]
    pool = WORDS[lang]
    out = []
    for _ in range(n):
        src = stop if rng.random() < 0.45 else pool
        out.append(src[rng.randrange(len(src))])
    return out


def gen_page(row_id: int, seed: int = 42) -> dict:
    """One deterministic page row. Pure function of (seed, row_id)."""
    rng = random.Random(f"pages:{seed}:{row_id}")
    lang = LANGUAGES[_weighted_lang(rng)]
    host = _pick_host(rng, lang)

    # strata roll (disjoint, deterministic shares)
    roll = rng.random()
    stratum = (
        "short" if roll < 0.06
        else "symbols" if roll < 0.11
        else "repetitive" if roll < 0.16
        else "gibberish" if roll < 0.20
        else "perplexed" if roll < 0.24
        else "vendor" if roll < 0.29
        else "clean"
    )

    # url ------------------------------------------------------------
    segs = []
    if stratum == "vendor":
        segs.append(rng.choice([
            "ads", "tracking", "wp-admin", "cdn-cgi",
            "wp-content/plugins", "googletagmanager", "phpmyadmin",
            "node_modules", "privacy-policy", "checkout",
        ]))
    if rng.random() < 0.30:  # lang-hint segment (stage-1 fixture)
        segs.append(rng.choice([lang, f"{lang}-{lang}"]))
    segs.append(f"page-{row_id}")
    url = f"https://{host}/" + "/".join(segs)

    # body -----------------------------------------------------------
    if stratum == "short":
        body_words = _words(rng, lang, rng.randint(3, 20))
    elif stratum == "repetitive":
        phrase = _words(rng, lang, 4)
        body_words = phrase * rng.randint(25, 60)
    elif stratum == "gibberish":
        body_words = [
            f"zx{rng.randrange(10_000)}q{rng.randrange(10_000)}"
            for _ in range(rng.randint(60, 200))
        ]
    elif stratum == "perplexed":
        # word salad that defeats every cheap rule (genuine stopwords
        # keep stop_density high, random words kill rep3) but scores
        # 20-50+ perplexity under the char-LM — the stratum only the
        # KenLM-style rule catches
        alphabet = "abcdefghijklmnopqrstuvwxyz"
        stop = STOPWORDS[lang]
        body_words = []
        for _ in range(rng.randint(120, 400)):
            if rng.random() < 0.45:
                body_words.append(stop[rng.randrange(len(stop))])
            else:
                body_words.append(
                    "".join(
                        rng.choice(alphabet)
                        for _ in range(rng.randint(4, 9))
                    )
                )
    else:
        body_words = _words(rng, lang, rng.randint(120, 700))

    if stratum == "symbols":
        body_words = [
            w + rng.choice(["!!!", "###", "$$$", "@@@", "%^&*"])
            for w in _words(rng, lang, rng.randint(60, 200))
        ]

    if stratum == "clean" and rng.random() < 0.15:
        body_words.extend(rng.choice(_PII_SNIPPETS).split(" "))
    if stratum == "clean" and rng.random() < 0.08:
        body_words.extend(rng.choice(_TOXIC_SNIPPETS).split(" "))

    # html -----------------------------------------------------------
    tag_roll = rng.random()
    if tag_roll < 0.55:
        lang_attr = f' lang="{lang}"'
    elif tag_roll < 0.70 and lang in _SLOPPY_TAGS:
        lang_attr = f' lang="{_SLOPPY_TAGS[lang]}"'
    else:
        lang_attr = ""

    # space-less scripts (zh/ja/th) join without separators, like real
    # web text — the quality rules are script-aware (quality.py
    # _SPACELESS_CLASS) and the LMs train on the same convention
    sep = _lang_sep(lang)
    paragraphs = "".join(
        f"<p>{sep.join(body_words[i:i + 40])}</p>"
        for i in range(0, len(body_words), 40)
    )

    html_str = (
        f'<html{lang_attr}><head><title>page {row_id}</title>'
        f"<style>body{{margin:0}}</style></head><body>"
        f'<nav><a href="/">home</a> | <a href="/about">about</a></nav>'
        f"<!-- generated row {row_id} -->"
        f'<script>window.track("{host}");</script>'
        f"{paragraphs}"
        f"<footer>&copy; 2024 {host}</footer></body></html>"
    )
    html = html_str.encode("utf-8")
    if rng.random() < 0.02:  # invalid-UTF-8 slice pins the decode policy
        html += b"<p>tail \xff\xfe bytes</p>"

    text = extract_text(html)
    ts = EPOCH + datetime.timedelta(seconds=row_id)
    return {
        "url": url,
        "warc_ts": ts,
        "html": html,
        "text": text,
        "lang": lang,
    }


# en-heavy mix with a long tail, like the web (normalized at import);
# the round-3 breadth languages each get weight 1 — a genuine long tail
_LANG_WEIGHTS = {
    "en": 28, "de": 7, "fr": 6, "es": 7, "it": 4, "pt": 4, "nl": 3,
    "zh": 5, "sv": 2, "da": 2, "fi": 2, "pl": 3, "cs": 2, "ro": 2,
    "hu": 2, "tr": 3, "ru": 5, "el": 2, "ja": 4, "ko": 3, "ar": 3,
    "hi": 3, "id": 3, "vi": 2,
}
_LANG_WEIGHTS.update({l: 1 for l in LANGUAGES if l not in _LANG_WEIGHTS})
_LANG_CDF = []
_wacc = 0.0
_wtotal = float(sum(_LANG_WEIGHTS[l] for l in LANGUAGES))
for _l in LANGUAGES:
    _wacc += _LANG_WEIGHTS[_l] / _wtotal
    _LANG_CDF.append(_wacc)


def _weighted_lang(rng: random.Random) -> int:
    r = rng.random()
    for i, c in enumerate(_LANG_CDF):
        if r <= c:
            return i
    return len(LANGUAGES) - 1


def gen_pages_pdf(n_rows: int, seed: int = 42, start: int = 0) -> pd.DataFrame:
    """Driver-side generation (tests / small fixtures)."""
    rows = [gen_page(i, seed) for i in range(start, start + n_rows)]
    pdf = pd.DataFrame(rows)
    pdf["warc_ts"] = pd.to_datetime(pdf["warc_ts"], utc=True).dt.tz_localize(None)
    return pdf


PAGES_SCHEMA = (
    "url string, warc_ts timestamp, html binary, text string, lang string"
)


ROWS_PER_PARTITION = 256


def pages_df(spark, n_rows: int, seed: int = 42):
    """Distributed generation: spark.range -> mapInPandas. Each task
    generates its id slice independently — the 100TB-scale path. About
    one partition per ROWS_PER_PARTITION rows, at most
    defaultParallelism: a row is gen_page(id, seed) whatever the
    partitioning, so the count only sizes the tasks."""
    partitions = max(
        1, min(spark.sparkContext.defaultParallelism, -(-n_rows // ROWS_PER_PARTITION))
    )

    def gen_batches(batches):
        for batch in batches:
            ids = batch["id"].tolist()
            rows = [gen_page(int(i), seed) for i in ids]
            pdf = pd.DataFrame(rows)
            pdf["warc_ts"] = pd.to_datetime(pdf["warc_ts"], utc=True).dt.tz_localize(None)
            yield pdf

    rng_df = spark.range(0, n_rows, 1, partitions)
    return rng_df.mapInPandas(gen_batches, schema=PAGES_SCHEMA)
