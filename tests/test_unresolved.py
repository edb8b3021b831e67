"""Unknown-language (unresolved) outcome: a page in none of the 102
languages is declined rather than given its nearest confusable.

The reference's `detect` returns None at zero candidates
(src/lib.rs:187-189); the cascade terminal used to force-argmax all 102
languages. These tests pin the three-stage gate (unknown script, NB
margin/abs noise, script coherence) and its wiring through the Python
spec and the fused pipeline."""

import pytest

from hyperpolyglot_spark.datagen.unknown import (
    ALIEN_LATIN,
    REAL_OOV_LATIN,
    RESOLVABLE_GIBBERISH,
    UNKNOWN_SCRIPT,
    fixture_rows,
)
from hyperpolyglot_spark.functions.langid import (
    classify_hashed_py,
    classify_margin_py,
    classify_or_none_py,
    default_hashed_model,
    known_script_ratio,
    script_letters,
    training_corpus,
)
from hyperpolyglot_spark.operators.cascade import detect_lang_py


def test_fixture_split_is_pinned():
    """Every UNKNOWN_SCRIPT and ALIEN_LATIN doc gates to None; any
    RESOLVABLE_GIBBERISH entry resolves. Gate drift (threshold or
    model changes) must move entries between the lists, not silently
    flip the frozen oracle."""
    m = default_hashed_model()
    for name, text in UNKNOWN_SCRIPT + ALIEN_LATIN:
        assert classify_or_none_py(text, None, m) is None, name
    for name, text in RESOLVABLE_GIBBERISH:
        assert classify_or_none_py(text, None, m) is not None, name


def test_real_oov_latin_outcomes_pinned():
    """Real out-of-universe languages in a KNOWN script — only the NB
    noise gate can fire. Per-doc outcomes pinned: gate drift that
    flips a false-negative into a catch (or vice versa) must update
    this table AND regenerate the frozen oracle."""
    m = default_hashed_model()
    expected = {
        "quechua": None,  # caught by the noise gate
        "samoan": "it",  # false-resolves: nearest Romance confusable
        "maori": "it",
        "wolof": "ms",  # nearest Austronesian confusable
        "hmong": "uz",
    }
    for name, text in REAL_OOV_LATIN:
        assert classify_or_none_py(text, None, m) == expected[name], name


def test_unknown_script_ratio():
    n, r = known_script_ratio(script_letters("ᏣᎳᎩ ᎦᏬᏂᎯᏍᏗ ᎠᏂᏴᏫᏯ"))
    assert n >= 10 and r < 0.5
    n, r = known_script_ratio(script_letters("plain english text here with many letters"))
    assert r == 1.0
    assert known_script_ratio(script_letters("12345 !!! ...")) == (0, 1.0)


def test_margin_agrees_with_argmax():
    """classify_margin_py's winner must equal classify_hashed_py's on every
    training doc and fixture doc — the gate never changes WHO wins,
    only whether the win is trusted."""
    m = default_hashed_model()
    texts = [t for _, t in training_corpus()[:50]]
    texts += [t for _, t in fixture_rows_texts()]
    for t in texts:
        lang, margin, top1, _ = classify_margin_py(t, None, m)
        assert lang == classify_hashed_py(t, None, m)
        assert margin >= 0.0


def fixture_rows_texts():
    return [(i, t) for i, _, t in fixture_rows()]


def test_pool_prose_never_gates():
    """In-universe natural prose from the pools must always resolve —
    the gate's false-positive guard."""
    m = default_hashed_model()
    for lang, text in training_corpus()[:200]:
        assert classify_or_none_py(text, None, m) is not None, (lang, text[:40])


def test_singleton_candidate_is_never_gated():
    """A singleton candidate list is resolved upstream of the
    classifier — the gate must pass it through even on alien text."""
    m = default_hashed_model()
    alien = UNKNOWN_SCRIPT[0][1]
    assert classify_or_none_py(alien, ["en"], m) == "en"


def test_detect_lang_py_unresolved_strategy():
    alien = UNKNOWN_SCRIPT[0][1]
    lang, strategy = detect_lang_py("https://example.com/page", alien, None)
    assert lang is None and strategy == "unresolved"


def test_cascade_unresolved_stratum():
    """Unknown-script and alien-Latin docs -> NULL lang, strategy
    'unresolved'; strata resolved upstream of the classifier are
    unaffected."""
    got = {
        url[-1]: detect_lang_py(url, text, meta)
        for url, text, meta in [
            ("https://example.com/a", UNKNOWN_SCRIPT[0][1], None),
            ("https://example.com/b", ALIEN_LATIN[0][1], None),
            ("https://example.de/c", "ein kleiner text über den markt", None),
            ("https://site.org/fr/d", "le marché est plein de gens", "fr"),
        ]
    }
    assert got["a"] == (None, "unresolved")
    assert got["b"] == (None, "unresolved")
    # .de TLD resolves upstream of the classifier — never gated
    assert got["c"][1] in ("tld", "heuristics", "meta", "classifier")
    assert got["c"][0] is not None
    assert got["d"] == ("fr", "urlhint")


def test_pipeline_label_unresolved():
    """py_label_page end-to-end on an unknown-script page: NULL lang,
    'unresolved' strategy, no perplexity drop (unknown lang has no LM),
    quality rules still apply independently."""
    from hyperpolyglot_spark.plans.pipeline import py_label_page

    body = (UNKNOWN_SCRIPT[0][1] + " ") * 20
    html = f"<html><body><p>{body}</p></body></html>".encode()
    row = py_label_page("https://example.com/x", html)
    assert row["lang_pred"] is None
    assert row["strategy"] == "unresolved"
    assert row["perplexity"] is None


def test_known_script_ratio_letters_only():
    """Numerator counts LETTERS inside the known ranges only: the
    script classes contain non-alphabetic codepoints (Hebrew niqqud,
    Latin-1 ×/÷), so a raw class count can exceed n_alpha. The ratio
    must be in [0,1] and mark-heavy docs must not be inflated."""
    # hebrew with heavy niqqud (U+05B0-05BC are marks, not letters —
    # inside the hebrew range but not isalpha)
    marked = "שָׁלוֹם עוֹלָם טוֹב" * 5
    n_alpha, ratio = known_script_ratio(script_letters(marked))
    assert 0.0 <= ratio <= 1.0
    assert n_alpha == sum(c.isalpha() for c in marked)
    # pure math symbols inside the latin-1 range: × ÷ are NOT letters
    # — they contribute to neither side
    n2, r2 = known_script_ratio(script_letters("× ÷ × ÷ abcdefghij"))
    assert n2 == 10 and r2 == 1.0
    # decomposed korean (conjoining jamo, U+1100-11FF) counts as a
    # known script now
    import unicodedata

    jamo = unicodedata.normalize("NFD", "\ud55c\uad6d\uc5b4 \ud14d\uc2a4\ud2b8 ") * 10
    assert any(0x1100 <= ord(c) <= 0x11FF for c in jamo)
    n3, r3 = known_script_ratio(script_letters(jamo))
    assert n3 > 0 and r3 == 1.0


# ----------------------------------------------------------------------
# unresolved-stratum keep policy (round 5): the NULL-lang stratum
# bypasses the perplexity rule by construction (no lang -> no LM), so
# its disposition is an explicit policy, not a fall-through.
# ----------------------------------------------------------------------

def _policy_pages(spark):
    from hyperpolyglot_spark.datagen.pages import gen_pages_pdf

    pdf = gen_pages_pdf(80)
    # splice in unknown-script pages long enough to pass every cheap
    # rule — the stratum whose disposition the policy decides
    ts = pdf["warc_ts"].iloc[0].to_pydatetime()
    extra = []
    # kept-but-unresolved stratum: alien-Latin vocabulary (NB noise
    # gate) salted with stopwords of MANY languages so the quality
    # ladder passes (stop_density >= 0.05, rep3 low via digit
    # variation) while no single language wins the margin — the exact
    # least-evidence class whose disposition the policy decides
    alien = ALIEN_LATIN[0][1].split()
    stops = (
        "the der le el og en und los dans mit por och het dla ve bir "
        "na av til"
    ).split()
    for d in range(5):
        words = []
        for i in range(120):
            words.append(alien[(i + d) % len(alien)] + str((i + d) % 7))
            if i % 4 == 0:
                words.append(stops[(i + d) % len(stops)])
        body = " ".join(words)
        extra.append(
            (
                f"https://unknown.example/alien/{d}",
                ts,
                f"<html><body><p>{body}</p></body></html>".encode(),
            )
        )
    # plus unknown-script pages (dropped-unresolved class: repetition)
    for i, (name, text) in enumerate(UNKNOWN_SCRIPT[:2]):
        body = (text + " ") * 30
        extra.append(
            (
                f"https://unknown.example/{name}/{i}",
                ts,
                f"<html><body><p>{body}</p></body></html>".encode(),
            )
        )
    pages = spark.createDataFrame(pdf[["url", "warc_ts", "html"]])
    return pages.unionByName(
        spark.createDataFrame(
            extra, "url string, warc_ts timestamp, html binary"
        )
    )


@pytest.mark.parametrize("policy", ["keep", "drop", "quarantine"])
def test_pipeline_policy_matches_py_spec(spark, policy):
    """run_pipeline under each policy matches py_label_page row-for-row
    (keep, drop_rule) and the disposition column matches
    py_disposition."""
    from hyperpolyglot_spark.plans.pipeline import (
        py_disposition,
        py_label_page,
        run_pipeline,
    )

    pages = _policy_pages(spark)
    rows = {
        r["url"]: r.asDict()
        for r in run_pipeline(
            spark, pages, unresolved_policy=policy
        ).collect()
    }
    src = {r["url"]: bytes(r["html"]) for r in pages.collect()}
    n_unres = 0
    for url, html in src.items():
        o = py_label_page(url, html, unresolved_policy=policy)
        s = rows[url]
        assert (s["keep"], s["drop_rule"]) == (o["keep"], o["drop_rule"]), (
            policy, url, s["drop_rule"], o["drop_rule"],
        )
        assert s["disposition"] == py_disposition(
            o["keep"], o["lang_pred"], policy
        ), (policy, url)
        if o["lang_pred"] is None:
            n_unres += 1
            # the bypass: unresolved docs are never LM-scored
            assert s["perplexity"] is None
    assert n_unres >= 4  # the spliced stratum actually exercised


def test_policy_semantics(spark):
    """keep vs quarantine: identical labels, routing differs only for
    kept NULL-lang rows. drop: exactly those rows flip to
    (False, 'unresolved_lang'); everything else identical."""
    from hyperpolyglot_spark.plans.pipeline import (
        UNRESOLVED_DROP_RULE,
        run_pipeline,
    )

    pages = _policy_pages(spark)
    got = {}
    for policy in ("keep", "drop", "quarantine"):
        got[policy] = {
            r["url"]: r.asDict()
            for r in run_pipeline(
                spark, pages, unresolved_policy=policy
            ).collect()
        }
    quarantined = 0
    for url, k in got["keep"].items():
        q, d = got["quarantine"][url], got["drop"][url]
        assert (k["keep"], k["drop_rule"]) == (q["keep"], q["drop_rule"])
        if k["keep"] and k["lang_pred"] is None:
            quarantined += 1
            assert k["disposition"] == "kept"
            assert q["disposition"] == "quarantined"
            assert d["keep"] is False
            assert d["drop_rule"] == UNRESOLVED_DROP_RULE
            assert d["disposition"] == "dropped"
        else:
            assert (d["keep"], d["drop_rule"]) == (k["keep"], k["drop_rule"])
            assert d["disposition"] == k["disposition"] == q["disposition"]
    assert quarantined >= 4


def test_manifest_reports_unresolved_strata(spark, tmp_path):
    """The lineage manifest carries the stratum's disposition per
    bucket: quarantine -> unresolved_quarantined>0, unresolved_kept==0;
    drop -> unresolved_dropped counts it instead."""
    from hyperpolyglot_spark.plans.resume import run_with_resume

    pages = _policy_pages(spark)
    for policy, col in (
        ("quarantine", "unresolved_quarantined"),
        ("drop", "unresolved_dropped"),
    ):
        out = str(tmp_path / policy)
        run_with_resume(
            spark, pages, out, n_buckets=4, group_size=4,
            unresolved_policy=policy,
        )
        m = (
            spark.read.option("mergeSchema", "true")
            .parquet(f"{out}/_manifest")
            .groupBy()
            .sum("unresolved_kept", "unresolved_quarantined",
                 "unresolved_dropped")
            .collect()[0]
        )
        sums = {
            "unresolved_kept": m[0],
            "unresolved_quarantined": m[1],
            "unresolved_dropped": m[2],
        }
        assert sums[col] >= 4, (policy, sums)
        assert sums["unresolved_kept"] == 0, (policy, sums)
