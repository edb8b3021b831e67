"""The label front end is linear and equals its regex spec.

extract_text (forward scan) and py_scrub (guarded, linear email) are
held byte for byte to the regex oracles in tests/regex_oracles.py on
generated tag soup and PII-shaped text, and each hostile input family
that made the regex form quadratic is timed at two sizes."""

import time

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from hyperpolyglot_spark.functions.extract import extract_text
from hyperpolyglot_spark.functions.scrub import py_scrub
from tests.regex_oracles import regex_extract_text, regex_scrub

BLOCK_NAMES = ("script", "style", "nav", "header", "footer", "aside")
# every char sre's IGNORECASE lets stand for a name letter
LETTER_FORMS = {"i": "iIıİ", "s": "sSſ"}


def name_forms(name):
    return st.tuples(
        *(st.sampled_from(LETTER_FORMS.get(c, c + c.upper())) for c in name)
    ).map("".join)


NAMES = st.sampled_from(BLOCK_NAMES).flatmap(name_forms)
SOUP_ATOMS = st.one_of(
    st.sampled_from(
        ["<", ">", "/", "!", "-", "!--", "-->", "<!--", "</", "=", "'",
         "a", "x1", "_", "é", "&amp;", "&lt;", "&nbsp;"]
    ),
    # Unicode whitespace, '\s' and str.isspace alike
    st.sampled_from([" ", "\t", "\n", "\x0b", "\x1c", "\x85", "\xa0",
                     "\u2003", "\u3000"]),
    NAMES,
    NAMES.map(lambda n: f"<{n}"),
    NAMES.map(lambda n: f"</{n}>"),
)
TAG_SOUP = st.lists(SOUP_ATOMS, max_size=60).map("".join)


@settings(max_examples=600, deadline=None)
@given(TAG_SOUP)
def test_extract_equals_regex_oracle_on_tag_soup(html):
    assert extract_text(html) == regex_extract_text(html)


@settings(max_examples=300, deadline=None)
@given(TAG_SOUP, st.binary(max_size=40))
def test_extract_equals_regex_oracle_on_invalid_utf8(html, junk):
    raw = html.encode("utf-8")
    cut = len(junk) % (len(raw) + 1)
    b = raw[:cut] + junk + raw[cut:]
    assert extract_text(b) == regex_extract_text(b)


@pytest.mark.parametrize("name", BLOCK_NAMES)
def test_block_closer_follows_sre_backref(name):
    """The closer repeats the opener's name up to sre's simple
    per-char lowercase: 'İ' pairs with 'i', 'ı' and 'ſ' only with
    themselves. Every opener/closer spelling pair is checked."""
    forms = [""]
    for c in name:
        alts = LETTER_FORMS.get(c, c + c.upper())
        forms = [f + v for f in forms for v in alts]
    for o in forms:
        for c in forms:
            html = f"a<{o} x>b</{c} >c"
            assert extract_text(html) == regex_extract_text(html), (o, c)


@pytest.mark.parametrize(
    "html",
    [
        "<!--->a-->b",  # '-->' must start after '<!--'
        "<script <style>a</style>b</script>c",  # one block, to </script>
        "<script <style>a</style>b",  # no </script>: the style block goes
        "<nav>a<nav>b</nav>c</nav>d",  # nearest closer wins
        "<style>a</style\n\t >b<style>c",
    ],
)
def test_extract_equals_regex_oracle_on_edge_cases(html):
    assert extract_text(html) == regex_extract_text(html)


DIGIT_CLUSTERS = st.tuples(
    st.lists(st.text("0123456789", min_size=1, max_size=4), max_size=5),
    st.sampled_from([" ", ".", "-"]),
).map(lambda gs_sep: gs_sep[1].join(gs_sep[0]))
SCRUB_ATOMS = st.one_of(
    st.text("0123456789", min_size=1, max_size=4),
    DIGIT_CLUSTERS,
    st.sampled_from([" ", ".", "-", "+", "@", ":", "::", "(", ")", "%"]),
    st.sampled_from(["A", "DE", "Main", " Street", " St", "Ave", "fe80",
                     "x", "ab", "com", "\n"]),
    st.sampled_from(["frak", "Frakking", "gorram", "smeg", "felder",
                     "drokk", "clanker", "meatbags", "mudblood", "frag",
                     "airlock", "vaping", " you", " them"]),
    # stems as IGNORECASE also matches them: 'ſ' for s, 'ı' and 'İ' for
    # i, the Kelvin sign for k
    st.sampled_from(["ſmeg", "aİrlock", "skınjob", "fra\u212a",
                     "meatbagſ", "wİrehead"]),
)
PII_TEXT = st.lists(SCRUB_ATOMS, max_size=50).map("".join)


@settings(max_examples=600, deadline=None)
@given(PII_TEXT)
def test_scrub_equals_sequential_regex_oracle(text):
    assert py_scrub(text) == regex_scrub(text)


@pytest.mark.parametrize(
    "text",
    [
        # each digit rule at the fewest digits (or dots) it can match
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
    ],
)
def test_scrub_equals_oracle_on_each_rule(text):
    assert py_scrub(text) == regex_scrub(text)


KB = 1024


def _best_time(fn, arg, repeat=5):
    best = float("inf")
    for _ in range(repeat):
        t = time.perf_counter()
        fn(arg)
        best = min(best, time.perf_counter() - t)
    return best


@pytest.mark.parametrize(
    "fn,unit,tail",
    [
        (extract_text, "<script>x", ""),
        (extract_text, "<!--x", ""),
        (extract_text, "<a", ""),
        (extract_text, "<", ""),
        (py_scrub, "a", "@"),
        (py_scrub, "a.", "@"),
    ],
    ids=["script", "comment", "tag", "lt", "email_run", "email_dotted_run"],
)
def test_hostile_input_time_is_linear(fn, unit, tail):
    """80 KB of a family takes at most 16x its 10 KB time (quadratic
    growth would be 64x) and under 0.25 s."""

    def page(size):
        body = unit * (size // len(unit) + 1)
        return body[: size - len(tail)] + tail

    t_small = _best_time(fn, page(10 * KB))
    t_large = _best_time(fn, page(80 * KB))
    assert t_large < 0.25, t_large
    assert t_large <= 16 * t_small, (t_small, t_large)
