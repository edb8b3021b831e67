"""Ordered disambiguation rule engine with Positive/Negative/And/Or
pattern combinators — reference src/detectors/heuristics.rs:7-72
re-expressed (tests mirror heuristics.rs:74-171).

Semantics:
  - rules are consulted in order, but a rule is ELIGIBLE only if all of
    its languages are among the current candidates (heuristics.rs:53-57);
  - the first eligible rule whose pattern matches returns its
    languages; a pattern-less rule matches unconditionally (the default
    rule — the `.h -> C` trick, codegen.rs:329-336);
  - no eligible rule matches -> [].

Patterns compile ONCE at table construction (the reference recompiles
PCRE per call, heuristics.rs:24-39 — SURVEY X7 says do better). All
patterns are MULTILINE ('^'/'$' per line, like the reference's
multi_line(true)).

This is the generic engine; the cascade's per-language marker stage
(operators/cascade.py) is its one-rule-per-language special case, and
the quality keep/drop table (functions/quality.py) is the same
first-match-wins shape over numeric signals.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field


class Pattern:
    def matches(self, content: str) -> bool:  # pragma: no cover
        raise NotImplementedError


@dataclass
class Positive(Pattern):
    pattern: str
    _rx: re.Pattern = field(init=False, repr=False)

    def __post_init__(self):
        self._rx = re.compile(self.pattern, re.MULTILINE)

    def matches(self, content: str) -> bool:
        return self._rx.search(content) is not None


@dataclass
class Negative(Pattern):
    pattern: str
    _rx: re.Pattern = field(init=False, repr=False)

    def __post_init__(self):
        self._rx = re.compile(self.pattern, re.MULTILINE)

    def matches(self, content: str) -> bool:
        return self._rx.search(content) is None


@dataclass
class And(Pattern):
    patterns: tuple

    def matches(self, content: str) -> bool:
        return all(p.matches(content) for p in self.patterns)


@dataclass
class Or(Pattern):
    patterns: tuple

    def matches(self, content: str) -> bool:
        return any(p.matches(content) for p in self.patterns)


@dataclass
class Rule:
    languages: tuple[str, ...]
    pattern: Pattern | None = None  # None = unconditional default


def apply_rules(
    rules: list[Rule], candidates: list[str], content: str
) -> list[str]:
    """heuristics.rs:46-72: first eligible matching rule wins."""
    for rule in rules:
        if not all(lang in candidates for lang in rule.languages):
            continue
        if rule.pattern is None or rule.pattern.matches(content):
            return list(rule.languages)
    return []


# ----------------------------------------------------------------------
# web-text disambiguation rule table (DISAMBIGUATIONS analog, keyed by
# the ambiguous candidate context instead of file extension)
# ----------------------------------------------------------------------

DISAMBIGUATION_RULES: dict[str, list[Rule]] = {
    # .es/.pt/.br TLD ambiguity
    "iberian": [
        Rule(("pt",), Positive(r"(?:^|\s)(?:não|você|também)(?:\s|$)")),
        Rule(("es",), Positive(r"(?:^|\s)(?:más|usted|también)(?:\s|$)")),
        Rule(("es", "pt")),  # default: stay ambiguous
    ],
    # .ch TLD
    "swiss": [
        Rule(("de",), And((Positive(r"(?:^|\s)und(?:\s|$)"),
                           Negative(r"(?:^|\s)het(?:\s|$)")))),
        Rule(("fr",), Positive(r"(?:^|\s)(?:les|avec)(?:\s|$)")),
        Rule(("it",), Positive(r"(?:^|\s)(?:della|perché)(?:\s|$)")),
    ],
    # .be TLD
    "benelux": [
        Rule(("nl",), Or((Positive(r"(?:^|\s)het(?:\s|$)"),
                          Positive(r"(?:^|\s)een(?:\s|$)")))),
        Rule(("fr",), Positive(r"(?:^|\s)(?:les|dans)(?:\s|$)")),
    ],
    # sloppy 'scandinavian' meta tag
    "scandinavian": [
        Rule(("da",), And((Positive(r"(?:^|\s)(?:og|af)(?:\s|$)"),
                           Negative(r"(?:^|\s)och(?:\s|$)")))),
        Rule(("sv",), Positive(r"(?:^|\s)(?:och|är|eftersom)(?:\s|$)")),
        Rule(("sv", "da")),  # default: stay ambiguous
    ],
    # .fi TLD (bilingual: Finnish/Swedish)
    "finnic": [
        Rule(("fi",), Positive(r"(?:^|\s)(?:että|myös|koska|on)(?:\s|$)")),
        Rule(("sv",), Positive(r"(?:^|\s)(?:och|är)(?:\s|$)")),
        Rule(("fi", "sv")),
    ],
    # .in TLD (Hindi/English)
    "india": [
        Rule(("hi",), Positive(r"[ऀ-ॿ]")),  # any devanagari char
        Rule(("en",), Positive(r"(?:^|\s)(?:the|with|they)(?:\s|$)")),
        Rule(("hi", "en")),
    ],
    # sloppy 'cjk' meta tag: script ranges disambiguate
    "cjk": [
        Rule(("ja",), Positive(r"[぀-ヿ]")),  # kana decides japanese
        Rule(("ko",), Positive(r"[가-힯]")),  # hangul decides korean
        Rule(("zh",), Positive(r"[的是了]")),
        Rule(("zh", "ja", "ko")),
    ],
}

_W = r"(?:^|\s)(?:%s)(?:\s|$)"  # word-boundary wrapper (both engines)


def _pos(*words: str) -> Positive:
    return Positive(_W % "|".join(words))


def _neg(*words: str) -> Negative:
    return Negative(_W % "|".join(words))


# Round-3 breadth: the extended context tables below push coverage from
# 7 to 90 candidate-set contexts (vs heuristics.yml's 69 per-key
# blocks, reference heuristics.yml:30-530; every multi-candidate TLD
# and CMS-group-tag set in the dims has a context). Shared-script
# pairs get
# word-level And/Or/Negative ladders; distinct-script members resolve
# on script ranges — the same Positive/Negative split the reference
# uses for e.g. .h (C/C++/ObjC) vs .es (Erlang/JavaScript).
DISAMBIGUATION_RULES.update({
    # Danish vs Norwegian Bokmål: 'af' is Danish, 'av' Norwegian
    "dano": [
        Rule(("no",), And((_pos("av", "fra", "språk"), _neg("af")))),
        Rule(("da",), _pos("af")),
        Rule(("da", "no")),
    ],
    "nordic": [
        Rule(("sv",), _pos("och", "är", "eftersom")),
        Rule(("no",), And((_pos("av", "fordi", "språk"), _neg("af")))),
        Rule(("da",), _pos("af", "ikke")),
        Rule(("sv", "da", "no")),
    ],
    "czechoslovak": [
        Rule(("sk",), _pos("sa", "aj", "pretože", "ľudia")),
        Rule(("cs",), _pos("se", "že", "protože")),
        Rule(("cs", "sk")),
    ],
    # Croatian (latin) vs Serbian (cyrillic): script decides; both-
    # scripts text prefers sr (the cyrillic presence is decisive)
    "balkan": [
        Rule(("sr",), Positive(r"[а-џ]")),
        Rule(("hr",), _pos("što", "kao", "jer", "vrijeme")),
        Rule(("hr", "sr")),
    ],
    "southslavic": [
        Rule(("sr",), Positive(r"[а-џ]")),
        Rule(("sl",), And((_pos("ki", "ker", "tudi"), _neg("što")))),
        Rule(("hr",), _pos("što", "kao", "jer")),
        Rule(("hr", "sr", "sl")),
    ],
    # East Slavic: і/ї/є Ukrainian, ў Belarusian, ы/ъ/э Russian
    "eastslavic2": [
        Rule(("uk",), Positive(r"[їєґ]")),
        Rule(("ru",), Positive(r"[ыъэ]")),
        Rule(("ru", "uk")),
    ],
    "eastslavic": [
        Rule(("be",), Positive(r"ў")),
        Rule(("uk",), Positive(r"[їєґ]")),
        Rule(("ru",), Positive(r"[ыъэ]")),
        Rule(("ru", "uk", "be")),
    ],
    # Bulgarian vs Macedonian: ѓ/ќ/ѕ are Macedonian-only, ъ Bulgarian
    "balkanslavic": [
        Rule(("mk",), Positive(r"[ѓќѕј]")),
        Rule(("bg",), Positive(r"[ъщ]")),
        Rule(("bg", "mk")),
    ],
    "baltic": [
        Rule(("lt",), Positive(r"[ėųį]")),
        Rule(("lv",), Positive(r"[ņļķāē]")),
        Rule(("lt", "lv")),
    ],
    "baltofinnic": [
        Rule(("et",), Or((_pos("sest", "või", "nagu"), Positive(r"õ")))),
        Rule(("fi",), _pos("että", "myös", "koska")),
        Rule(("et", "fi")),
    ],
    # Malay vs Indonesian: kerana/bandar/anda vs karena/kota/bisa
    "malay": [
        Rule(("ms",), _pos("kerana", "bandar", "kerajaan", "anda")),
        Rule(("id",), _pos("karena", "kota", "bisa", "pemerintah")),
        Rule(("ms", "id")),
    ],
    "iberia": [
        Rule(("ca",), _pos("amb", "és", "els", "perquè")),
        Rule(("gl",), _pos("unha", "xente", "goberno")),
        Rule(("es",), _pos("los", "más", "porque")),
        Rule(("es", "ca", "gl")),
    ],
    "iberiafull": [
        Rule(("eu",), _pos("eta", "dira", "baina", "ez")),
        Rule(("ca",), _pos("amb", "és", "els", "perquè")),
        Rule(("gl",), _pos("unha", "xente", "goberno")),
        Rule(("es",), _pos("los", "más", "porque")),
        Rule(("es", "ca", "gl", "eu")),
    ],
    # Galician vs Portuguese: 'non'/'unha' vs 'não'/'uma'
    "galaico": [
        Rule(("gl",), _pos("unha", "non", "xente")),
        Rule(("pt",), _pos("não", "uma", "você")),
        Rule(("gl", "pt")),
    ],
    # Arabic script family: Urdu-only letterforms, Persian-only letters,
    # then Arabic function words
    "arabicscript": [
        Rule(("ur",), Positive(r"[ٹڈڑہے]")),
        Rule(("fa",), Or((Positive(r"[پگچژ]"), _pos("است", "که", "را")))),
        Rule(("ar",), _pos("في", "من", "على")),
        Rule(("ar", "fa", "ur")),
    ],
    "perso": [
        Rule(("ur",), Positive(r"[ٹڈڑہے]")),
        Rule(("fa",), Or((Positive(r"[پگچژ]"), _pos("است", "که", "را")))),
        Rule(("fa", "ur")),
    ],
    # Hindustani: same language family, different scripts
    "hindustani": [
        Rule(("hi",), Positive(r"[ऀ-ॿ]")),
        Rule(("ur",), Positive(r"[؀-ۿ]")),
        Rule(("hi", "ur")),
    ],
    # Hindi vs Marathi share Devanagari: function words decide
    "devanagari": [
        Rule(("mr",), _pos("आहे", "आणि", "मध्ये")),
        Rule(("hi",), _pos("है", "और", "में")),
        Rule(("hi", "mr")),
    ],
    # .in ccTLD: the full Indian candidate set — scripts first, then
    # Devanagari word split, then English
    "india8": [
        Rule(("ta",), Positive(r"[஀-௿]")),
        Rule(("te",), Positive(r"[ఀ-౿]")),
        Rule(("ml",), Positive(r"[ഀ-ൿ]")),
        Rule(("bn",), Positive(r"[ঀ-৿]")),
        Rule(("ur",), Positive(r"[؀-ۿ]")),
        Rule(("mr",), _pos("आहे", "आणि", "मध्ये")),
        Rule(("hi",), Positive(r"[ऀ-ॿ]")),
        Rule(("en",), _pos("the", "with", "they")),
        Rule(("hi", "en")),
    ],
    "pakistan": [
        Rule(("ur",), Positive(r"[؀-ۿ]")),
        Rule(("en",), _pos("the", "with", "they")),
        Rule(("ur", "en")),
    ],
    "lanka": [
        Rule(("ta",), Positive(r"[஀-௿]")),
        Rule(("en",), _pos("the", "with", "they")),
        Rule(("ta", "en")),
    ],
    "singapore": [
        Rule(("zh",), Positive(r"[一-鿿]")),
        Rule(("ms",), _pos("kerana", "bandar", "yang", "dengan")),
        Rule(("en",), _pos("the", "with", "they")),
        Rule(("en", "zh", "ms")),
    ],
    # Turkish vs Azerbaijani: ə is Azerbaijani-only
    "turkic": [
        Rule(("az",), Positive(r"ə")),
        Rule(("tr",), _pos("ve", "için", "çünkü")),
        Rule(("tr", "az")),
    ],
    "steppe": [
        Rule(("kk",), Positive(r"[әңғүұқөһ]")),
        Rule(("ru",), _pos("что", "это", "потому")),
        Rule(("kk", "ru")),
    ],
    # Afrikaans vs Dutch: 'n is Afrikaans-only; double negative 'nie'
    "kaaps": [
        Rule(("af",), Or((_pos("'n"), And((_pos("nie"), _neg("niet")))))),
        Rule(("nl",), _pos("het", "een", "niet")),
        Rule(("af", "nl")),
    ],
    "celtic": [
        Rule(("ga",), _pos("agus", "tá", "ní", "ar")),
        Rule(("en",), _pos("the", "with", "they")),
        Rule(("en", "ga")),
    ],
    "brythonic": [
        Rule(("cy",), _pos("mae", "gyda", "oherwydd", "yn")),
        Rule(("en",), _pos("the", "with", "they")),
        Rule(("en", "cy")),
    ],
    "levantine": [
        Rule(("he",), Positive(r"[א-ת]")),
        Rule(("ar",), Positive(r"[؀-ۿ]")),
        Rule(("he", "ar")),
    ],
    "insular": [
        Rule(("is",), Positive(r"[þð]")),
        Rule(("da",), _pos("af", "ikke", "og")),
        Rule(("is", "da")),
    ],
    "eastafrican": [
        Rule(("sw",), _pos("kwa", "katika", "lakini", "ni")),
        Rule(("en",), _pos("the", "with", "they")),
        Rule(("sw", "en")),
    ],
    "philippine": [
        Rule(("tl",), _pos("ang", "mga", "ng", "hindi")),
        Rule(("en",), _pos("the", "with", "they")),
        Rule(("tl", "en")),
    ],
    "kartvelian": [
        Rule(("ka",), Positive(r"[ა-ჿ]")),
        Rule(("ru",), Positive(r"[а-я]")),
        Rule(("ka", "ru")),
    ],
    "transcaucasian": [
        Rule(("hy",), Positive(r"[ա-ֆ]")),
        Rule(("ru",), Positive(r"[а-я]")),
        Rule(("hy", "ru")),
    ],
    "azeri": [
        Rule(("az",), Or((Positive(r"ə"), _pos("və", "üçün")))),
        Rule(("ru",), Positive(r"[а-я]")),
        Rule(("az", "ru")),
    ],
})

# Round-3 (cont.): 31 further contexts (then 18 more for the
# 102-language universe below — 90 total vs heuristics.yml's 69
# per-key blocks). Distinct-script members resolve on a script-range
# Positive; shared-script pairs get And/Or/Negative stopword ladders.
_EN = _pos("the", "with", "they")

DISAMBIGUATION_RULES.update({
    "hellenic": [
        Rule(("el",), Positive(r"[Ͱ-Ͽ]")),
        Rule(("en",), _EN),
        Rule(("el", "en")),
    ],
    "siam": [
        Rule(("th",), Positive(r"[฀-๿]")),
        Rule(("en",), _EN),
        Rule(("th", "en")),
    ],
    "annam": [
        Rule(("vi",), Or((Positive(r"[ơưạềốộớở]"),
                          _pos("và", "của", "không")))),
        Rule(("en",), _EN),
        Rule(("vi", "en")),
    ],
    # Hungarian vs Romanian (Transylvania): ő/ű are Hungarian-only
    "pannonia": [
        Rule(("hu",), Or((Positive(r"[őű]"), _pos("és", "hogy", "nem")))),
        Rule(("ro",), Or((Positive(r"[șț]"), _pos("pentru", "este")))),
        Rule(("hu", "ro")),
    ],
    "eastromance": [
        Rule(("ro",), Or((Positive(r"[șță]"), _pos("și", "pentru")))),
        Rule(("it",), _pos("della", "perché", "che")),
        Rule(("ro", "it")),
    ],
    # Polish vs Czech: ł/ż Polish-only, ř/ě Czech-only
    "westslavic": [
        Rule(("pl",), Or((Positive(r"[łż]"), _pos("się", "jest")))),
        Rule(("cs",), Or((Positive(r"[řě]"), _pos("se", "že")))),
        Rule(("pl", "cs")),
    ],
    # Polish vs Ukrainian: script decides
    "galicia": [
        Rule(("uk",), Positive(r"[а-я]")),
        Rule(("pl",), And((_pos("się", "jest", "nie"),
                           Negative(r"[а-я]")))),
        Rule(("pl", "uk")),
    ],
    "illyrian": [
        Rule(("sq",), _pos("dhe", "për", "është")),
        Rule(("en",), _EN),
        Rule(("sq", "en")),
    ],
    "bengal": [
        Rule(("bn",), Positive(r"[ঀ-৿]")),
        Rule(("en",), _EN),
        Rule(("bn", "en")),
    ],
    "andhra": [
        Rule(("te",), Positive(r"[఑-౿]")),
        Rule(("en",), _EN),
        Rule(("te", "en")),
    ],
    "kerala": [
        Rule(("ml",), Positive(r"[ഀ-ൿ]")),
        Rule(("en",), _EN),
        Rule(("ml", "en")),
    ],
    "nippon": [
        Rule(("ja",), Positive(r"[぀-ヿ]")),
        Rule(("en",), _EN),
        Rule(("ja", "en")),
    ],
    "hanguk": [
        Rule(("ko",), Positive(r"[가-힯]")),
        Rule(("en",), _EN),
        Rule(("ko", "en")),
    ],
    "sino": [
        Rule(("zh",), Positive(r"[一-鿿]")),
        Rule(("en",), _EN),
        Rule(("zh", "en")),
    ],
    "runet": [
        Rule(("ru",), Positive(r"[а-я]")),
        Rule(("en",), _EN),
        Rule(("ru", "en")),
    ],
    "mashreq": [
        Rule(("ar",), Positive(r"[؀-ۿ]")),
        Rule(("en",), _EN),
        Rule(("ar", "en")),
    ],
    # Turkish vs English: dotless-ı/ğ/ş are Turkish-only
    "anatolia": [
        Rule(("tr",), Or((Positive(r"[ığş]"), _pos("ve", "için")))),
        Rule(("en",), _EN),
        Rule(("tr", "en")),
    ],
    "iran": [
        Rule(("fa",), Positive(r"[؀-ۿ]")),
        Rule(("en",), _EN),
        Rule(("fa", "en")),
    ],
    "israel": [
        Rule(("he",), Positive(r"[א-ת]")),
        Rule(("en",), _EN),
        Rule(("he", "en")),
    ],
    # Indonesian vs English: shared latin, stopwords decide
    "nusantara": [
        Rule(("id",), And((_pos("yang", "dengan", "untuk"),
                           _neg("the")))),
        Rule(("en",), _EN),
        Rule(("id", "en")),
    ],
    # German vs Dutch: ß German-only; het/een Dutch-only
    "rhine": [
        Rule(("de",), Or((Positive(r"ß"),
                          And((_pos("und"), _neg("het", "een")))))),
        Rule(("nl",), Or((_pos("het"), _pos("een")))),
        Rule(("de", "nl")),
    ],
    "alpine": [
        Rule(("fr",), _pos("les", "avec", "dans")),
        Rule(("it",), _pos("della", "perché", "che")),
        Rule(("fr", "it")),
    ],
    "pyrenees": [
        Rule(("es",), _pos("más", "usted", "pero")),
        Rule(("fr",), _pos("les", "avec", "dans")),
        Rule(("es", "fr")),
    ],
    "mediterranean": [
        Rule(("es",), _pos("más", "usted", "pero")),
        Rule(("it",), _pos("della", "perché", "che")),
        Rule(("es", "it")),
    ],
    "lusitalic": [
        Rule(("pt",), _pos("não", "você", "também")),
        Rule(("it",), _pos("della", "perché", "che")),
        Rule(("pt", "it")),
    ],
    # Estonian vs Finnish vs Swedish: õ Estonian-only
    "balticrim": [
        Rule(("et",), Positive(r"õ")),
        Rule(("fi",), _pos("että", "koska", "myös")),
        Rule(("sv",), _pos("och", "är")),
        Rule(("et", "fi", "sv")),
    ],
    "norse": [
        Rule(("is",), Positive(r"[þð]")),
        Rule(("no",), And((_pos("av", "fordi", "ikke"), _neg("af")))),
        Rule(("is", "no")),
    ],
    "aegean": [
        Rule(("el",), Positive(r"[Ͱ-Ͽ]")),
        Rule(("tr",), Or((Positive(r"[ığş]"), _pos("ve", "için")))),
        Rule(("el", "tr")),
    ],
    # .ca TLD (bilingual English/French)
    "laurentia": [
        Rule(("fr",), _pos("les", "avec", "dans")),
        Rule(("en",), _EN),
        Rule(("en", "fr")),
    ],
    # .za TLD: Afrikaans vs English
    "southafrica": [
        Rule(("af",), _pos("nie", "die", "van", "'n")),
        Rule(("en",), _EN),
        Rule(("af", "en")),
    ],
    # .by TLD: ў and і are Belarusian-only (vs Russian)
    "polesia": [
        Rule(("be",), Or((Positive(r"[ўі]"), _pos("гэта", "не")))),
        Rule(("ru",), _pos("что", "это", "потому")),
        Rule(("be", "ru")),
    ],
})

# Breadth block 2 (102-language universe): contexts for the new
# ambiguous TLD / CMS-group candidate sets. Distinct scripts resolve on
# a range Positive; same-script members get stopword ladders.
DISAMBIGUATION_RULES.update({
    # .in with the full 12-language candidate list: eight scripts plus
    # four same-script pairs (hi/mr devanagari, ur arabic, en latin)
    "india12": [
        Rule(("pa",), Positive(r"[਀-੿]")),
        Rule(("gu",), Positive(r"[઀-૿]")),
        Rule(("or",), Positive(r"[଀-୿]")),
        Rule(("kn",), Positive(r"[ಀ-೿]")),
        Rule(("ta",), Positive(r"[஀-௿]")),
        Rule(("te",), Positive(r"[ఀ-౿]")),
        Rule(("ml",), Positive(r"[ഀ-ൿ]")),
        Rule(("bn",), Positive(r"[ঀ-৿]")),
        Rule(("ur",), Positive(r"[ٹڈڑہے]")),
        Rule(("mr",), _pos("आहे", "आणि", "मध्ये")),
        Rule(("hi",), Positive(r"[ऀ-ॿ]")),
        Rule(("en",), _EN),
        Rule(("hi", "en")),  # default: the two dominant candidates
    ],
    "breizh": [
        Rule(("br",), _pos("ket", "gant", "evit")),
        Rule(("fr",), _pos("les", "avec", "dans")),
        Rule(("br", "fr")),
    ],
    "letzebuerg": [
        Rule(("lb",), _pos("awer", "tëschent", "vun")),
        Rule(("de",), Or((Positive(r"ß"), _pos("und", "nicht")))),
        Rule(("fr",), _pos("les", "avec", "dans")),
        Rule(("de", "fr", "lb")),
    ],
    "malta": [
        Rule(("mt",), Or((Positive(r"[ħġ]"), _pos("għal", "ħafna")))),
        Rule(("en",), _EN),
        Rule(("mt", "en")),
    ],
    "rwanda": [
        Rule(("rw",), _pos("ariko", "cyangwa", "hagati")),
        Rule(("en",), _EN),
        Rule(("rw", "en")),
    ],
    "lanka3": [
        Rule(("si",), Positive(r"[඀-෿]")),
        Rule(("ta",), Positive(r"[஀-௿]")),
        Rule(("en",), _EN),
        Rule(("si", "ta", "en")),
    ],
    "zimbabwe": [
        Rule(("sn",), _pos("uye", "kuti", "asi")),
        Rule(("en",), _EN),
        Rule(("sn", "en")),
    ],
    # .af: Pashto-only letters vs Persian-only letters
    "khorasan": [
        Rule(("ps",), Positive(r"[ګڼښړ]")),
        Rule(("fa",), Positive(r"[پچژگ]")),
        Rule(("ps", "fa")),
    ],
    "kreyol": [
        Rule(("ht",), _pos("nan", "mwen", "anpil")),
        Rule(("fr",), _pos("les", "avec", "dans")),
        Rule(("ht", "fr")),
    ],
    "madagascar": [
        Rule(("mg",), _pos("izay", "rehetra", "tsy")),
        Rule(("fr",), _pos("les", "avec", "dans")),
        Rule(("mg", "fr")),
    ],
    "friesland": [
        Rule(("fy",), _pos("yn", "wrâld", "binne")),
        Rule(("nl",), Or((_pos("het"), _pos("een")))),
        Rule(("fy", "nl")),
    ],
    # .ng: Yoruba tonal stopwords, Igbo dotted vowels, Hausa hooked
    # consonants
    "naija": [
        Rule(("yo",), _pos("àti", "jẹ́", "ṣùgbọ́n")),
        Rule(("ig",), Or((Positive(r"[ịụ]"), _pos("nke", "mana")))),
        Rule(("ha",), Or((Positive(r"[ɓɗƙ]"), _pos("amma", "kuma")))),
        Rule(("yo", "ig", "ha")),
    ],
    # .va: Latin function words vs Italian function words
    "latium": [
        Rule(("la",), _pos("est", "quod", "sed")),
        Rule(("it",), _pos("della", "perché", "che")),
        Rule(("la", "it")),
    ],
    "kirghiz": [
        Rule(("ky",), _pos("жана", "менен", "анткени")),
        Rule(("ru",), _pos("что", "это", "потому")),
        Rule(("ky", "ru")),
    ],
    "pamir": [
        Rule(("tg",), Positive(r"[ҷӣӯ]")),
        Rule(("ru",), _pos("что", "это", "потому")),
        Rule(("tg", "ru")),
    ],
    # .uz: script decides (Uzbek is Latin-script, Russian Cyrillic)
    "turkestan": [
        Rule(("uz",), _pos("uchun", "bilan", "emas")),
        Rule(("ru",), Positive(r"[а-я]")),
        Rule(("uz", "ru")),
    ],
    # sloppy 'slavic' CMS tag: Cyrillic decides ru; ł/ż vs ř/ě split
    # the Latin pair
    "slavic3": [
        Rule(("ru",), Positive(r"[а-я]")),
        Rule(("pl",), Or((Positive(r"[łż]"), _pos("się", "jest")))),
        Rule(("cs",), Or((Positive(r"[řě]"), _pos("se", "že")))),
        Rule(("ru", "pl", "cs")),
    ],
    # sloppy 'romance' CMS tag
    "romance4": [
        Rule(("pt",), _pos("não", "você", "também")),
        Rule(("es",), _pos("más", "usted", "pero")),
        Rule(("fr",), _pos("les", "avec", "dans")),
        Rule(("it",), _pos("della", "perché", "che")),
        Rule(("es", "fr", "it", "pt")),
    ],
})

# Dispatch: exact candidate-set -> rule table. The cascade consults the
# table for a known context and falls back to the per-language marker
# filter otherwise (operators/cascade.py). Keying on the EXACT set
# makes rule eligibility static (every rule's languages are within its
# context — asserted below).
RULE_CONTEXTS: dict[frozenset[str], str] = {
    frozenset(("es", "pt")): "iberian",
    frozenset(("de", "fr", "it")): "swiss",
    frozenset(("nl", "fr")): "benelux",
    frozenset(("sv", "da")): "scandinavian",
    frozenset(("fi", "sv")): "finnic",
    frozenset(("hi", "en")): "india",
    frozenset(("zh", "ja", "ko")): "cjk",
    frozenset(("da", "no")): "dano",
    frozenset(("sv", "da", "no")): "nordic",
    frozenset(("cs", "sk")): "czechoslovak",
    frozenset(("hr", "sr")): "balkan",
    frozenset(("hr", "sr", "sl")): "southslavic",
    frozenset(("ru", "uk")): "eastslavic2",
    frozenset(("ru", "uk", "be")): "eastslavic",
    frozenset(("bg", "mk")): "balkanslavic",
    frozenset(("lt", "lv")): "baltic",
    frozenset(("et", "fi")): "baltofinnic",
    frozenset(("ms", "id")): "malay",
    frozenset(("es", "ca", "gl")): "iberia",
    frozenset(("es", "ca", "gl", "eu")): "iberiafull",
    frozenset(("gl", "pt")): "galaico",
    frozenset(("ar", "fa", "ur")): "arabicscript",
    frozenset(("fa", "ur")): "perso",
    frozenset(("hi", "ur")): "hindustani",
    frozenset(("hi", "mr")): "devanagari",
    frozenset(("hi", "en", "ta", "te", "ml", "mr", "bn", "ur")): "india8",
    frozenset(("ur", "en")): "pakistan",
    frozenset(("ta", "en")): "lanka",
    frozenset(("en", "zh", "ms")): "singapore",
    frozenset(("tr", "az")): "turkic",
    frozenset(("kk", "ru")): "steppe",
    frozenset(("af", "nl")): "kaaps",
    frozenset(("en", "ga")): "celtic",
    frozenset(("en", "cy")): "brythonic",
    frozenset(("he", "ar")): "levantine",
    frozenset(("is", "da")): "insular",
    frozenset(("sw", "en")): "eastafrican",
    frozenset(("tl", "en")): "philippine",
    frozenset(("ka", "ru")): "kartvelian",
    frozenset(("hy", "ru")): "transcaucasian",
    frozenset(("az", "ru")): "azeri",
    frozenset(("el", "en")): "hellenic",
    frozenset(("th", "en")): "siam",
    frozenset(("vi", "en")): "annam",
    frozenset(("hu", "ro")): "pannonia",
    frozenset(("ro", "it")): "eastromance",
    frozenset(("pl", "cs")): "westslavic",
    frozenset(("pl", "uk")): "galicia",
    frozenset(("sq", "en")): "illyrian",
    frozenset(("bn", "en")): "bengal",
    frozenset(("te", "en")): "andhra",
    frozenset(("ml", "en")): "kerala",
    frozenset(("ja", "en")): "nippon",
    frozenset(("ko", "en")): "hanguk",
    frozenset(("zh", "en")): "sino",
    frozenset(("ru", "en")): "runet",
    frozenset(("ar", "en")): "mashreq",
    frozenset(("tr", "en")): "anatolia",
    frozenset(("fa", "en")): "iran",
    frozenset(("he", "en")): "israel",
    frozenset(("id", "en")): "nusantara",
    frozenset(("de", "nl")): "rhine",
    frozenset(("fr", "it")): "alpine",
    frozenset(("es", "fr")): "pyrenees",
    frozenset(("es", "it")): "mediterranean",
    frozenset(("pt", "it")): "lusitalic",
    frozenset(("et", "fi", "sv")): "balticrim",
    frozenset(("is", "no")): "norse",
    frozenset(("el", "tr")): "aegean",
    frozenset(("en", "fr")): "laurentia",
    frozenset(("af", "en")): "southafrica",
    frozenset(("be", "ru")): "polesia",
    frozenset(("hi", "en", "ta", "te", "ml", "mr", "bn", "ur",
               "pa", "gu", "kn", "or")): "india12",
    frozenset(("br", "fr")): "breizh",
    frozenset(("de", "fr", "lb")): "letzebuerg",
    frozenset(("mt", "en")): "malta",
    frozenset(("rw", "en")): "rwanda",
    frozenset(("si", "ta", "en")): "lanka3",
    frozenset(("sn", "en")): "zimbabwe",
    frozenset(("ps", "fa")): "khorasan",
    frozenset(("ht", "fr")): "kreyol",
    frozenset(("mg", "fr")): "madagascar",
    frozenset(("fy", "nl")): "friesland",
    frozenset(("yo", "ig", "ha")): "naija",
    frozenset(("la", "it")): "latium",
    frozenset(("ky", "ru")): "kirghiz",
    frozenset(("tg", "ru")): "pamir",
    frozenset(("uz", "ru")): "turkestan",
    frozenset(("ru", "pl", "cs")): "slavic3",
    frozenset(("es", "fr", "it", "pt")): "romance4",
}

for _fs, _key in RULE_CONTEXTS.items():
    for _rule in DISAMBIGUATION_RULES[_key]:
        assert set(_rule.languages) <= _fs, (_key, _rule.languages)
