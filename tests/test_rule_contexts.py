"""Round-3 breadth: per-context decisive-sample tests for the 31
contexts added on top of the round-2 table (72 total vs the
reference's 69 heuristics.yml blocks). Each case is (context key,
text, expected languages); the last case per context exercises the
pattern-less default. Pure Python: the tables run only inside
operators/cascade.detect_lang_py, and the cascade cases below pin
which language each context resolves to at the heuristics stage."""

import pytest

from hyperpolyglot_spark.functions.rules import (
    DISAMBIGUATION_RULES,
    RULE_CONTEXTS,
    apply_rules,
)
from hyperpolyglot_spark.operators.cascade import detect_lang_py

CASES = [
    ("hellenic", "αυτό είναι ελληνικό κείμενο", ["el"]),
    ("hellenic", "the weather with them", ["en"]),
    ("hellenic", "1234 5678", ["el", "en"]),
    ("siam", "ภาษาไทยสวยงาม", ["th"]),
    ("siam", "the weather with them", ["en"]),
    ("annam", "tiếng việt của chúng tôi", ["vi"]),
    ("annam", "không có gì", ["vi"]),
    ("annam", "the weather report", ["en"]),
    ("pannonia", "és nem tudom hogy", ["hu"]),
    ("pannonia", "jól sikerült a műsor", ["hu"]),
    ("pannonia", "pentru că este bine", ["ro"]),
    ("eastromance", "și pentru toți", ["ro"]),
    ("eastromance", "della vita perché", ["it"]),
    ("westslavic", "żółta łódź", ["pl"]),
    ("westslavic", "se že ano", ["cs"]),
    ("westslavic", "řeka běží", ["cs"]),
    ("galicia", "це текст українською", ["uk"]),
    ("galicia", "to się jest nie", ["pl"]),
    ("illyrian", "dhe për të gjithë", ["sq"]),
    ("bengal", "বাংলা ভাষা", ["bn"]),
    ("andhra", "తెలుగు భాష", ["te"]),
    ("kerala", "മലയാളം ഭാഷ", ["ml"]),
    ("nippon", "これは日本語のテキストです", ["ja"]),
    ("hanguk", "한국어 텍스트입니다", ["ko"]),
    ("sino", "这是中文文本", ["zh"]),
    ("runet", "это русский текст", ["ru"]),
    ("mashreq", "هذا نص عربي", ["ar"]),
    ("anatolia", "bu bir türkçe metin ve daha fazlası", ["tr"]),
    ("iran", "این متن فارسی است", ["fa"]),
    ("israel", "זהו טקסט בעברית", ["he"]),
    ("nusantara", "teks yang ditulis dengan baik", ["id"]),
    ("nusantara", "the text with they", ["en"]),
    ("rhine", "die straße ist lang", ["de"]),
    ("rhine", "und so weiter", ["de"]),
    ("rhine", "het is een huis", ["nl"]),
    ("alpine", "dans les rues avec", ["fr"]),
    ("alpine", "della città perché", ["it"]),
    ("pyrenees", "más que usted pero", ["es"]),
    ("pyrenees", "avec les amis", ["fr"]),
    ("mediterranean", "usted pero más", ["es"]),
    ("mediterranean", "perché della vita", ["it"]),
    ("lusitalic", "você também não", ["pt"]),
    ("lusitalic", "che perché della", ["it"]),
    ("balticrim", "see on hõlpsasti võimalik", ["et"]),
    ("balticrim", "koska että myös", ["fi"]),
    ("balticrim", "och det är bra", ["sv"]),
    ("norse", "þetta er íslenska", ["is"]),
    ("norse", "av norge fordi ikke", ["no"]),
    ("aegean", "ελληνικά εδώ", ["el"]),
    ("aegean", "türkçe ve metin için", ["tr"]),
    ("laurentia", "dans les rues avec", ["fr"]),
    ("laurentia", "the road with them", ["en"]),
    ("southafrica", "dit is nie die einde van alles", ["af"]),
    ("southafrica", "the end with them", ["en"]),
    ("polesia", "гэта беларуская мова і не", ["be"]),
    ("polesia", "потому что это хорошо", ["ru"]),
    # 102-language universe contexts
    ("india12", "ਪੰਜਾਬੀ ਭਾਸ਼ਾ", ["pa"]),
    ("india12", "ગુજરાતી ભાષા", ["gu"]),
    ("india12", "ଓଡ଼ିଆ ଭାଷା", ["or"]),
    ("india12", "ಕನ್ನಡ ಭಾಷೆ", ["kn"]),
    ("india12", "தமிழ் மொழி", ["ta"]),
    ("india12", "यह हिंदी में है", ["hi"]),
    ("india12", "the text with them", ["en"]),
    ("india12", "12345", ["hi", "en"]),
    ("breizh", "n'eo ket brezhoneg gant an dud", ["br"]),
    ("breizh", "dans les rues avec", ["fr"]),
    ("letzebuerg", "awer et ass tëschent dem duerf", ["lb"]),
    ("letzebuerg", "die straße und so", ["de"]),
    ("letzebuerg", "dans les rues avec", ["fr"]),
    ("malta", "din hija ħaġa sabiħa", ["mt"]),
    ("malta", "the road with them", ["en"]),
    ("rwanda", "ariko cyangwa hagati yabyo", ["rw"]),
    ("lanka3", "සිංහල භාෂාව", ["si"]),
    ("lanka3", "தமிழ் மொழி", ["ta"]),
    ("lanka3", "the road with them", ["en"]),
    ("zimbabwe", "uye kuti asi zvakanaka", ["sn"]),
    ("khorasan", "دا ښار ډېر ښکلی دی", ["ps"]),
    ("khorasan", "این شهر بزرگ است", ["fa"]),
    ("kreyol", "mwen rete nan vil la anpil", ["ht"]),
    ("kreyol", "dans les rues avec", ["fr"]),
    ("madagascar", "izay tsy misy olona rehetra", ["mg"]),
    ("friesland", "dat is yn de wrâld", ["fy"]),
    ("friesland", "het is een huis", ["nl"]),
    ("naija", "àti pé ó dára", ["yo"]),
    ("naija", "ihe nke ọma mana ọ dị", ["ig"]),
    ("naija", "amma kuma yana da kyau ƙwarai", ["ha"]),
    ("latium", "sed quod est verum", ["la"]),
    ("latium", "della vita perché", ["it"]),
    ("kirghiz", "жана менен анткени жакшы", ["ky"]),
    ("kirghiz", "потому что это хорошо", ["ru"]),
    ("pamir", "ҷаҳон ва кӯҳҳо", ["tg"]),
    ("turkestan", "bu uchun yaxshi emas", ["uz"]),
    ("turkestan", "это русский текст", ["ru"]),
    ("slavic3", "это русский текст", ["ru"]),
    ("slavic3", "żółta łódź jest", ["pl"]),
    ("slavic3", "protože se řeka běží", ["cs"]),
    ("romance4", "você também não", ["pt"]),
    ("romance4", "más que usted pero", ["es"]),
    ("romance4", "dans les rues avec", ["fr"]),
    ("romance4", "della vita perché", ["it"]),
]


@pytest.mark.parametrize("key,text,expected", CASES)
def test_decisive_sample(key, text, expected):
    cands = sorted(
        next(fs for fs, k in RULE_CONTEXTS.items() if k == key)
    )
    assert apply_rules(DISAMBIGUATION_RULES[key], cands, text) == expected


def _assert_resolves_at_heuristics(cases):
    for url, text, meta, want_lang in cases:
        got = detect_lang_py(url, text, meta)
        assert got == (want_lang, "heuristics"), (url, got, want_lang)


def test_rule_engine_contexts_in_cascade():
    """The ordered combinator rule tables drive cascade stage 4: exact
    candidate-set contexts dispatch to And/Or/Negative rule ladders."""
    _assert_resolves_at_heuristics([
        # .ch -> {de,fr,it}: swiss table; de rule is And(+und, -het)
        ("https://site1.example.ch/p1", "alles und nichts hier", None, "de"),
        # de rule blocked by Negative(het) -> fr rule fires
        ("https://site1.example.ch/p2", "und het les amis dans", None, "fr"),
        # .fi -> {fi,sv}: fi word wins
        ("https://site1.example.fi/p3", "se on hyvä että tulit", None, "fi"),
        # .fi with swedish text -> sv
        ("https://site1.example.fi/p4", "det är bra och fint", None, "sv"),
        # .in -> {hi,en}: devanagari script rule
        ("https://site1.example.in/p5", "यह है एक परीक्षण", None, "hi"),
        ("https://site1.example.in/p6", "the test with words", None, "en"),
        # meta 'cjk' + neutral tld: kana -> ja, hangul -> ko, else zh
        ("https://site1.example.com/p7", "これ は てすと です", "cjk", "ja"),
        ("https://site1.example.com/p8", "이 것 은 테스트", "cjk", "ko"),
        ("https://site1.example.com/p9", "这是的测试没有空格", "cjk", "zh"),
        # meta 'scandinavian': da And(+og/af, -och)
        ("https://site1.example.com/p10", "det er og af huset", "scandinavian", "da"),
        ("https://site1.example.com/p11", "det och är huset", "scandinavian", "sv"),
    ])


def test_round3_rule_contexts_resolve():
    """Round-3 breadth contexts: each case resolves at the heuristics
    stage to the expected language."""
    _assert_resolves_at_heuristics([
        # dano: 'af' -> da, 'av' without 'af' -> no
        ("https://s.example.com/p1", "det er og af huset", "dano", "da"),
        ("https://s.example.com/p2", "det er av huset fra", "dano", "no"),
        # czechoslovak
        ("https://site1.example.sk/p3", "to je pretože sa robí aj", None, "sk"),
        ("https://site1.example.sk/p4", "to se dělá protože ano", None, "cs"),
        # balkan via meta: cyrillic -> sr, latin markers -> hr
        ("https://s.example.com/p5", "ово је питање за владу", "balkan", "sr"),
        ("https://s.example.com/p6", "to je pitanje jer kao što", "balkan", "hr"),
        # east slavic via .ua TLD: ї -> uk, ы -> ru
        ("https://site1.example.ua/p7", "це питання їжі та мови", None, "uk"),
        ("https://site1.example.ua/p8", "это вопрос языка и рынка", None, "ru"),
        # bulgarian vs macedonian via meta
        ("https://s.example.com/p9", "въпрос за държавата и пазара", "balkanslavic", "bg"),
        ("https://s.example.com/p10", "прашање за луѓето и јазикот", "balkanslavic", "mk"),
        # baltic via meta: ė/ų/į -> lt, ņ/ļ/ķ -> lv
        ("https://s.example.com/p11", "klausimas į žmonės ir kalbą", "baltic", "lt"),
        ("https://s.example.com/p12", "jautājums par valdību un ķīmiju", "baltic", "lv"),
        # malay vs indonesian via meta
        ("https://s.example.com/p13", "soalan kerana kerajaan di bandar", "malay", "ms"),
        ("https://s.example.com/p14", "pertanyaan karena pemerintah di kota", "malay", "id"),
        # .in ccTLD full india8 context: scripts decide
        ("https://site1.example.in/p15", "இது ஒரு கேள்வி மொழி", None, "ta"),
        ("https://site1.example.in/p16", "ఇది ఒక ప్రశ్న భాష", None, "te"),
        ("https://site1.example.in/p17", "ഇത് ഒരു ചോദ്യം ഭാഷ", None, "ml"),
        ("https://site1.example.in/p18", "এটা একটি প্রশ্ন ভাষা", None, "bn"),
        ("https://site1.example.in/p19", "आहे आणि मध्ये प्रश्न", None, "mr"),
        ("https://site1.example.in/p20", "यह है और में प्रश्न", None, "hi"),
        # turkic: ə -> az
        ("https://s.example.com/p21", "bu şəhər üçün sual", "turkic", "az"),
        ("https://s.example.com/p22", "bu şehir için soru ve cevap", "turkic", "tr"),
        # afrikaans vs dutch: 'n decides
        ("https://s.example.com/p23", "dit is 'n vraag oor taal", "kaaps", "af"),
        ("https://s.example.com/p24", "dit is een vraag het niet", "kaaps", "nl"),
        # hebrew vs arabic script split
        ("https://s.example.com/p25", "זו שאלה על שפה ועל זמן", "levantine", "he"),
        ("https://s.example.com/p26", "هذا سؤال في اللغة من السوق", "levantine", "ar"),
        # iberia 3-way
        ("https://s.example.com/p27", "és una pregunta amb els nens", "iberia", "ca"),
        ("https://s.example.com/p28", "é unha pregunta para a xente", "iberia", "gl"),
        ("https://s.example.com/p29", "es una pregunta porque los niños", "iberia", "es"),
    ])


def test_fixture_corpus_exercises_rule_contexts():
    """The generated corpus must reach a combinator context (stage 4)
    on at least five of its first 400 pages."""
    from hyperpolyglot_spark.datagen.pages import gen_page
    from hyperpolyglot_spark.functions.extract import meta_lang_tag
    from hyperpolyglot_spark.functions.metadata import (
        filter_candidates,
        meta_lang_candidates,
        tld_candidates,
        url_hint_lang,
    )

    hit = 0
    for i in range(400):
        r = gen_page(i)
        if url_hint_lang(r["url"]) is not None:
            continue
        cands = tld_candidates(r["url"])
        if len(cands) == 1:
            continue
        meta = meta_lang_tag(r["html"])
        cands = filter_candidates(cands, meta_lang_candidates(meta))
        if frozenset(cands) in RULE_CONTEXTS:
            hit += 1
    assert hit >= 5, hit


def test_every_context_has_reachable_outcome():
    """On neutral text every table either stays ambiguous via its
    default rule or returns [] (falls through to the classifier) —
    no table may raise or return languages outside its context."""
    for fs, key in RULE_CONTEXTS.items():
        out = apply_rules(DISAMBIGUATION_RULES[key], sorted(fs), "0 1 2")
        assert set(out) <= fs, key


def test_every_multicandidate_tld_has_context():
    from hyperpolyglot_spark.functions.langdata import TLD_LANGS

    for tld, langs in TLD_LANGS.items():
        if len(langs) > 1:
            assert frozenset(langs) in RULE_CONTEXTS, tld


def test_every_multicandidate_meta_tag_has_context():
    from hyperpolyglot_spark.functions.langdata import META_LANG_CANDS

    for tag, langs in META_LANG_CANDS.items():
        if len(langs) > 1:
            assert frozenset(langs) in RULE_CONTEXTS, tag


def test_all_dim_tables_reference_known_languages():
    """Referential integrity across every dimension table: a hint that
    emits a code outside LANGUAGES silently poisons lang_pred (caught
    live: 'br'->'br-fr', 'tk'->'tk-tm', 'la'->'la-va' — the
    locale-suffixed KEY written as the VALUE; the oracle shares the
    table, so only this test can see it)."""
    from hyperpolyglot_spark.functions.langdata import (
        LANGUAGES,
        META_LANG_CANDS,
        TLD_LANGS,
        URL_LANG_HINTS,
    )

    known = set(LANGUAGES)
    assert set(URL_LANG_HINTS.values()) <= known
    for tag, langs in META_LANG_CANDS.items():
        assert set(langs) <= known, tag
    for tld, langs in TLD_LANGS.items():
        assert set(langs) <= known, tld
    for fs in RULE_CONTEXTS:
        assert set(fs) <= known, fs
    # INTERPRETER_LANGS is deliberately NOT checked here: it is the
    # reference's shebang domain (programming-language names), a
    # separate universe from the web-pipeline natural-language codes.


def test_every_reachable_stage4_set_has_a_context():
    """Coverage audit (a context missing for a reachable set degrades
    silently, so completeness is checked, mirroring heuristics.yml's
    per-extension completeness): enumerate every candidate set that
    can reach stage 4 — each multi-language TLD entry, and each TLD
    set narrowed by each possible meta-tag candidate list — and assert
    it has a RULE_CONTEXTS entry, i.e. the cascade never silently
    falls back to the one-marker filter for a reachable context."""
    from hyperpolyglot_spark.functions.langdata import (
        META_LANG_CANDS,
        TLD_LANGS,
    )
    from hyperpolyglot_spark.functions.rules import RULE_CONTEXTS
    from hyperpolyglot_spark.operators.cascade import filter_candidates

    missing = set()
    for tld, cands in TLD_LANGS.items():
        s = list(cands)
        if len(s) > 1 and frozenset(s) not in RULE_CONTEXTS:
            missing.add((tld, "-", frozenset(s)))
        for meta, mc in META_LANG_CANDS.items():
            t = filter_candidates(s, list(mc))
            if len(t) > 1 and frozenset(t) not in RULE_CONTEXTS:
                missing.add((tld, meta, frozenset(t)))
    assert not missing, sorted(
        (tld, meta, sorted(fs)) for tld, meta, fs in missing
    )
