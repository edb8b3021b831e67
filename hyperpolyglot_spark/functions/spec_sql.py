"""DuckDB SQL for the label spec: the independent oracle of
py_signals/py_keep_drop (``keep_drop_sql``) and py_scrub
(``scrub_sql``).

Both queries read a ``documents`` relation with ``doc_id`` and ``text``
columns and are generated from the same dims the Python spec uses
(symbol and spaceless classes, stopword set, RULES, SCRUB_PATTERNS),
but evaluated by a different engine. tests/test_spec_functions.py
checks the spec against them column by column. ``WORDS`` is also the
word split of __spark_entry__.py's dedup oracles.
"""

from __future__ import annotations

WORDS = "list_filter(string_split_regex(text, '[ \\t\\n\\r]+'), x -> x <> '')"


def keep_drop_sql() -> str:
    """DuckDB form of the quality signals + rule ladder, generated from
    the SAME dims (symbol class, spaceless class, stopword set, RULES
    table) py_signals/py_keep_drop use — the spec's independent
    oracle. A NULL gated signal never fires its rule (CASE WHEN NULL
    falls through), matching py_keep_drop."""
    from hyperpolyglot_spark.functions.langdata import ALL_STOPWORDS
    from hyperpolyglot_spark.functions.langid import NORM_FROM, NORM_TO
    from hyperpolyglot_spark.functions.quality import (
        _HANGUL_PARTICLE_RE_S,
        _REP_CHAR_CAP,
        _REP_CHAR_N,
        _SPACELESS_CLASS,
        _SYMBOL_CLASS,
        RULES,
        SPACELESS_THRESHOLD,
    )

    # r6: same invisible-char normalization as py_signals
    # (langid.normalize_scoring_text) — DuckDB translate() deletes chars
    # beyond len(to) (SQL-standard rule)
    _nf, _nt = NORM_FROM, NORM_TO
    # Stopword membership as one substring probe: ' <w> ' occurs in
    # ' <stopwords joined by spaces> ' exactly when w is a stopword, since
    # no stopword is empty or holds a space and WORDS splits on spaces.
    # A list_contains over the 1,374 literals took 15.3 s, against 0.9 s,
    # on the 300 extracted pages of tests/test_spec_functions.py.
    # SQL-escape: the Afrikaans stopword 'n carries an apostrophe
    if not all(w and " " not in w for w in ALL_STOPWORDS):
        raise ValueError("a stopword is empty or holds a space")
    stops = " ".join(sorted(ALL_STOPWORDS)).replace("'", "''")
    ladder = "CASE"
    for rule_id, signal, op, _thr in RULES:
        if signal == "is_vendor_url":
            continue  # documents carry no url; the rule can't fire
        thr = repr(_thr)
        ladder += f" WHEN {signal} {op} {thr} THEN '{rule_id}'"
    ladder += " ELSE NULL END"
    return f"""
        WITH sig0 AS (
          SELECT doc_id,
                 length(text) AS n_chars,
                 len(w) AS n_words,
                 (length(text) - length(regexp_replace(text, '{_SYMBOL_CLASS}', '', 'g')))::DOUBLE
                   / greatest(length(text), 1) AS symbol_ratio,
                 CASE WHEN len(w) >= 3
                      THEN 1.0 - len(list_distinct([array_to_string(w[i:i+2], ' ')
                                                    for i in range(1, len(w) - 1)]))::DOUBLE
                                 / (len(w) - 2)
                      ELSE 0.0 END AS rep3_ratio,
                 len(list_filter(w, x -> instr(' {stops} ', ' ' || lower(x) || ' ') > 0
                                          OR regexp_matches(x, '{_HANGUL_PARTICLE_RE_S}')))::DOUBLE
                   / greatest(len(w), 1) AS stop_density,
                 (length(text) - length(regexp_replace(text, '{_SPACELESS_CLASS}', '', 'g')))::DOUBLE
                   / greatest(length(text), 1) AS spaceless_ratio,
                 substring(text, 1, {_REP_CHAR_CAP}) AS tc
          FROM (SELECT doc_id, text, {WORDS} AS w
                FROM (SELECT doc_id,
                             translate(text, '{_nf}', '{_nt}') AS text
                      FROM documents))
        ), sig AS (
          SELECT *,
                 spaceless_ratio > {SPACELESS_THRESHOLD} AS is_spaceless,
                 CASE WHEN spaceless_ratio > {SPACELESS_THRESHOLD} THEN NULL
                      ELSE n_chars::DOUBLE END AS n_chars_gated,
                 CASE WHEN spaceless_ratio > {SPACELESS_THRESHOLD}
                      THEN n_chars::DOUBLE ELSE NULL END AS n_chars_spaceless_gated,
                 CASE WHEN spaceless_ratio > {SPACELESS_THRESHOLD} THEN NULL
                      ELSE rep3_ratio END AS rep3_gated,
                 CASE WHEN spaceless_ratio <= {SPACELESS_THRESHOLD} THEN NULL
                      WHEN length(tc) >= {_REP_CHAR_N}
                      THEN 1.0 - len(list_distinct([substring(tc, i, {_REP_CHAR_N})
                                    for i in range(1, length(tc) - {_REP_CHAR_N - 1})]))::DOUBLE
                                 / (length(tc) - {_REP_CHAR_N - 1})
                      ELSE 0.0 END AS rep_char_gated,
                 CASE WHEN spaceless_ratio > {SPACELESS_THRESHOLD} THEN NULL
                      ELSE stop_density END AS stop_density_gated
          FROM sig0
        )
        SELECT doc_id,
               n_chars::BIGINT AS n_chars,
               n_words::BIGINT AS n_words,
               round(symbol_ratio, 6) AS symbol_ratio,
               round(rep3_ratio, 6) AS rep3_ratio,
               round(stop_density, 6) AS stop_density,
               round(spaceless_ratio, 6) AS spaceless_ratio,
               ({ladder}) IS NULL AS keep,
               {ladder} AS drop_rule
        FROM sig
    """


# Python's IGNORECASE matches 'ſ' for s and 'ı', 'İ' for i; RE2's 'i'
# flag does not, so the toxicity patterns spell those letters out.
# RE2's \b and \d stay ASCII-only, unlike Python's: a stem next to a
# non-ASCII letter or starting with 'ſ', or a card number in non-ASCII
# digits, still differs between the two engines.
_RE2_FOLD = str.maketrans({"s": "[sſ]", "i": "[iıİ]"})


def scrub_sql() -> str:
    """Sequential scrub rewrites + counts, generated from
    SCRUB_PATTERNS: count on the pre-rule text (like re.subn), then
    nest the replacement for the next rule."""
    from hyperpolyglot_spark.functions.scrub import SCRUB_PATTERNS

    expr = "text"
    counts = []
    for name, pat, rep in SCRUB_PATTERNS:
        ci = name.startswith("toxicity")
        if ci:
            pat = pat.translate(_RE2_FOLD)
        opts = "'gi'" if ci else "'g'"
        copts = ", 0, 'i'" if ci else ""
        counts.append(
            f"len(regexp_extract_all({expr}, '{pat}'{copts}))::INT"
            f" AS scrub_{name}"
        )
        expr = f"regexp_replace({expr}, '{pat}', '{rep}', {opts})"
    return (
        f"SELECT doc_id, {expr} AS scrubbed_text, {', '.join(counts)} "
        "FROM documents"
    )
