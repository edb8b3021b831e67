"""Rule-engine combinator tests (functions/rules.py, which the job's
heuristics stage runs) — transcribed from reference
heuristics.rs:74-171 (FIXTURES.md §5)."""

from hyperpolyglot_spark.functions.rules import (
    And,
    Negative,
    Or,
    Positive,
    Rule,
    apply_rules,
)


# --- rule engine combinators (heuristics.rs:74-171) --------------------
RULES = [
    Rule(("A",), Positive(r"^alpha")),
    Rule(("B",), Negative(r"beta")),
    Rule(("C",), And((Positive(r"see"), Positive(r"cee")))),
    Rule(("D",), And((Positive(r"dee"), Negative(r"nope")))),
    Rule(("E",), Or((Positive(r"ee!"), Positive(r"eh\?")))),
    Rule(("F", "G")),  # pattern-less default
]
CANDS = ["A", "B", "C", "D", "E", "F", "G"]


def test_positive_multiline_anchor():
    assert apply_rules(RULES, ["A"], "x\nalpha starts this line") == ["A"]
    assert apply_rules(RULES, ["A"], "not alpha anywhere at start") == []


def test_negative():
    assert apply_rules(RULES, ["B"], "clean text") == ["B"]
    assert apply_rules(RULES, ["B"], "contains beta here") == []


def test_and_of_positives():
    assert apply_rules(RULES, ["C"], "see and cee") == ["C"]
    assert apply_rules(RULES, ["C"], "only see") == []


def test_and_with_negative():
    assert apply_rules(RULES, ["D"], "dee yes") == ["D"]
    assert apply_rules(RULES, ["D"], "dee but nope") == []


def test_or():
    assert apply_rules(RULES, ["E"], "ee!") == ["E"]
    assert apply_rules(RULES, ["E"], "eh?") == ["E"]
    assert apply_rules(RULES, ["E"], "nah") == []


def test_default_rule_and_order():
    # first eligible matching rule wins; default always matches
    assert apply_rules(RULES, CANDS, "alpha") == ["A"]
    assert apply_rules(RULES, CANDS, "beta see cee") == ["C"]
    assert apply_rules(RULES, CANDS, "beta zzz") == ["F", "G"]


def test_rule_skipped_if_languages_not_subset():
    # heuristics.rs:53-57: rule eligible only if languages ⊆ candidates
    assert apply_rules(RULES, ["F"], "anything") == []  # F,G rule needs G too
    assert apply_rules(RULES, ["F", "G"], "anything") == ["F", "G"]


def test_no_rules_match_empty():
    assert apply_rules(RULES, [], "alpha") == []
