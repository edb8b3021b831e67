"""hyperpolyglot_spark — a from-scratch PySpark-native web-text engine.

Generalizes the staged-detection strategy of monkslc/hyperpolyglot
(/root/reference, Rust) into a language-ID + quality-filter +
PII/toxicity-scrub pipeline over Common-Crawl-style `pages` tables,
plus the near-dup operator (dedup) a large-scale training-data
pipeline needs.

Design stance (SURVEY.md §7.0): every stage is a pure
DataFrame -> DataFrame transform; static dimension data is compiled at
import (the codegen analog of reference src/bin/codegen.rs); UDFs are
Arrow-batched pandas UDFs only where built-ins can't express the
semantics; no custom Catalyst rules.
"""

__version__ = "0.1.0"
