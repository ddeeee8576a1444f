"""Default rule catalog for a text-corpus (documents) table.

The documents-side counterpart of ``catalog_audio``: the same declarative
rule kinds (SURVEY.md §2.4 families — not-null, range, value-in-set, format,
cross-column consistency) pointed at the corpus schema
(doc_id, text, lang, source, n_chars). Compiled by the SAME compiler into
ONE projection pass (``rules.compiler.apply_row_rules`` with
``id_col="doc_id"``) — the rule engine is table-agnostic; only the catalog
changes.

All rules here are row-local so the catalog drops straight into a
``validate_job --rules`` file or a standalone scan; corpus-level checks
(uniqueness, dedup, drift) live in the operator modules and the driver
queries that exercise them.
"""

from __future__ import annotations

from data_check_spark.rules.spec import Rule, RuleCatalog

#: Languages the corpus release accepts (everything else is routed to a
#: language-specific pipeline first).
DEFAULT_LANG_WHITELIST = ["en", "es", "de", "fr"]

SOURCE_PATTERN = r"^src[0-9]{1,4}$"


def corpus_catalog() -> RuleCatalog:
    rules = [
        Rule("TEXT_NOT_NULL", "not_null", "text",
             name="document text must be present"),
        Rule("TEXT_MIN_CHARS", "range", "n_chars", {"min": 64},
             name="document must meet the minimum length"),
        Rule("LANG_WHITELIST", "value_in_set", "lang", {"allowed": DEFAULT_LANG_WHITELIST},
             name="language must be in the release whitelist"),
        Rule("SOURCE_FORMAT", "format", "source", {"pattern": SOURCE_PATTERN},
             name="source id must match the feed naming scheme"),
        Rule("CHARS_CONSISTENT", "cross_column", None,
             {"expr": "n_chars <> length(text)",
              "observed_expr": "cast(length(text) as string)"},
             name="the n_chars column must agree with the actual text length"),
    ]
    return RuleCatalog(rules)
