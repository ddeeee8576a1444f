"""PII detection / redaction over text columns — a training-data pipeline
stage the reference's forbidden-substring family generalizes to (keyword
scan with normalization, dekispart.py forbidden-keyword checks; here the
"keywords" are regex classes instead of literal lists).

Everything is built-in ``regexp_count`` / ``regexp_replace`` (JVM-side,
whole-stage codegen; no Python in the hot path). Patterns are restricted to
the Java∩RE2 common subset (no backrefs / lookarounds, ASCII ``\\b``) so the
DuckDB oracle evaluates the identical language.

Scale notes: pure narrow projection — no shuffle, column-pruned scan; at
100 TB this is IO-bound and embarrassingly parallel. Redaction order is
fixed (email → phone → ip) so the output is deterministic even where
classes could overlap.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Java∩RE2-portable patterns (ASCII word boundaries; no lookaround).
# IP octets are range-checked (0-255) so '999.999.999.999' is not redacted;
# dotted numerics with in-range parts (section/version numbers like 1.2.3.4)
# still match — excluding them needs lookbehind, which RE2 lacks, and
# over-redaction there is the safer failure mode for training text.
_OCTET = r"(?:25[0-5]|2[0-4]\d|1\d\d|[1-9]?\d)"
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("phone", r"\b\d{3}-\d{3}-\d{4}\b", "<PHONE>"),
    ("ip", rf"\b{_OCTET}\.{_OCTET}\.{_OCTET}\.{_OCTET}\b", "<IP>"),
]


def pii_counts(text: Column) -> list[Column]:
    """One ``n_<class>`` count column per PII class.

    Each class is counted on text with the PRIOR classes already tokenized
    (same order as :func:`redact`), so a span nested inside an earlier
    class — a phone-shaped local part in an email — counts once, as the
    class that consumes it, and the counts reconcile with the tokens in
    the redacted output."""
    cols: list[Column] = []
    cur = text
    for name, pat, token in PII_PATTERNS:
        cols.append(F.regexp_count(cur, F.lit(pat)).alias(f"n_{name}"))
        cur = F.regexp_replace(cur, pat, token)
    return cols


def redact(text: Column) -> Column:
    """Replace every PII match with its class token, in PII_PATTERNS order.

    Email first: an address can embed digits/dots that the looser ip/phone
    patterns would otherwise partially consume, which would make the result
    order-dependent. After email removal the phone and ip classes are
    disjoint (phone is dash-separated, ip dot-separated).
    """
    out = text
    for _, pat, token in PII_PATTERNS:
        out = F.regexp_replace(out, pat, token)
    return out


def pii_scan(df: DataFrame) -> DataFrame:
    """Per-document PII counts + md5 fingerprint of the redacted text.

    The fingerprint (not the redacted text itself) is the contract output:
    it proves byte-exact redaction without shipping the document back —
    at 10^9 docs the scan result stays ~40 bytes/row.
    """
    t = F.col("text")
    return df.select(
        F.col("doc_id"),
        *pii_counts(t),
        F.md5(F.encode(redact(t), "UTF-8")).alias("redacted_fp"),
    )
