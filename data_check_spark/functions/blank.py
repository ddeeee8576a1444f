"""Tri-state blank semantics and text normalization.

The reference treats ``None`` / ``NaN`` / ``""`` / whitespace-only all as
"blank" (reference: dekispart.py:170,318,864; shared helper
innosite.py:481-490), and normalizes Japanese text by lowercasing and
stripping both half- and full-width spaces before keyword matching
(reference: cloud.py:601-612). These helpers pin one engine-wide convention;
rules that need a narrower gate say so explicitly in their spec.

All of this is pure ``Column`` algebra — JVM-side, inside whole-stage
codegen; no Python runs per row.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


# ONE explicit whitespace set shared by the engine, the DuckDB oracle SQL,
# and the pandas golden gate: ASCII \s plus NEL, NBSP, OGHAM, the Unicode
# space separators, LINE/PARA separators, NNBSP, MMSP, and full-width
# U+3000. Java's and RE2's \s are ASCII-only while Python's is Unicode —
# an enumerated class keeps all three engines byte-identical on inputs
# like a transcript that is only a no-break space.
WHITESPACE_CHARS = (
    "\t\n\x0b\f\r \u0085\u00a0\u1680"
    "\u2000\u2001\u2002\u2003\u2004\u2005\u2006\u2007\u2008\u2009\u200a"
    "\u2028\u2029\u202f\u205f\u3000"
)
WHITESPACE_CLASS = "[" + WHITESPACE_CHARS + "]"


def is_blank(c: Column | str) -> Column:
    """NULL, empty, or whitespace-only (incl. full-width U+3000, NBSP)."""
    col = _col(c)
    stripped = F.regexp_replace(col.cast("string"), WHITESPACE_CLASS + "+", "")
    return col.isNull() | (stripped == F.lit(""))


def is_present(c: Column | str) -> Column:
    return ~is_blank(c)


def bytes_differ(a: Column | str, b: Column | str) -> Column:
    """UTF-8 byte inequality with NULL coerced to '' (the engine-wide blank
    coercion): NULL vs '' compares equal, NULL vs 'text' differs. The
    transcript-match rule's predicate, evaluated in its one plan: the match
    branch of ``referential.fused_dim_checks``."""
    return F.encode(F.coalesce(_col(a), F.lit("")), "UTF-8") != F.encode(
        F.coalesce(_col(b), F.lit("")), "UTF-8"
    )


def norm_text(c: Column | str) -> Column:
    """Lowercase + strip half/full-width spaces (keyword-match normalizer)."""
    col = _col(c)
    return F.lower(F.regexp_replace(col.cast("string"), r"[ 　]", ""))


# Full-width ASCII block U+FF01..U+FF5E ↔ ASCII 0x21..0x7E (public Unicode
# correspondence; the reference folds widths before keyword matching,
# cloud.py:601-612 / constants.py width tables). U+3000 (ideographic
# space) folds to the ASCII space. Shared by the Column helper, the corpus
# operator, and the DuckDB oracle — one constant, three consumers.
WIDTH_ASCII_CHARS = "".join(chr(c) for c in range(0x21, 0x7F))
WIDTH_FULL_CHARS = "".join(chr(c) for c in range(0xFF01, 0xFF5F))


def fold_width(c: Column | str) -> Column:
    """Fold full-width ASCII (ＡＢＣ１２３) and U+3000 to half-width —
    a single JVM ``translate`` (char-for-char, whole-stage codegen)."""
    return F.translate(
        _col(c).cast("string"), WIDTH_FULL_CHARS + "　", WIDTH_ASCII_CHARS + " "
    )
