"""JVM-side column helpers for similarity/standardization operators that
need no UDF (stay inside whole-stage codegen).

Affix-stripping regexes reproduce ``src/standardizer.py:63-119`` exactly
(property-tested against the scalar oracle); Jaccard reproduces
``src/matcher.py:453-485``; soundex similarity ``:434-450``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from name_matching_spark.functions.phonetic import soundex_key

__all__ = [
    "strip_name_prefixes",
    "strip_name_suffixes",
    "token_set_jaccard",
    "soundex_equal",
    "date_tolerance_score_ppm",
    "PREFIX_RE",
    "SUFFIX_RE",
]

# one leading honorific + following space; rest keeps its case; the
# reference then strip()s residual whitespace (src/standardizer.py:78-82).
# Dotted variants exist ONLY where the reference lists them ("mr." yes,
# "miss." no — src/standardizer.py:73-76); a single literal space follows,
# matching the startswith(prefix + " ") check exactly.
PREFIX_RE = r"(?i)^(?:(?:mr|mrs|ms|dr|prof|rev|hon|atty)\.?|miss) "

# one trailing generational/degree suffix preceded by a literal space
# ($-anchored, so overlapping alternatives like ii/iii resolve identically
# to the reference's endswith scan); dotted variants only for jr/sr/esq
# (src/standardizer.py:97-100 — no "ii."…"x.", "phd.", "md."); the dead
# ", suffix" branch of the reference is subsumed because ", x" ends
# with " x"
SUFFIX_RE = r"(?i) (?:(?:jr|sr|esq)\.?|ii|iii|iv|v|vi|vii|viii|ix|x|phd|md)$"


def strip_name_prefixes(col: Column) -> Column:
    """N3: remove one leading honorific (``standardizer.py:63-84``).
    Unmatched names pass through untouched (the reference only strips the
    remainder when a prefix matched)."""
    replaced = F.regexp_replace(col, PREFIX_RE, "")
    return F.when(replaced != col, F.trim(replaced)).otherwise(col)


def strip_name_suffixes(col: Column) -> Column:
    """N4: remove one trailing suffix, else one trailing comma
    (``standardizer.py:87-113``; the hardcoded test shim at :116-117 is not
    ported)."""
    stripped = F.regexp_replace(col, SUFFIX_RE, "")
    # the comma rule only fires when NO suffix matched (the reference
    # returns early on a suffix match, standardizer.py:104-113); unmatched
    # names pass through untouched
    matched = stripped != col
    return (
        F.when(matched, F.trim(stripped))
        .when(col.endswith(","), F.trim(col.substr(F.lit(1), F.length(col) - 1)))
        .otherwise(col)
    )


def token_set_jaccard(c1: Column, c2: Column) -> Column:
    """F7: token-set Jaccard over lowercase whitespace tokens as built-ins
    (``src/matcher.py:453-485``): both empty -> 1.0, one empty -> 0.0."""
    t1 = F.array_distinct(F.filter(F.split(F.lower(c1), r"\s+"), lambda x: x != ""))
    t2 = F.array_distinct(F.filter(F.split(F.lower(c2), r"\s+"), lambda x: x != ""))
    inter = F.size(F.array_intersect(t1, t2))
    union = F.size(F.array_union(t1, t2))
    both_empty = (F.coalesce(c1, F.lit("")) == "") & (F.coalesce(c2, F.lit("")) == "")
    one_empty = (F.coalesce(c1, F.lit("")) == "") | (F.coalesce(c2, F.lit("")) == "")
    both_ws = (union == 0)
    return (
        F.when(both_empty, 1.0)
        .when(one_empty, 0.0)
        .when(both_ws, 1.0)
        .otherwise(inter / union)
    )


def soundex_equal(c1: Column, c2: Column) -> Column:
    """F6: 1.0 iff reference soundex codes match (``src/matcher.py:434-450``)."""
    return F.when(soundex_key(c1) == soundex_key(c2), 1.0).otherwise(0.0)


def date_tolerance_score_ppm(d1: Column, d2: Column) -> Column:
    """Date-tolerance comparator (exact integer ppm): the standard ER
    refinement of plain birthdate equality. First match wins:
    equal 1.0; within 3 days 0.8; month/day transposition (same year) 0.7;
    same year+month 0.5; same year 0.3; else 0. Inputs are DATE columns;
    pure JVM date arithmetic (whole-stage codegen, no UDF)."""
    diff = F.abs(F.datediff(d1, d2))
    return (
        F.when(diff == 0, 1000000)
        .when(diff <= 3, 800000)
        .when(
            (F.year(d1) == F.year(d2))
            & (F.month(d1) == F.dayofmonth(d2))
            & (F.dayofmonth(d1) == F.month(d2)),
            700000,
        )
        .when((F.year(d1) == F.year(d2)) & (F.month(d1) == F.month(d2)), 500000)
        .when(F.year(d1) == F.year(d2), 300000)
        .otherwise(0)
    )
