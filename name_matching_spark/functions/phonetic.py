"""Metaphone-style phonetic canonicalization (north_star's
"soundex/double-metaphone-style canonicalization" blocking-key family;
reference's phonetic key is soundex, ``/root/reference/src/matcher.py:453-485``
— this is the finer-grained companion).

Design: ONE ordered rule table (``METAPHONE_RULES``) rendered to BOTH engines
— :func:`metaphone_key` folds it into Spark ``regexp_replace`` column
expressions, :func:`metaphone_sql` renders the identical fold as DuckDB SQL —
so the driver oracle and the engine cannot drift. Rules avoid everything the
two regex engines disagree on: no lookarounds (RE2 has none), no
backreferences in PATTERNS (RE2 has none); capture-group substitutions are
supported by both and the replacement syntax is translated per engine
(``$1`` Java / ``\\1`` RE2).

This is deliberately a *metaphone-style* code, not a bug-for-bug Lawrence
Philips implementation: the property that matters for blocking is that
spelling variants of the same sound collapse to one key (SMITH/SMYTH,
KNIGHT/NIGHT, PHILIP/FILIP, CATHERINE/KATHRYN — pinned in
tests/test_column_helpers.py). Scale shape: pure JVM string expressions
inside whole-stage codegen — no UDF, no shuffle; at 100 TB this is a
map-only key projection exactly like the soundex path.

:func:`soundex_key` is the reference soundex itself in the same shape,
bit-identical to the scalar ``core.similarity.soundex``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "METAPHONE_RULES",
    "metaphone_key",
    "metaphone_sql",
    "MAX_CODE_LEN",
    "NYSIIS_PREFIX_RULES",
    "NYSIIS_SUFFIX_RULES",
    "NYSIIS_BODY_RULES",
    "nysiis_key",
    "nysiis_sql",
    "NYSIIS_MAX_LEN",
    "soundex_key",
]

MAX_CODE_LEN = 8

# Ordered (pattern, replacement) pairs, applied top to bottom to the
# uppercased, letters-only input. Replacement uses Java syntax ($1);
# metaphone_sql() translates to RE2 (\1). ORDER IS SEMANTIC.
METAPHONE_RULES: list[tuple[str, str]] = [
    # --- initial-position silent letters ---
    ("^KN", "N"),
    ("^GN", "N"),
    ("^PN", "N"),
    ("^WR", "R"),
    ("^WH", "W"),
    ("^X", "S"),
    # --- terminal ---
    ("MB$", "M"),
    # --- digraphs before single-letter folds ---
    ("SCH", "SK"),
    ("TH", "0"),  # theta, metaphone's '0'
    # CH/SH encode as metaphone's X (the "sh" sound) — via the placeholder
    # '1', translated to X only AFTER the single-letter folds below, so the
    # ("X", "KS") fold (literal letter X) cannot rewrite them to KS
    ("CH", "1"),
    ("SH", "1"),
    ("PH", "F"),
    ("GH", "H"),
    ("DGE", "JE"),
    ("DGI", "JI"),
    ("DGY", "JY"),
    ("CK", "K"),
    # soft C / soft G (explicit pairs instead of C(?=[IEY]) — no lookahead)
    ("CE", "SE"),
    ("CI", "SI"),
    ("CY", "SY"),
    ("GE", "JE"),
    ("GI", "JI"),
    ("GY", "JY"),
    # --- single-letter folds (voiced -> unvoiced merges, double-metaphone
    # style) ---
    ("C", "K"),
    ("G", "K"),
    ("Q", "K"),
    ("X", "KS"),
    ("V", "F"),
    ("Z", "S"),
    ("D", "T"),
    ("B", "P"),
    ("1", "X"),  # CH/SH placeholder -> final sh-code (after X -> KS)
    # --- W/Y/H kept only when followed by a vowel ---
    ("W([^AEIOU])", "$1"),
    ("W$", ""),
    ("Y([^AEIOU])", "$1"),
    ("Y$", ""),
    ("H([^AEIOU])", "$1"),
    ("H$", ""),
]

# Letters that can appear in a finished code (for run collapsing).
_CODE_ALPHABET = "0FHJKLMNPRSTWXY" + "AEIOU"


def metaphone_key(col: Column, max_len: int = MAX_CODE_LEN) -> Column:
    """Metaphone-style code of ``col`` as a pure column expression.

    Pipeline: uppercase -> strip non-letters -> ordered METAPHONE_RULES ->
    drop non-initial vowels -> collapse letter runs -> truncate. NULL-safe
    (NULL -> '' -> '' key).
    """
    k = F.regexp_replace(F.upper(F.coalesce(col, F.lit(""))), "[^A-Z]", "")
    for pat, repl in METAPHONE_RULES:
        k = F.regexp_replace(k, pat, repl)
    # keep an initial vowel, drop the rest
    k = F.concat(
        F.substring(k, 1, 1), F.regexp_replace(F.substring(k, 2, 2147483647), "[AEIOU]", "")
    )
    # collapse runs per letter — RE2 has no (.)\1 backrefs, so one rule per
    # letter of the code alphabet (the reference's soundex oracle uses the
    # same chained-replace idiom)
    for ch in _CODE_ALPHABET:
        k = F.regexp_replace(k, f"{ch}{{2,}}", ch)
    return F.substring(k, 1, max_len)


# Reference soundex classes (``core.similarity._SOUNDEX_TABLE``): every
# consonant maps to its digit, and F.translate deletes the trailing
# AEIOUHWY because they have no replacement character.
_SOUNDEX_FROM = "BFPVCGJKQSXZDTLMNR" + "AEIOUHWY"
_SOUNDEX_TO = "111122222222334556"


def soundex_key(col: Column) -> Column:
    """Reference soundex (``core.similarity.soundex``, the oracle it must
    equal bit for bit) as a pure column expression.

    Pipeline: uppercase -> strip non-letters -> keep the first letter ->
    digit-code the rest, dropping vowels -> collapse runs of one digit ->
    pad to 4. A vowel between two equal codes does not reset the collapse
    (Tymczak -> T520), and the first letter never suppresses the first
    digit (Pfister -> P123), because vowels are deleted before collapsing
    and the first letter is not coded. NULL, empty and letter-less input ->
    ``"0000"``.
    """
    alpha = F.regexp_replace(F.upper(F.coalesce(col, F.lit(""))), "[^A-Z]", "")
    digits = F.translate(F.substring(alpha, 2, 2147483647), _SOUNDEX_FROM, _SOUNDEX_TO)
    collapsed = F.regexp_replace(digits, r"(.)\1+", "$1")
    code = F.substring(F.concat(F.substring(alpha, 1, 1), collapsed, F.lit("000")), 1, 4)
    return F.when(alpha == "", F.lit("0000")).otherwise(code)


def _sql_repl(repl: str) -> str:
    """Java replacement syntax -> RE2 (\\1 style)."""
    return repl.replace("$1", "\\1")


def metaphone_sql(expr: str, max_len: int = MAX_CODE_LEN) -> str:
    """The DuckDB rendition of :func:`metaphone_key` over SQL ``expr`` —
    generated from the SAME rule table so the two engines cannot diverge."""
    k = f"regexp_replace(upper(coalesce({expr}, '')), '[^A-Z]', '', 'g')"
    for pat, repl in METAPHONE_RULES:
        k = f"regexp_replace({k}, '{pat}', '{_sql_repl(repl)}', 'g')"
    k = (
        f"substr({k}, 1, 1) || "
        f"regexp_replace(substr({k}, 2), '[AEIOU]', '', 'g')"
    )
    for ch in _CODE_ALPHABET:
        k = f"regexp_replace({k}, '{ch}{{2,}}', '{ch}', 'g')"
    return f"substr({k}, 1, {max_len})"


def add_metaphone_keys(
    df: DataFrame, cols: dict[str, str]
) -> DataFrame:
    """Attach metaphone-code columns: ``cols`` maps source column ->
    output column name."""
    for src, out in cols.items():
        df = df.withColumn(out, metaphone_key(F.col(src)))
    return df


# ---------------------------------------------------------------------------
# NYSIIS-style code — second member of the phonetic family (same design
# contract as the metaphone above: ONE ordered rule table rendered to both
# engines; "style, not bug-for-bug" — the property that matters is that
# spelling variants collapse to one key, pinned in tests).
# ---------------------------------------------------------------------------

# Applied to the uppercased, letters-only input, top to bottom. ORDER IS
# SEMANTIC. RE2-safe: no lookarounds, no pattern backrefs.
NYSIIS_PREFIX_RULES: list[tuple[str, str]] = [
    ("^MAC", "MCC"),
    ("^KN", "NN"),
    ("^K", "C"),
    ("^PH", "FF"),
    ("^PF", "FF"),
    ("^SCH", "SSS"),
]
NYSIIS_SUFFIX_RULES: list[tuple[str, str]] = [
    ("EE$", "Y"),
    ("IE$", "Y"),
    ("DT$", "D"),
    ("RT$", "D"),
    ("RD$", "D"),
    ("NT$", "D"),
    ("ND$", "D"),
]
# body folds (classic NYSIIS position->2 transforms, applied to the rest
# after the first character is saved): EV before the vowel collapse;
# H adjacent to a consonant collapses into its neighbor (the classic
# "H becomes previous char" + run collapse is equivalent to dropping it);
# W after a vowel merges into the vowel.
NYSIIS_BODY_RULES: list[tuple[str, str]] = [
    ("EV", "AF"),
    ("[AEIOU]", "A"),
    ("Q", "G"),
    ("Z", "S"),
    ("M", "N"),
    ("KN", "N"),
    ("K", "C"),
    ("SCH", "SSS"),
    ("PH", "FF"),
    ("([^A])H", "$1"),
    ("H([^A])", "$1"),
    ("AW", "A"),
]
NYSIIS_MAX_LEN = 6
_NYSIIS_ALPHABET = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"


def nysiis_key(col: Column, max_len: int = NYSIIS_MAX_LEN) -> Column:
    """NYSIIS-style code as a pure column expression: prefix/suffix
    transforms -> save first char -> body folds on the rest -> collapse
    runs -> trailing S / AY -> Y / trailing A rules -> truncate.
    NULL-safe (NULL -> '')."""
    k = F.regexp_replace(F.upper(F.coalesce(col, F.lit(""))), "[^A-Z]", "")
    for pat, repl in NYSIIS_PREFIX_RULES:
        k = F.regexp_replace(k, pat, repl)
    for pat, repl in NYSIIS_SUFFIX_RULES:
        k = F.regexp_replace(k, pat, repl)
    body = F.substring(k, 2, 2147483647)
    for pat, repl in NYSIIS_BODY_RULES:
        body = F.regexp_replace(body, pat, repl)
    k = F.concat(F.substring(k, 1, 1), body)
    for ch in _NYSIIS_ALPHABET:
        k = F.regexp_replace(k, f"{ch}{{2,}}", ch)
    k = F.regexp_replace(k, "S$", "")
    k = F.regexp_replace(k, "AY$", "Y")
    k = F.regexp_replace(k, "A$", "")
    return F.substring(k, 1, max_len)


def nysiis_sql(expr: str, max_len: int = NYSIIS_MAX_LEN) -> str:
    """DuckDB rendition of :func:`nysiis_key`, generated from the SAME
    rule tables so the engines cannot diverge."""
    k = f"regexp_replace(upper(coalesce({expr}, '')), '[^A-Z]', '', 'g')"
    for pat, repl in NYSIIS_PREFIX_RULES:
        k = f"regexp_replace({k}, '{pat}', '{_sql_repl(repl)}', 'g')"
    for pat, repl in NYSIIS_SUFFIX_RULES:
        k = f"regexp_replace({k}, '{pat}', '{_sql_repl(repl)}', 'g')"
    body = f"substr({k}, 2)"
    for pat, repl in NYSIIS_BODY_RULES:
        body = f"regexp_replace({body}, '{pat}', '{_sql_repl(repl)}', 'g')"
    k = f"substr({k}, 1, 1) || {body}"
    for ch in _NYSIIS_ALPHABET:
        k = f"regexp_replace({k}, '{ch}{{2,}}', '{ch}', 'g')"
    k = f"regexp_replace({k}, 'S$', '', 'g')"
    k = f"regexp_replace({k}, 'AY$', 'Y', 'g')"
    k = f"regexp_replace({k}, 'A$', '', 'g')"
    return f"substr({k}, 1, {max_len})"
