"""Column-expression helpers == scalar oracle (affixes, Jaccard, soundex key)."""

import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from name_matching_spark.core import (
    jaccard_similarity,
    remove_name_prefixes,
    remove_name_suffixes,
    soundex,
    soundex_similarity,
)
from name_matching_spark.functions.columns import (
    soundex_equal,
    strip_name_prefixes,
    strip_name_suffixes,
    token_set_jaccard,
)
from name_matching_spark.functions.phonetic import soundex_key

AFFIX_PIECES = [
    "Mr", "mr.", "MRS", "Dr.", "Atty", "Juan", "Cruz", "Santos,", "Jr",
    "iii", "PhD", "x", "v", "", "miss", "esq.",
    # dotted forms the reference does NOT list (must pass through): these
    # catch regexes that over-generalize the optional dot
    "Miss.", "PhD.", "iii.", "md.", "x.",
]
name_strings = st.lists(st.sampled_from(AFFIX_PIECES), max_size=4).map(" ".join)


@settings(max_examples=30, deadline=None)
@given(st.lists(name_strings, min_size=1, max_size=30))
def test_affix_strip_matches_oracle(spark, strs):
    df = spark.createDataFrame([(s,) for s in strs], ["name"])
    rows = df.select(
        "name",
        strip_name_prefixes(F.col("name")).alias("p"),
        strip_name_suffixes(F.col("name")).alias("s"),
    ).collect()
    for r in rows:
        assert r["p"] == remove_name_prefixes(r["name"]), r["name"]
        assert r["s"] == remove_name_suffixes(r["name"]), r["name"]


def test_affix_golden(spark):
    df = spark.createDataFrame(
        [("Mr Juan Cruz",), ("Dr. Maria Santos",), ("Juan Cruz Jr",),
         ("Juan Cruz,",), ("Plain Name",)],
        ["name"],
    )
    rows = {r["name"]: r for r in df.select(
        "name",
        strip_name_prefixes(F.col("name")).alias("p"),
        strip_name_suffixes(F.col("name")).alias("s"),
    ).collect()}
    assert rows["Mr Juan Cruz"]["p"] == "Juan Cruz"
    assert rows["Dr. Maria Santos"]["p"] == "Maria Santos"
    assert rows["Juan Cruz Jr"]["s"] == "Juan Cruz"
    assert rows["Juan Cruz,"]["s"] == "Juan Cruz"
    assert rows["Plain Name"]["s"] == "Plain Name"


def test_affix_dotted_variants_match_reference(spark):
    """The reference lists dotted variants only for SOME affixes
    (src/standardizer.py:73-76, 97-100): 'Miss.' / 'PhD.' / 'III.' are NOT
    stripped, while 'Mr.' / 'Jr.' / 'Esq.' are."""
    df = spark.createDataFrame(
        [("Miss. Maria Santos",), ("Miss Maria Santos",), ("Mr. Juan Cruz",),
         ("Juan Cruz PhD.",), ("Juan Cruz PhD",), ("Juan Cruz Jr.",),
         ("Juan Santos III.",), ("Juan Santos III",), ("Juan Cruz Esq.",)],
        ["name"],
    )
    rows = {r["name"]: r for r in df.select(
        "name",
        strip_name_prefixes(F.col("name")).alias("p"),
        strip_name_suffixes(F.col("name")).alias("s"),
    ).collect()}
    for name, r in rows.items():
        assert r["p"] == remove_name_prefixes(name), name
        assert r["s"] == remove_name_suffixes(name), name
    # pin the headline divergences explicitly
    assert rows["Miss. Maria Santos"]["p"] == "Miss. Maria Santos"
    assert rows["Miss Maria Santos"]["p"] == "Maria Santos"
    assert rows["Mr. Juan Cruz"]["p"] == "Juan Cruz"
    assert rows["Juan Cruz PhD."]["s"] == "Juan Cruz PhD."
    assert rows["Juan Cruz PhD"]["s"] == "Juan Cruz"
    assert rows["Juan Cruz Jr."]["s"] == "Juan Cruz"
    assert rows["Juan Santos III."]["s"] == "Juan Santos III."
    assert rows["Juan Santos III"]["s"] == "Juan Santos"
    assert rows["Juan Cruz Esq."]["s"] == "Juan Cruz"


def test_token_set_jaccard(spark):
    df = spark.createDataFrame(
        [("Juan Cruz", "Juan Santos"), ("", ""), ("a", ""), ("Juan  Cruz", "cruz JUAN")],
        ["a", "b"],
    )
    rows = df.select("a", "b", token_set_jaccard(F.col("a"), F.col("b")).alias("j")).collect()
    for r in rows:
        assert r["j"] == pytest.approx(jaccard_similarity(r["a"], r["b"])), (r["a"], r["b"])


# letters whose uppercase is (or contains) ASCII (ß -> SS, ı -> I, ſ -> S),
# accented and non-Latin letters that strip away, a titlecase digraph,
# digits and punctuation
SOUNDEX_TRICKY = "ßıſéжǅ019 -'aeiouhwyBFPVCGJKQSXZDTLMNR"
SOUNDEX_EDGES = ["", None, "0123", "ß", "ı", "ſ", "é", "ж", "ǅ", "-a", "Tymczak"]


@settings(max_examples=60, deadline=None)
@given(st.lists(
    st.one_of(st.text(max_size=12), st.text(alphabet=SOUNDEX_TRICKY, max_size=12), st.none()),
    min_size=1, max_size=30,
))
def test_soundex_key_matches_oracle(spark, strs):
    """The JVM blocking key equals the scalar soundex oracle bit for bit
    (NULL keys like the empty string)."""
    strs = strs + SOUNDEX_EDGES
    df = spark.createDataFrame([(s,) for s in strs], "s string")
    got = [r["k"] for r in df.select(soundex_key(F.col("s")).alias("k")).collect()]
    assert got == [soundex(s or "") for s in strs]


def test_soundex_key_golden(spark):
    strs = ["Robert", "Tymczak", "Pfister", "Dela Cruz", "", "123", "A"]
    df = spark.createDataFrame([(s,) for s in strs], "s string")
    got = [r["k"] for r in df.select(soundex_key(F.col("s")).alias("k")).collect()]
    assert got == ["R163", "T520", "P123", "D426", "0000", "0000", "A000"]


def test_soundex_equal(spark):
    df = spark.createDataFrame([("Robert", "Rupert"), ("Robert", "Santos")], ["a", "b"])
    rows = df.select("a", "b", soundex_equal(F.col("a"), F.col("b")).alias("s")).collect()
    for r in rows:
        assert r["s"] == soundex_similarity(r["a"], r["b"])


def test_metaphone_golden_pairs(spark):
    """Spelling variants of one sound collapse to one key; the DuckDB
    rendition of the SAME rule table agrees bit-for-bit."""
    import duckdb

    from name_matching_spark.functions.phonetic import metaphone_key, metaphone_sql

    pairs = [
        ("Smith", "Smyth"), ("Knight", "Night"), ("Philip", "Filip"),
        ("Catherine", "Kathryn"), ("Wright", "Rite"), ("O'Brien", "Obrien"),
        ("Jackson", "Jaxon"),
        # CH/SH must land on the sh-code X (not KS): SHAW collides with
        # SHAH, not with SKAW-like spellings
        ("Shaw", "Shah"), ("Church", "Cherch"),
    ]
    names = sorted({n for p in pairs for n in p} | {"", "   ", "123", "Ng"})
    df = spark.createDataFrame([(n,) for n in names], "name string")
    got = {
        r["name"]: r["mp"]
        for r in df.select("name", metaphone_key(F.col("name")).alias("mp")).collect()
    }
    for a, b in pairs:
        assert got[a] == got[b] != "", (a, b, got[a], got[b])
    assert got[""] == got["   "] == got["123"] == ""

    con = duckdb.connect()
    con.execute("CREATE TABLE t(name VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?)", [(n,) for n in names])
    oracle = dict(con.execute(f"SELECT name, {metaphone_sql('name')} FROM t").fetchall())
    assert oracle == got


def test_metaphone_blocking_pass(spark):
    """The 'metaphone' blocking kind groups sound-alike surnames into one
    block and falls back to UNKNOWN|0000 on empty names."""
    from name_matching_spark.operators.blocking import add_blocking_key

    df = spark.createDataFrame(
        [("a", "juan", "smith", "juan smith"), ("b", "juan", "smyth", "juan smyth"),
         ("c", "", "", "")],
        ["record_id", "first_std", "last_std", "sorted_full"],
    )
    rows = {r["record_id"]: r["block_key"] for r in add_blocking_key(df, "metaphone").collect()}
    assert rows["a"] == rows["b"] == "J|SM0"
    assert rows["c"] == "UNKNOWN|0000"


def test_profile_columns_nulls_and_distinct(spark):
    from name_matching_spark.operators.profiling import profile_columns

    df = spark.createDataFrame(
        [(1, "ab", None), (2, "c", "x"), (3, "ab", "x")],
        "id long, s string, t string",
    )
    rows = {r.col_name: r for r in profile_columns(df, ["id", "s", "t"]).collect()}
    assert rows["id"].n_distinct == 3 and rows["id"].n_null == 0
    s = rows["s"]
    assert (s.n_distinct, s.min_val, s.max_val, s.sum_len, s.avg_len_ppm) == (
        2, "ab", "c", 5, 1666666)
    t = rows["t"]
    assert (t.n_null, t.n_distinct, t.avg_len_ppm) == (1, 1, 1000000)
    import pytest as _pt
    with _pt.raises(ValueError):
        profile_columns(df, [])


def test_date_tolerance_score_ppm(spark):
    from name_matching_spark.functions.columns import date_tolerance_score_ppm

    cases = [
        ("1990-05-10", "1990-05-10", 1000000),  # equal
        ("1990-05-10", "1990-05-12", 800000),   # within 3 days
        ("1990-04-03", "1990-03-04", 700000),   # month/day transposed
        ("1990-05-10", "1990-05-25", 500000),   # same month
        ("1990-05-10", "1990-11-02", 300000),   # same year
        ("1990-05-10", "1991-05-10", 0),        # nothing
        ("1990-01-02", "1990-02-01", 700000),   # transposed beats same-year
    ]
    df = spark.createDataFrame(cases, "a string, b string, want long")
    got = df.select(
        "want",
        date_tolerance_score_ppm(F.to_date("a"), F.to_date("b")).alias("got"),
    ).collect()
    for r in got:
        assert r.got == r.want


def test_nysiis_variants_collapse(spark):
    from name_matching_spark.functions.phonetic import nysiis_key

    pairs_same = [
        ("BROWN", "BRAUN"),
        ("PHILIP", "FILIP"),
        ("MACDONALD", "MCDONALD"),
        ("KNOWLES", "NOWLES"),
        ("STEPHEN", "STEVEN"),
    ]
    rows = [(a, b) for a, b in pairs_same]
    df = spark.createDataFrame(rows, "a string, b string")
    got = df.select(
        "a", "b",
        nysiis_key(F.col("a")).alias("ka"),
        nysiis_key(F.col("b")).alias("kb"),
    ).collect()
    for r in got:
        assert r.ka == r.kb, (r.a, r.b, r.ka, r.kb)
    # distinct names stay distinct
    df2 = spark.createDataFrame([("SANTOS", "GARCIA")], "a string, b string")
    r2 = df2.select(
        nysiis_key(F.col("a")).alias("ka"), nysiis_key(F.col("b")).alias("kb")
    ).collect()[0]
    assert r2.ka != r2.kb
    # NULL-safe
    df3 = spark.createDataFrame([(None,)], "a string")
    assert df3.select(nysiis_key(F.col("a")).alias("k")).collect()[0].k == ""
