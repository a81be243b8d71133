"""Property tests: vectorized batch kernels == scalar oracle, bit-for-bit."""

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings, strategies as st

from name_matching_spark.core import (
    damerau_levenshtein_distance,
    jaro_similarity,
    jaro_winkler_similarity,
    monge_elkan_similarity,
    damerau_levenshtein_similarity,
    parse_name,
    standardize_name,
)
from name_matching_spark.functions.kernels import (
    batch_dl_distance,
    batch_dl_similarity,
    batch_jaro,
    batch_jaro_winkler,
    batch_monge_elkan,
    batch_parse_middle_last,
    batch_standardize,
)

# Deliberately small alphabet to force matches/transpositions, plus unicode.
name_text = st.text(alphabet="abcAB 'ñé-", max_size=12)
ascii_text = st.text(alphabet="ab", max_size=8)


@settings(max_examples=300, deadline=None)
@given(st.lists(st.tuples(name_text, name_text), min_size=1, max_size=20))
def test_batch_jaro_matches_oracle(pairs):
    a = np.array([p[0] for p in pairs], dtype=object)
    b = np.array([p[1] for p in pairs], dtype=object)
    got = batch_jaro(a, b)
    want = np.array([jaro_similarity(x, y) for x, y in pairs])
    np.testing.assert_allclose(got, want, rtol=0, atol=1e-12)


@settings(max_examples=300, deadline=None)
@given(st.lists(st.tuples(name_text, name_text), min_size=1, max_size=20))
def test_batch_jw_matches_oracle(pairs):
    a = np.array([p[0] for p in pairs], dtype=object)
    b = np.array([p[1] for p in pairs], dtype=object)
    got = batch_jaro_winkler(a, b)
    want = np.array([jaro_winkler_similarity(x, y) for x, y in pairs])
    np.testing.assert_allclose(got, want, rtol=0, atol=1e-12)


@settings(max_examples=300, deadline=None)
@given(st.lists(st.tuples(ascii_text, ascii_text), min_size=1, max_size=16))
def test_batch_dl_small_alphabet(pairs):
    # tiny alphabet maximizes transposition / last-occurrence interactions
    a = np.array([p[0] for p in pairs], dtype=object)
    b = np.array([p[1] for p in pairs], dtype=object)
    got = batch_dl_distance(a, b)
    want = np.array([damerau_levenshtein_distance(x, y) for x, y in pairs])
    np.testing.assert_array_equal(got, want)


@settings(max_examples=200, deadline=None)
@given(st.lists(st.tuples(name_text, name_text), min_size=1, max_size=16))
def test_batch_dl_similarity_matches_oracle(pairs):
    a = np.array([p[0] for p in pairs], dtype=object)
    b = np.array([p[1] for p in pairs], dtype=object)
    got = batch_dl_similarity(a, b)
    want = np.array([damerau_levenshtein_similarity(x, y) for x, y in pairs])
    np.testing.assert_allclose(got, want, rtol=0, atol=1e-12)


def test_batch_dl_golden():
    got = batch_dl_distance(
        np.array(["ca", "DIXON", "MARTHA", "", "abc"], dtype=object),
        np.array(["abc", "DICKSONX", "MARHTA", "", ""], dtype=object),
    )
    np.testing.assert_array_equal(got, [2, 4, 1, 0, 3])


def test_batch_dl_chunking():
    import name_matching_spark.functions.kernels as K

    old = K._DL_CELL_BUDGET
    try:
        K._DL_CELL_BUDGET = 64  # force many chunks
        a = np.array(["kitten", "ca", "martha", ""], dtype=object)
        b = np.array(["sitting", "abc", "marhta", "x"], dtype=object)
        np.testing.assert_array_equal(batch_dl_distance(a, b), [3, 2, 1, 1])
    finally:
        K._DL_CELL_BUDGET = old


tokens_strategy = st.lists(st.text(alphabet="abc ", max_size=6).map(str.strip), max_size=4)


@settings(max_examples=200, deadline=None)
@given(st.lists(st.tuples(tokens_strategy, tokens_strategy), min_size=1, max_size=10))
def test_batch_monge_elkan_matches_oracle(rows):
    t1 = [r[0] for r in rows]
    t2 = [r[1] for r in rows]
    got_jw = batch_monge_elkan(t1, t2, batch_jaro_winkler)
    want_jw = np.array(
        [monge_elkan_similarity(a, b, jaro_winkler_similarity) for a, b in rows]
    )
    np.testing.assert_allclose(got_jw, want_jw, rtol=0, atol=1e-12)
    got_dl = batch_monge_elkan(t1, t2, batch_dl_similarity)
    want_dl = np.array(
        [monge_elkan_similarity(a, b, damerau_levenshtein_similarity) for a, b in rows]
    )
    np.testing.assert_allclose(got_dl, want_dl, rtol=0, atol=1e-12)


@settings(max_examples=300, deadline=None)
@given(st.lists(st.text(max_size=16), min_size=1, max_size=20))
def test_batch_standardize_matches_oracle(strs):
    got = batch_standardize(pd.Series(strs, dtype=object))
    want = [standardize_name(s) for s in strs]
    assert list(got) == want


def test_batch_standardize_golden():
    s = pd.Series(["  Juan   Cruz ", "José", "O'Brien", "Customer#01", None])
    assert list(batch_standardize(s)) == [
        "juan cruz", "jose", "o'brien", "customer01", "",
    ]


mnl_text = st.text(
    alphabet=st.sampled_from(list("abcz ") + ["dela", "de", "la", "los", "san", "santa"]),
    max_size=6,
).map(lambda parts: "".join(parts))
mnl_realistic = st.lists(
    st.sampled_from(
        ["dela", "de", "la", "los", "las", "san", "santa", "sto", "sta",
         "cruz", "santos", "garcia", "DELA", "De", "x", ""]
    ),
    max_size=5,
).map(" ".join)


@settings(max_examples=500, deadline=None)
@given(st.lists(st.tuples(st.text(max_size=8), mnl_realistic), min_size=1, max_size=15))
def test_batch_parse_matches_oracle(rows):
    first = pd.Series([r[0] for r in rows], dtype=object)
    mnl = pd.Series([r[1] for r in rows], dtype=object)
    got = batch_parse_middle_last(first, mnl)
    for i, (f, m) in enumerate(rows):
        want = parse_name(f, m)
        assert got["first_name"].iloc[i] == want["first_name"], (f, m)
        assert got["middle_name"].iloc[i] == want["middle_name"], (f, m)
        assert got["last_name"].iloc[i] == want["last_name"], (f, m)


def test_batch_parse_golden():
    first = pd.Series(["Juan", "Pedro", "Ana", "X"])
    mnl = pd.Series(["Cruz Santos", "Dela Cruz", "Reyes de los Santos", "santa maria cruz"])
    got = batch_parse_middle_last(first, mnl)
    assert list(got["middle_name"]) == ["Cruz", "", "Reyes", "santa maria"]
    assert list(got["last_name"]) == ["Santos", "Dela Cruz", "de los Santos", "cruz"]


full_name_strings = st.lists(
    st.sampled_from(
        ["Juan", "Maria", "dela", "de", "la", "los", "las", "san", "sto",
         "cruz", "Santos", "DELA", "x", ""]
    ),
    max_size=6,
).map(" ".join)


@settings(max_examples=300, deadline=None)
@given(st.lists(full_name_strings, min_size=1, max_size=15))
def test_batch_extract_full_name_matches_oracle(rows):
    from name_matching_spark.core.parsing import extract_name_components
    from name_matching_spark.functions.kernels import batch_extract_full_name

    got = batch_extract_full_name(pd.Series(rows, dtype=object))
    for i, s in enumerate(rows):
        want = extract_name_components(s)
        assert got["first_name"].iloc[i] == want["first_name"], s
        assert got["middle_name"].iloc[i] == want["middle_name"], s
        assert got["last_name"].iloc[i] == want["last_name"], s


def test_batch_extract_full_name_golden():
    from name_matching_spark.functions.kernels import batch_extract_full_name

    got = batch_extract_full_name(
        pd.Series(["Juan", "Juan Cruz", "Juan Reyes Dela Cruz",
                   "Ana  de los  Santos", ""], dtype=object)
    )
    assert list(got["first_name"]) == ["Juan", "Juan", "Juan", "Ana", ""]
    assert list(got["middle_name"]) == ["", "", "Reyes", "", ""]
    assert list(got["last_name"]) == ["", "Cruz", "Dela Cruz", "de los Santos", ""]


def test_sw_kernel_golden():
    import numpy as np

    from name_matching_spark.functions.kernels import batch_sw_score, batch_sw_similarity

    s1 = np.array(["abc", "abc", "abc", "martha", "", "a", None], dtype=object)
    s2 = np.array(["abc", "xabcx", "xyz", "marhta", "", "", "abc"], dtype=object)
    assert list(batch_sw_score(s1, s2)) == [6, 6, 0, 8, 0, 0, 0]
    sims = batch_sw_similarity(s1, s2)
    assert sims[0] == 1.0 and sims[1] == 1.0 and sims[2] == 0.0
    assert sims[4] == 1.0  # both empty
    assert sims[5] == 0.0 and sims[6] == 0.0  # one empty / NULL


@settings(max_examples=60, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.text(alphabet="abcde' -", max_size=14),
            st.text(alphabet="abcde' -", max_size=14),
        ),
        min_size=1,
        max_size=50,
    )
)
def test_sw_kernel_equals_scalar(pairs):
    import numpy as np

    from name_matching_spark.core.similarity import (
        smith_waterman_score,
        smith_waterman_similarity,
    )
    from name_matching_spark.functions.kernels import batch_sw_score, batch_sw_similarity

    a = np.array([p[0] for p in pairs], dtype=object)
    b = np.array([p[1] for p in pairs], dtype=object)
    assert list(batch_sw_score(a, b)) == [smith_waterman_score(x, y) for x, y in pairs]
    got = batch_sw_similarity(a, b)
    exp = [smith_waterman_similarity(x, y) for x, y in pairs]
    assert all(g == e for g, e in zip(got, exp))
