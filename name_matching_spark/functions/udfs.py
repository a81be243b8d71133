"""Pandas UDF wrappers over the batch kernels — the engine's UDF surface.

Every UDF here is Arrow-vectorized (scalar pandas_udf over Series/DataFrame
batches); there is deliberately NO row-at-a-time ``F.udf`` anywhere in this
package (mandated by the target contract and SURVEY.md §2.10).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from name_matching_spark.functions import kernels as K

__all__ = [
    "jaro_udf",
    "jaro_winkler_udf",
    "dl_similarity_udf",
    "dl_distance_udf",
    "sw_similarity_udf",
    "standardize_udf",
    "parse_name_udf",
    "parse_full_name_udf",
    "make_normalize_udf",
    "make_component_scores_udf",
    "make_component_scores_dict_udf",
    "COMPONENT_SCORES_SCHEMA",
]


@pandas_udf(DoubleType())
def jaro_udf(s1: pd.Series, s2: pd.Series) -> pd.Series:
    return pd.Series(K.batch_jaro(s1.to_numpy(object), s2.to_numpy(object)), index=s1.index)


@pandas_udf(DoubleType())
def jaro_winkler_udf(s1: pd.Series, s2: pd.Series) -> pd.Series:
    return pd.Series(
        K.batch_jaro_winkler(s1.to_numpy(object), s2.to_numpy(object)), index=s1.index
    )


@pandas_udf(DoubleType())
def dl_similarity_udf(s1: pd.Series, s2: pd.Series) -> pd.Series:
    return pd.Series(
        K.batch_dl_similarity(s1.to_numpy(object), s2.to_numpy(object)), index=s1.index
    )


@pandas_udf(DoubleType())
def sw_similarity_udf(s1: pd.Series, s2: pd.Series) -> pd.Series:
    """Normalized Smith-Waterman local-alignment similarity (match +2,
    mismatch/gap -1; score / (2 * min(len))) — classic partial-containment
    comparator (engine extension; ``core.similarity.smith_waterman_*``)."""
    return pd.Series(
        K.batch_sw_similarity(s1.to_numpy(object), s2.to_numpy(object)),
        index=s1.index,
    )


@pandas_udf(LongType())
def dl_distance_udf(s1: pd.Series, s2: pd.Series) -> pd.Series:
    """Exact full Damerau-Levenshtein DISTANCE (integer) — the raw count
    behind ``dl_similarity_udf``; reference ``src/matcher.py:245``."""
    return pd.Series(
        K.batch_dl_distance(s1.to_numpy(object), s2.to_numpy(object)).astype("int64"),
        index=s1.index,
    )


@pandas_udf(StringType())
def standardize_udf(s: pd.Series) -> pd.Series:
    return K.batch_standardize(s)


_PARSE_SCHEMA = StructType(
    [
        StructField("first_name", StringType()),
        StructField("middle_name", StringType()),
        StructField("last_name", StringType()),
    ]
)


@pandas_udf(_PARSE_SCHEMA)
def parse_name_udf(first: pd.Series, middle_last: pd.Series) -> pd.DataFrame:
    """(first_name, middle_name_last_name) -> parsed component struct
    (``src/parser.py:11-97`` semantics, vectorized)."""
    return K.batch_parse_middle_last(first, middle_last)


@pandas_udf(_PARSE_SCHEMA)
def parse_full_name_udf(full_name: pd.Series) -> pd.DataFrame:
    """Single full-name string -> parsed component struct
    (``src/parser.py:100-127`` / ``extract_name_components``, vectorized) —
    the N6 operator: normalizes a one-column name table without a
    pre-split (first, middle+last) shape."""
    return K.batch_extract_full_name(full_name)


def make_normalize_udf(geo_fields: list[str]):
    """Build the FUSED record-normalize UDF: parse + standardize every name
    component and every geo field in one Arrow round trip.

    Same kernels as ``standardize_udf(parse_name_udf(...).<part>)`` per
    field, so the output is identical to that chain; the chain costs two
    Python nodes per record (every Python node in a pipelined stage runs
    its own worker per task), this costs one.

    The UDF takes ``(first_name, middle_name_last_name)`` plus, when
    ``geo_fields`` is non-empty, ONE struct of the geo columns in
    ``geo_fields`` order (``pandas_udf`` rejects ``*args``). It returns a
    struct ``first_std, middle_std, last_std, <geo>_std..``.
    """
    schema = StructType(
        [StructField(c, StringType()) for c in ("first_std", "middle_std", "last_std")]
        + [StructField(f"{g}_std", StringType()) for g in geo_fields]
    )

    def _normalize(first: pd.Series, middle_last: pd.Series, geo=None) -> pd.DataFrame:
        parsed = K.batch_parse_middle_last(first, middle_last)
        out = {
            "first_std": K.batch_standardize(parsed["first_name"]),
            "middle_std": K.batch_standardize(parsed["middle_name"]),
            "last_std": K.batch_standardize(parsed["last_name"]),
        }
        for i, g in enumerate(geo_fields):
            out[f"{g}_std"] = K.batch_standardize(geo.iloc[:, i])
        return pd.DataFrame(out, index=first.index)

    if geo_fields:
        @pandas_udf(schema)
        def normalize_record(
            first: pd.Series, middle_last: pd.Series, geo: pd.DataFrame
        ) -> pd.DataFrame:
            return _normalize(first, middle_last, geo)
    else:
        @pandas_udf(schema)
        def normalize_record(first: pd.Series, middle_last: pd.Series) -> pd.DataFrame:
            return _normalize(first, middle_last)

    return normalize_record


COMPONENT_SCORES_SCHEMA = StructType(
    [
        StructField("first_name", DoubleType()),
        StructField("middle_name", DoubleType()),
        StructField("last_name", DoubleType()),
        StructField("full_name_sorted", DoubleType()),
        StructField("monge_elkan_dl", DoubleType()),
        StructField("monge_elkan_jw", DoubleType()),
        StructField("geography", DoubleType()),
    ]
)


def _resolve_base_kernel(base_similarity: str):
    if base_similarity == "jaro_winkler":
        return K.batch_jaro_winkler
    if base_similarity == "damerau_levenshtein":
        return K.batch_dl_similarity
    if base_similarity == "smith_waterman":
        return K.batch_sw_similarity
    raise ValueError(f"unknown base_similarity: {base_similarity}")


def _make_compute(base_kernel, geo_field_count: int):
    """Shared fused-computation core: two payload DataFrames (columns
    ``first_std, middle_std, last_std, geo0..``) -> dict of component score
    arrays. Used by both the direct and the dictionary-encoded UDFs so the
    two paths are bit-identical by construction."""
    import numpy as np

    def _full_and_sorted(side: pd.DataFrame):
        """full = " ".join(filter(None, comps)) (exact: interior double
        spaces inside components are preserved); built + token-sorted once
        per DISTINCT component triple (Python sorted == codepoint order on
        these folded strings, the scalar oracle's own tokenizer
        semantics)."""
        key = (
            side["first_std"].fillna("")
            + "\x1f" + side["middle_std"].fillna("")
            + "\x1f" + side["last_std"].fillna("")
        )
        codes, uniq = pd.factorize(key.to_numpy(object))
        full_uniq = np.array(
            [" ".join(x for x in u.split("\x1f") if x) for u in uniq],
            dtype=object,
        )
        sorted_uniq = np.array(
            [" ".join(sorted(f.split())) for f in full_uniq], dtype=object
        )
        return full_uniq[codes], sorted_uniq[codes]

    def _compute(side1: pd.DataFrame, side2: pd.DataFrame) -> dict:
        n = len(side1)
        out = {}
        for comp in ("first_std", "middle_std", "last_std"):
            out[comp] = base_kernel(
                side1[comp].to_numpy(object), side2[comp].to_numpy(object)
            )
        full1, sorted1 = _full_and_sorted(side1)
        full2, sorted2 = _full_and_sorted(side2)
        out["full_name_sorted"] = K.batch_jaro_winkler(sorted1, sorted2)

        # Monge-Elkan over whitespace tokens of the standardized full names.
        # Reference gates on non-empty token lists (name_matcher.py:183-196);
        # the kernel returns 0.0 for those rows already.
        out["monge_elkan_dl"] = K.batch_monge_elkan_str(full1, full2, K.batch_dl_similarity)
        out["monge_elkan_jw"] = K.batch_monge_elkan_str(full1, full2, K.batch_jaro_winkler)

        if geo_field_count > 0:
            acc = None
            for g in range(geo_field_count):
                col = f"geo{g}"
                sims = K.batch_jaro_winkler(
                    side1[col].to_numpy(object), side2[col].to_numpy(object)
                )
                acc = sims if acc is None else acc + sims
            out["geography"] = acc / geo_field_count
        else:
            out["geography"] = np.full(n, np.nan, dtype=np.float64)
        return out

    return _compute


def _scores_frame(out: dict, index) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "first_name": out["first_std"],
            "middle_name": out["middle_std"],
            "last_name": out["last_std"],
            "full_name_sorted": out["full_name_sorted"],
            "monge_elkan_dl": out["monge_elkan_dl"],
            "monge_elkan_jw": out["monge_elkan_jw"],
            "geography": out["geography"],
        },
        index=index,
    )


def make_component_scores_udf(base_similarity: str = "jaro_winkler", geo_field_count: int = 0):
    """Build the FUSED pairwise scoring UDF.

    One Arrow round trip computes every component score for a batch of
    candidate pairs (the reference pays a Python call per component per pair:
    ``src/matcher.py:520-572`` + ``src/name_matcher.py:183-221``).

    Inputs (two struct columns, one per side) must carry STANDARDIZED name
    parts plus, per configured geo field, standardized geo values:
    ``first_std, middle_std, last_std, geo0..geo{n-1}``. The full name
    (" ".join of non-empty components, ``src/name_matcher.py:177-178``) and
    its token-sorted form are derived HERE per batch — factorize-memoized —
    instead of being shipped through the pair join.

    ``base_similarity``: "jaro_winkler" (default) or "damerau_levenshtein" —
    the pluggable base-component similarity slot
    (``src/name_matcher.py:73,97``). ``full_name_sorted`` is ALWAYS
    token-sort JW regardless (``src/matcher.py:551-569``), and both
    Monge-Elkan variants are always emitted (``name_matcher.py:183-196``).

    Geography is the mean of per-field JW over the standardized geo values
    (``name_matcher.py:211-221``); NaN when no geo fields are configured (the
    caller then leaves geography out of the blend, reproducing the
    "additional field absent" semantics).
    """
    import numpy as np

    base_kernel = _resolve_base_kernel(base_similarity)
    payload_cols = ["first_std", "middle_std", "last_std"] + [
        f"geo{g}" for g in range(geo_field_count)
    ]
    _compute = _make_compute(base_kernel, geo_field_count)

    @pandas_udf(COMPONENT_SCORES_SCHEMA)
    def component_scores(side1: pd.DataFrame, side2: pd.DataFrame) -> pd.DataFrame:
        n = len(side1)
        # PAIR-level memoization across the whole fused computation: name
        # pairs repeat massively inside blocks, so every kernel runs on the
        # distinct payload pairs only and results scatter back (the Arrow
        # transfer is unavoidable; the Python/numpy work is not)
        uniq_idx = inv = None
        if n >= 64:
            k1 = k2 = None
            for c in payload_cols:
                s1 = side1[c].fillna("")
                s2 = side2[c].fillna("")
                k1 = s1 if k1 is None else k1 + "\x1f" + s1
                k2 = s2 if k2 is None else k2 + "\x1f" + s2
            ca, ua = pd.factorize(k1.to_numpy(object))
            cb, ub = pd.factorize(k2.to_numpy(object))
            pair_code = ca.astype(np.int64) * np.int64(len(ub)) + cb
            uidx, iv = np.unique(pair_code, return_index=True, return_inverse=True)[1:]
            if len(uidx) <= n * 0.8:
                uniq_idx, inv = uidx, iv

        if uniq_idx is None:
            out = _compute(side1, side2)
        else:
            u = _compute(
                side1.iloc[uniq_idx].reset_index(drop=True),
                side2.iloc[uniq_idx].reset_index(drop=True),
            )
            out = {k: v[inv] for k, v in u.items()}

        return _scores_frame(out, side1.index)

    # The UDF is deterministic, but advertising that lets CollapseProject
    # inline one _cs reference per consumer — the plan then evaluates the
    # (expensive) UDF once per downstream expression (observed: 4
    # ArrowEvalPython nodes for one scoring call). Nondeterministic blocks
    # the duplication; the UDF runs exactly once per pair batch.
    return component_scores.asNondeterministic()


def make_component_scores_dict_udf(
    base_similarity: str,
    geo_field_count: int,
    arrays: dict[str, "object"],
):
    """Dictionary-encoded variant of :func:`make_component_scores_udf`.

    ``arrays`` maps each payload column (``first_std, middle_std, last_std,
    geo0..``) to an object ndarray indexed by CLASS ID (one row per distinct
    scoring payload). The UDF then takes two bigint class-id columns instead
    of two string structs — the Arrow transfer per pair drops from
    2x(3+geo) strings to 2 ints, which is the measured bottleneck of the
    scoring stage (a constant-returning UDF over the struct payload costs
    ~95% of the full fused UDF at sf0.1). Strings are rebuilt worker-side
    by fancy-indexing the (broadcast-in-closure) dictionary, and each batch
    computes every kernel once per DISTINCT (class1, class2) pair — the
    int-pair np.unique replaces the string factorize memoizer.

    The computation core (:func:`_make_compute`) is shared with the direct
    UDF, so both paths are bit-identical on equal payloads.
    """
    import numpy as np

    base_kernel = _resolve_base_kernel(base_similarity)
    payload_cols = ["first_std", "middle_std", "last_std"] + [
        f"geo{g}" for g in range(geo_field_count)
    ]
    _compute = _make_compute(base_kernel, geo_field_count)
    col_arrays = [np.asarray(arrays[c], dtype=object) for c in payload_cols]
    n_classes = len(col_arrays[0]) if col_arrays else 0
    if any(len(a) != n_classes for a in col_arrays):
        raise ValueError("dictionary arrays must have equal length")

    @pandas_udf(COMPONENT_SCORES_SCHEMA)
    def component_scores_dict(c1: pd.Series, c2: pd.Series) -> pd.Series:
        i1 = c1.to_numpy(np.int64)
        i2 = c2.to_numpy(np.int64)
        pair_code = i1 * np.int64(n_classes) + i2
        uidx, inv = np.unique(pair_code, return_index=True, return_inverse=True)[1:]
        u1 = i1[uidx]
        u2 = i2[uidx]
        side1 = pd.DataFrame(
            {c: pd.Series(a[u1], dtype=object) for c, a in zip(payload_cols, col_arrays)}
        )
        side2 = pd.DataFrame(
            {c: pd.Series(a[u2], dtype=object) for c, a in zip(payload_cols, col_arrays)}
        )
        u = _compute(side1, side2)
        out = {k: v[inv] for k, v in u.items()}
        return _scores_frame(out, c1.index)

    return component_scores_dict.asNondeterministic()
