"""Numpy/pandas batch kernels for the similarity & parsing functions.

These are the Arrow-vectorized equivalents of the scalar oracle in
``name_matching_spark.core`` — one call processes a whole record batch with
numpy array ops (no per-row Python in the similarity hot path). Property
tests assert bit-equality with the scalar oracle.

Design notes for 100 TB scale: every kernel is O(batch) numpy work with
bounded per-batch memory; the DL DP kernel chunks itself so the
(batch x L1 x L2) DP tensor stays under a fixed cell budget regardless of
Arrow batch size.
"""

from __future__ import annotations

import re
import sys
from functools import lru_cache

import numpy as np
import pandas as pd

# Java/RE2 \s equivalent: ASCII whitespace only (see batch_simhash).
_ASCII_WS = re.compile(r"[ \t\n\x0b\f\r]+")

__all__ = [
    "batch_jaro",
    "batch_jaro_winkler",
    "batch_dl_distance",
    "batch_dl_similarity",
    "batch_monge_elkan",
    "batch_standardize",
    "batch_parse_middle_last",
    "batch_extract_full_name",
    "batch_simhash",
]

# Pad sentinels: beyond any valid codepoint (max 0x10FFFF) and mutually
# unequal, so padded cells can never produce a character match.
_PAD_A = np.uint32(0xFFFFFFFF)
_PAD_B = np.uint32(0xFFFFFFFE)


def _encode(strs: np.ndarray, pad: np.uint32) -> tuple[np.ndarray, np.ndarray]:
    """Encode an object array of strings into a padded (n, maxlen) uint32
    codepoint matrix + a length vector. One C-level pass via utf-32."""
    n = len(strs)
    lens = np.fromiter((len(s) for s in strs), dtype=np.int64, count=n)
    maxlen = int(lens.max()) if n else 0
    out = np.full((n, max(maxlen, 1)), pad, dtype=np.uint32)
    total = int(lens.sum())
    if total:
        joined = "".join(strs)
        codes = np.frombuffer(joined.encode("utf-32-le"), dtype=np.uint32)
        starts = np.zeros(n, dtype=np.int64)
        np.cumsum(lens[:-1], out=starts[1:])
        rows = np.repeat(np.arange(n), lens)
        cols = np.arange(total) - np.repeat(starts, lens)
        out[rows, cols] = codes
    return out, lens


def _as_str_array(values) -> np.ndarray:
    """None/NaN -> "" and everything to str, as an object ndarray."""
    arr = np.asarray(values, dtype=object)
    return np.array(
        ["" if v is None or (isinstance(v, float) and np.isnan(v)) else str(v) for v in arr],
        dtype=object,
    )


def _dedup_pairs(a: np.ndarray, b: np.ndarray):
    """Batch-local memoization (the Spark analog of the reference's
    ``lru_cache`` on the scalar similarities, ``src/matcher.py:157,224``):
    compute each DISTINCT (a, b) pair once per Arrow batch, scatter back.
    Returns (a_unique, b_unique, inverse) or None when duplication is too
    low to pay for the sort."""
    n = len(a)
    if n < 64:
        return None
    # hash-based factorize (C-speed) per side, then integer pair codes —
    # avoids sort-based np.unique over object strings, which is
    # memory-latency-bound and scales poorly across many cores
    ca, ua = pd.factorize(a)
    cb, ub = pd.factorize(b)
    pair_code = ca.astype(np.int64) * np.int64(len(ub)) + cb
    uniq_idx, inv = np.unique(pair_code, return_index=True, return_inverse=True)[1:]
    if len(uniq_idx) > n * 0.8:
        return None
    return a[uniq_idx], b[uniq_idx], inv


def batch_jaro(s1, s2) -> np.ndarray:
    """Vectorized Jaro similarity over two equal-length string collections.

    Batch-parallel form of ``core.similarity.jaro_similarity``
    (reference semantics: ``src/matcher.py:33-142``): position loops run over
    the padded max length, every op vectorized across the batch.
    """
    a = _as_str_array(s1)
    b = _as_str_array(s2)
    d = _dedup_pairs(a, b)
    if d is not None:
        au, bu, inv = d
        return _batch_jaro_raw(au, bu)[inv]
    return _batch_jaro_raw(a, b)


def _batch_jaro_raw(a: np.ndarray, b: np.ndarray, encoded=None) -> np.ndarray:
    if encoded is None:
        A, len1 = _encode(a, _PAD_A)
        B, len2 = _encode(b, _PAD_B)
    else:
        A, len1, B, len2 = encoded
    n = len(a)
    if n == 0:
        return np.zeros(0, dtype=np.float64)
    L1, L2 = A.shape[1], B.shape[1]

    window = np.maximum(np.maximum(len1, len2) // 2 - 1, 0)
    matched1 = np.zeros((n, L1), dtype=bool)
    matched2 = np.zeros((n, L2), dtype=bool)
    m = np.zeros(n, dtype=np.int64)

    for i in range(L1):
        ai = A[:, i]
        lo = np.maximum(0, i - window)
        hi = np.minimum(i + window + 1, len2)
        found = np.zeros(n, dtype=bool)
        for j in range(max(0, int((i - window.max()))), L2):
            if j >= int((i + window.max()) + 1):
                break
            cand = (~found) & (j >= lo) & (j < hi) & (~matched2[:, j]) & (B[:, j] == ai)
            matched2[:, j] |= cand
            found |= cand
        matched1[:, i] = found
        m += found

    # transpositions: both sides have exactly m matched positions per row;
    # row-major boolean indexing flattens them in position order, so the two
    # flat char streams align segment-wise — one O(total_matches) pass
    flat_a = A[matched1]
    flat_b = B[matched2]
    row_of = np.repeat(np.arange(n), m)
    t = np.bincount(row_of, weights=(flat_a != flat_b), minlength=n).astype(np.int64)
    t //= 2

    both_empty = (len1 == 0) & (len2 == 0)
    safe1 = np.maximum(len1, 1)
    safe2 = np.maximum(len2, 1)
    safe_m = np.maximum(m, 1)
    jaro = (m / safe1 + m / safe2 + (m - t) / safe_m) / 3.0
    jaro = np.where(m == 0, 0.0, jaro)
    jaro = np.where(both_empty, 1.0, jaro)
    return jaro


def batch_jaro_winkler(s1, s2, prefix_weight: float = 0.1) -> np.ndarray:
    """Vectorized reference Jaro-Winkler (NO 0.7 boost gate, prefix cap 4,
    both-empty -> 1.0, one-empty -> 0.0; ``src/matcher.py:158-187``)."""
    a = _as_str_array(s1)
    b = _as_str_array(s2)
    d = _dedup_pairs(a, b)
    if d is not None:
        au, bu, inv = d
        return _batch_jw_raw(au, bu, prefix_weight)[inv]
    return _batch_jw_raw(a, b, prefix_weight)


def _batch_jw_raw(a: np.ndarray, b: np.ndarray, prefix_weight: float = 0.1) -> np.ndarray:
    n = len(a)
    if n == 0:
        return np.zeros(0, dtype=np.float64)
    A, len1 = _encode(a, _PAD_A)
    B, len2 = _encode(b, _PAD_B)

    # reuse this encode pass for the jaro core (encoding is the dominant
    # per-batch prep for short name tokens)
    jaro = _batch_jaro_raw(a, b, encoded=(A, len1, B, len2))

    plen = np.zeros(n, dtype=np.int64)
    alive = np.ones(n, dtype=bool)
    for i in range(min(4, A.shape[1], B.shape[1])):
        eq = alive & (A[:, i] == B[:, i])
        plen += eq
        alive &= eq
    jw = jaro + plen * prefix_weight * (1.0 - jaro)

    both_empty = (len1 == 0) & (len2 == 0)
    one_empty = ((len1 == 0) | (len2 == 0)) & ~both_empty
    jw = np.where(one_empty, 0.0, jw)
    jw = np.where(both_empty, 1.0, jw)
    return jw


# Cap on DP cells per chunk: n_chunk * (L1+2) * (L2+2) <= _DL_CELL_BUDGET.
_DL_CELL_BUDGET = 16_000_000


def batch_dl_distance(s1, s2) -> np.ndarray:
    """Vectorized FULL Damerau-Levenshtein distance (adjacent transpositions,
    jellyfish-compatible — the reference's primary path,
    ``src/matcher.py:245``, pinned by ``tests/test_matcher.py:61``).

    DP sweeps run over (L1 x L2) positions with every cell op vectorized
    across the batch; self-chunks to bound the DP tensor.
    """
    a = _as_str_array(s1)
    b = _as_str_array(s2)
    d = _dedup_pairs(a, b)
    if d is not None:
        au, bu, inv = d
        return _batch_dl_raw(au, bu)[inv]
    return _batch_dl_raw(a, b)


def _strip_common_affixes(s1: str, s2: str) -> tuple[str, str]:
    """Drop the common prefix and suffix — distance-preserving for FULL DL
    (verified exhaustively over all <=4-char {a,b,c} pairs with affixes that
    overlap the alphabet, plus the hypothesis oracle-equivalence suite).
    Near-identical name pairs collapse to tiny DP problems."""
    m = min(len(s1), len(s2))
    p = 0
    while p < m and s1[p] == s2[p]:
        p += 1
    q = 0
    lim = m - p
    while q < lim and s1[len(s1) - 1 - q] == s2[len(s2) - 1 - q]:
        q += 1
    return s1[p : len(s1) - q], s2[p : len(s2) - q]


def _batch_dl_raw(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    n = len(a)
    out = np.zeros(n, dtype=np.int64)
    if n == 0:
        return out

    # fast paths: equal strings cost 0; after stripping the common
    # prefix/suffix, one-side-empty rows cost the other side's length — only
    # genuinely different cores reach the DP sweep
    stripped = [_strip_common_affixes(x, y) for x, y in zip(a, b)]
    a = np.array([s[0] for s in stripped], dtype=object)
    b = np.array([s[1] for s in stripped], dtype=object)
    len1 = np.fromiter((len(s) for s in a), dtype=np.int64, count=n)
    len2 = np.fromiter((len(s) for s in b), dtype=np.int64, count=n)
    trivial = (len1 == 0) | (len2 == 0)
    if trivial.any():
        out[trivial] = np.maximum(len1, len2)[trivial]
        keep = ~trivial
        if not keep.any():
            return out
        out[keep] = _batch_dl_core(a[keep], b[keep], len1[keep], len2[keep])
        return out
    return _batch_dl_core(a, b, len1, len2)


def _batch_dl_core(
    a: np.ndarray, b: np.ndarray, len1: np.ndarray, len2: np.ndarray
) -> np.ndarray:
    n = len(a)
    out = np.zeros(n, dtype=np.int64)
    pair_max = np.maximum(np.maximum(len1, len2), 1)
    # homogeneous lengths (the common case for name tokens): plain
    # budget-bounded chunking, no reorder overhead
    if int(pair_max.max()) <= 2 * int(np.median(pair_max)):
        cells = (int(len1.max()) + 2) * (int(len2.max()) + 2)
        chunk = max(1, _DL_CELL_BUDGET // max(cells, 1))
        for lo in range(0, n, chunk):
            hi = min(lo + chunk, n)
            out[lo:hi] = _dl_distance_chunk(a[lo:hi], b[lo:hi])
        return out

    # heterogeneous: length-sort so each chunk's DP tensor is sized by ITS
    # max lengths, not the global max — a handful of long strings no longer
    # inflates every chunk's (L1 x L2) sweep
    order = np.argsort(pair_max, kind="stable")
    a_s, b_s = a[order], b[order]
    l1_s, l2_s = len1[order], len2[order]

    res = np.zeros(n, dtype=np.int64)
    lo = 0
    while lo < n:
        # grow the chunk while its cell volume stays inside the budget
        hi = lo
        max1 = max2 = 1
        while hi < n:
            c1 = max(max1, int(l1_s[hi]))
            c2 = max(max2, int(l2_s[hi]))
            if (hi - lo + 1) * (c1 + 2) * (c2 + 2) > _DL_CELL_BUDGET and hi > lo:
                break
            max1, max2 = c1, c2
            hi += 1
        res[lo:hi] = _dl_distance_chunk(a_s[lo:hi], b_s[lo:hi])
        lo = hi

    out[order] = res
    return out


def _dl_distance_chunk(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    A, len1 = _encode(a, _PAD_A)
    B, len2 = _encode(b, _PAD_B)
    n = len(a)
    L1, L2 = A.shape[1], B.shape[1]
    # Trim to the true max lengths (padding column exists even for all-empty)
    eff_L1 = int(len1.max())
    eff_L2 = int(len2.max())

    # narrow-dtype fast path: ASCII/latin batches compare as uint8 (the
    # uint32 pads wrap to 255/254 — still mutually unequal and above any
    # real code), and short strings fit an int16 DP — 4x / 2x less memory
    # traffic through the inner sweeps
    mask_a = A != _PAD_A
    mask_b = B != _PAD_B
    cmax = max(
        int(A[mask_a].max()) if mask_a.any() else 0,
        int(B[mask_b].max()) if mask_b.any() else 0,
    )
    if cmax < 254:
        A = A.astype(np.uint8)
        B = B.astype(np.uint8)
    dp_dtype = np.int16 if eff_L1 + eff_L2 < 32000 else np.int32

    maxdist = (len1 + len2).astype(dp_dtype)
    d = np.zeros((n, eff_L1 + 2, eff_L2 + 2), dtype=dp_dtype)
    d[:, 0, 0] = maxdist
    for i in range(eff_L1 + 1):
        d[:, i + 1, 0] = maxdist
        d[:, i + 1, 1] = i
    for j in range(eff_L2 + 1):
        d[:, 0, j + 1] = maxdist
        d[:, 1, j + 1] = j

    rows = np.arange(n)
    # last_row_for_col[:, j] == textbook da[b[j]]: last 1-based row i' (over
    # completed rows) where a[i'] == b[j]
    last_row_for_col = np.zeros((n, eff_L2), dtype=dp_dtype) if eff_L2 else np.zeros((n, 0), dp_dtype)

    for i in range(1, eff_L1 + 1):
        ai = A[:, i - 1]
        db = np.zeros(n, dtype=dp_dtype)  # textbook db: last col j'<j with b[j']==a[i]
        for j in range(1, eff_L2 + 1):
            bj = B[:, j - 1]
            k = last_row_for_col[:, j - 1]
            l = db
            eq = ai == bj
            cost = (~eq).astype(dp_dtype)
            best = d[:, i, j] + cost
            np.minimum(best, d[:, i + 1, j] + 1, out=best)
            np.minimum(best, d[:, i, j + 1] + 1, out=best)
            trans = d[rows, k, l] + (i - k - 1) + 1 + (j - l - 1)
            np.minimum(best, trans, out=best)
            d[:, i + 1, j + 1] = best
            db = np.where(eq, dp_dtype(j), db)
        if eff_L2:
            last_row_for_col = np.where(B[:, :eff_L2] == ai[:, None], dp_dtype(i), last_row_for_col)

    return d[rows, len1 + 1, len2 + 1].astype(np.int64)


def batch_dl_similarity(s1, s2) -> np.ndarray:
    """``1 - dist/max(len)`` with reference empty rules
    (``src/matcher.py:225-267``)."""
    a = _as_str_array(s1)
    b = _as_str_array(s2)
    n = len(a)
    if n == 0:
        return np.zeros(0, dtype=np.float64)
    dist = batch_dl_distance(a, b)
    len1 = np.fromiter((len(s) for s in a), dtype=np.int64, count=n)
    len2 = np.fromiter((len(s) for s in b), dtype=np.int64, count=n)
    both_empty = (len1 == 0) & (len2 == 0)
    one_empty = ((len1 == 0) | (len2 == 0)) & ~both_empty
    max_len = np.maximum(np.maximum(len1, len2), 1)
    sim = 1.0 - dist / max_len
    sim = np.where(one_empty, 0.0, sim)
    sim = np.where(both_empty, 1.0, sim)
    return sim


def batch_monge_elkan_str(full1, full2, kernel) -> np.ndarray:
    """Monge-Elkan over whitespace tokens of full-name strings, with
    batch-local pair memoization BEFORE tokenization (the flatten +
    segment-reduce then runs only on distinct name pairs)."""
    a = _as_str_array(full1)
    b = _as_str_array(full2)
    d = _dedup_pairs(a, b)
    if d is None:
        return batch_monge_elkan(
            [s.split() for s in a], [s.split() for s in b], kernel
        )
    au, bu, inv = d
    res = batch_monge_elkan([s.split() for s in au], [s.split() for s in bu], kernel)
    return res[inv]


def batch_monge_elkan(tokens1, tokens2, kernel) -> np.ndarray:
    """Vectorized asymmetric Monge-Elkan (``src/matcher.py:270-319``).

    ``tokens1``/``tokens2``: sequences of token lists (one per row).
    ``kernel``: a batch similarity kernel (batch_jaro_winkler /
    batch_dl_similarity). All token-pair similarities for the whole batch are
    computed in ONE kernel call, then reduced with segment max/mean.
    """
    n = len(tokens1)
    out = np.zeros(n, dtype=np.float64)
    if n == 0:
        return out

    flat_left: list[str] = []
    flat_right: list[str] = []
    row_ids: list[int] = []
    t1_counts = np.zeros(n, dtype=np.int64)  # non-empty tokens1 per row
    t2_counts = np.zeros(n, dtype=np.int64)
    for r in range(n):
        t1 = [t for t in (tokens1[r] or []) if t]
        t2 = [t for t in (tokens2[r] or []) if t]
        # reference: empty tokens1 LIST or empty tokens2 LIST -> 0.0; a
        # non-empty tokens2 list whose tokens are all "" behaves like max=0
        if not tokens1[r] or not tokens2[r] or not t1:
            continue
        t1_counts[r] = len(t1)
        t2_counts[r] = len(t2)
        for x in t1:
            for y in t2:
                flat_left.append(x)
                flat_right.append(y)
                row_ids.append(r)

    if not flat_left:
        return out

    sims = kernel(np.array(flat_left, dtype=object), np.array(flat_right, dtype=object))

    # segment reduce: max over tokens2 within each (row, token1) group, then
    # mean over token1 groups within each row
    has_pairs = (t1_counts > 0) & (t2_counts > 0)
    # group starts for (row, t1) segments, rows in emission order
    seg_sizes = np.repeat(t2_counts[has_pairs], t1_counts[has_pairs])
    seg_starts = np.zeros(len(seg_sizes), dtype=np.int64)
    if len(seg_sizes) > 1:
        np.cumsum(seg_sizes[:-1], out=seg_starts[1:])
    max_per_t1 = np.maximum.reduceat(sims, seg_starts) if len(seg_starts) else np.zeros(0)

    # mean over each row's t1 groups
    row_group_counts = t1_counts[has_pairs]
    row_starts = np.zeros(len(row_group_counts), dtype=np.int64)
    if len(row_group_counts) > 1:
        np.cumsum(row_group_counts[:-1], out=row_starts[1:])
    sums = np.add.reduceat(max_per_t1, row_starts) if len(row_starts) else np.zeros(0)
    means = sums / row_group_counts

    out[np.flatnonzero(has_pairs)] = means
    # rows active but with zero non-empty tokens2: every max is 0 -> mean 0
    return out


# Cap on (token_rows x bits) vote cells held at once by batch_simhash.
_SIMHASH_CELL_BUDGET = 8_000_000


def batch_simhash(texts, bits: int = 64) -> np.ndarray:
    """Per-document SimHash signatures in ONE vectorized pass (no
    (token x bit) row explosion — the relational form amplified every token
    64x before the vote groupBy; VERDICT r1 item 6).

    Semantics identical to the relational/oracle form: distinct lowercase
    whitespace tokens; token hash = first 16 hex chars of md5 (64-bit);
    signature bit b is 1 iff strictly more tokens have bit b set than
    unset. Returned as int64 (bit 63 = sign; only XOR popcount consumers).
    Documents with no tokens get 0 — callers that must mirror the
    relational "absent row" behavior filter empties beforehand.

    Each distinct token is md5-hashed once per batch (process-wide memo),
    and the vote matrix is chunked so (token_rows x bits) cells stay under
    a fixed budget regardless of batch size.
    """
    import hashlib

    n = len(texts)
    out = np.zeros(n, dtype=np.int64)
    if n == 0:
        return out
    arr = _as_str_array(texts)
    # ASCII-whitespace split (Java/RE2 \s class) — NOT str.split(), which
    # splits on Unicode whitespace (NBSP, ideographic space) and would
    # diverge from both the non-empty pre-filter (Java regex \s) and the
    # DuckDB oracle (RE2 \s) on documents containing non-ASCII whitespace.
    token_lists = [
        list(dict.fromkeys(t for t in _ASCII_WS.split(s.lower()) if t))
        for s in arr
    ]
    sizes = np.fromiter((len(t) for t in token_lists), dtype=np.int64, count=n)
    nonempty = np.flatnonzero(sizes > 0)
    if len(nonempty) == 0:
        return out

    memo = _simhash_md5_memo
    shift = np.arange(bits, dtype=np.uint64)
    chunk_docs: list[int] = []
    chunk_rows = 0

    def flush() -> None:
        if not chunk_docs:
            return
        flat: list[np.uint64] = []
        seg_sizes = []
        for d in chunk_docs:
            toks = token_lists[d]
            seg_sizes.append(len(toks))
            for tok in toks:
                h = memo.get(tok)
                if h is None:
                    h = np.uint64(int(hashlib.md5(tok.encode()).hexdigest()[:16], 16))
                    if len(memo) < 2_000_000:
                        memo[tok] = h
                flat.append(h)
        th = np.asarray(flat, dtype=np.uint64)
        ones = ((th[:, None] >> shift) & np.uint64(1)).astype(np.int64)
        starts = np.zeros(len(seg_sizes), dtype=np.int64)
        np.cumsum(np.asarray(seg_sizes[:-1], dtype=np.int64), out=starts[1:])
        ones_per_doc = np.add.reduceat(ones, starts, axis=0)
        cnt = np.asarray(seg_sizes, dtype=np.int64)[:, None]
        # vote v = ones - zeros = 2*ones - cnt; bit set iff v > 0
        bit_set = (2 * ones_per_doc) > cnt
        usig = (bit_set.astype(np.uint64) << shift).sum(axis=1, dtype=np.uint64)
        out[np.asarray(chunk_docs)] = usig.view(np.int64)
        chunk_docs.clear()

    for d in nonempty:
        if chunk_rows + sizes[d] > max(_SIMHASH_CELL_BUDGET // bits, 1) and chunk_docs:
            flush()
            chunk_rows = 0
        chunk_docs.append(int(d))
        chunk_rows += int(sizes[d])
    flush()
    return out


_simhash_md5_memo: dict[str, np.uint64] = {}


@lru_cache(maxsize=1)
def _combining_mark_regex() -> re.Pattern:
    """Character class of every combining codepoint (used for the NFD accent
    fold). Computed once per process (~0.3 s) and cached."""
    import unicodedata

    parts = []
    start = prev = None
    for cp in range(sys.maxunicode + 1):
        if unicodedata.combining(chr(cp)):
            if start is None:
                start = cp
            prev = cp
        elif start is not None:
            parts.append((start, prev))
            start = None
    if start is not None:
        parts.append((start, prev))
    cls = "".join(
        re.escape(chr(a)) if a == b else re.escape(chr(a)) + "-" + re.escape(chr(b))
        for a, b in parts
    )
    return re.compile("[" + cls + "]")


def batch_standardize(s: pd.Series) -> pd.Series:
    """Vectorized ``standardize_name`` (``src/standardizer.py:13-44``):
    NFKC -> lower -> collapse ws + strip -> drop [^\\w\\s'-] -> NFD fold.
    NOTE: no trailing re-strip after special-char removal (reference order).
    """
    s = s.fillna("").astype(str)
    out = s.str.normalize("NFKC").str.lower()
    out = out.str.replace(r"\s+", " ", regex=True).str.strip()
    out = out.str.replace(r"[^\w\s'-]", "", regex=True)
    out = out.str.normalize("NFD").str.replace(_combining_mark_regex(), "", regex=True)
    return out


# Compound surname prefixes in reference check order (``src/parser.py:70``);
# whole-token semantics enforced by the lookarounds, multi-space tolerated.
_COMPOUND_GLUE_RE = re.compile(
    r"(?i)(?<!\S)(?:dela|de\s+la|del|de\s+los|de\s+las|san|santa|sto|sta)(?=\s)\s+\S+"
)


def _glue_compound(match: re.Match) -> str:
    return "\x00".join(match.group(0).split())


def batch_parse_middle_last(first: pd.Series, middle_last: pd.Series) -> pd.DataFrame:
    """Vectorized ``parse_name(first, middle_name_last_name)``
    (``src/parser.py:11-97``): glue compound surname prefixes left-to-right,
    then last component -> last_name, remainder -> middle_name.

    Returns a DataFrame with columns first_name / middle_name / last_name.
    """
    first = first.fillna("").astype(str).str.strip()
    mnl = middle_last.fillna("").astype(str)

    glued = mnl.str.replace(_COMPOUND_GLUE_RE, _glue_compound, regex=True)
    norm = glued.str.replace(r"\s+", " ", regex=True).str.strip()
    rp = norm.str.rpartition(" ")
    middle = rp[0].str.replace("\x00", " ", regex=False)
    last = rp[2].str.replace("\x00", " ", regex=False)

    return pd.DataFrame(
        {"first_name": first, "middle_name": middle, "last_name": last},
        index=first.index,
    )


def batch_extract_full_name(full: pd.Series) -> pd.DataFrame:
    """Vectorized ``extract_name_components`` (``src/parser.py:100-127``):
    one full-name string per row -> first/middle/last components.

    First whitespace-delimited token -> first_name; the remainder runs
    through the (first, middle+last) parse — identical to the reference,
    which re-joins ``parts[1:]`` and delegates to ``parse_name`` for the
    >=3-token case while the 1/2-token cases coincide with the delegate's
    behavior (a single remaining token can never glue as a compound prefix).
    """
    s = full.fillna("").astype(str).str.strip()
    parts = s.str.split(n=1)
    first = parts.str[0].fillna("")
    rest = parts.str[1].fillna("")
    return batch_parse_middle_last(first, rest)


def batch_sw_score(s1, s2) -> np.ndarray:
    """Vectorized Smith-Waterman local-alignment score (match +2,
    mismatch/gap -1 — ``core.similarity.smith_waterman_score``).

    Row sweep with the max-plus prefix form of the within-row gap
    dependency: with gap -1, ``H[i][j] = max_{j'<=j}(t[j'] + j') - j``
    where ``t[j] = max(0, diag + s_ij, up - 1)`` has no left dependency —
    so each DP row is ONE ``np.maximum.accumulate`` over the batch, no
    per-cell Python loop. Padded cells never beat a real cell: the two
    distinct pad codes never compare equal, so padded-region scores only
    decay from valid maxima.
    """
    a = _as_str_array(s1)
    b = _as_str_array(s2)
    d = _dedup_pairs(a, b)
    if d is not None:
        au, bu, inv = d
        return _batch_sw_raw(au, bu)[inv]
    return _batch_sw_raw(a, b)


def _batch_sw_raw(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    n = len(a)
    out = np.zeros(n, dtype=np.int64)
    if n == 0:
        return out
    A, len1 = _encode(a, _PAD_A)
    B, len2 = _encode(b, _PAD_B)
    eff_l1 = int(len1.max())
    eff_l2 = int(len2.max())
    if eff_l1 == 0 or eff_l2 == 0:
        return out
    dp_dtype = np.int32
    idx = np.arange(1, eff_l2 + 1, dtype=dp_dtype)
    prev = np.zeros((n, eff_l2 + 1), dtype=dp_dtype)
    best = np.zeros(n, dtype=dp_dtype)
    Bm = B[:, :eff_l2]
    for i in range(1, eff_l1 + 1):
        ai = A[:, i - 1][:, None]
        s = np.where(Bm == ai, dp_dtype(2), dp_dtype(-1))
        t = np.maximum(prev[:, :-1] + s, prev[:, 1:] - 1)
        np.maximum(t, 0, out=t)
        cur = np.maximum.accumulate(t + idx, axis=1) - idx
        np.maximum(best, cur.max(axis=1), out=best)
        prev[:, 1:] = cur
    out[:] = best
    return out


def batch_sw_similarity(s1, s2) -> np.ndarray:
    """``score / (2 * min(len))`` with the reference empty rules (both
    empty -> 1.0, one empty -> 0.0): exact integer score, one IEEE
    division per pair."""
    a = _as_str_array(s1)  # None/NaN -> "" BEFORE the len() pass
    b = _as_str_array(s2)
    n = len(a)
    len1 = np.fromiter((len(s) for s in a), dtype=np.int64, count=n)
    len2 = np.fromiter((len(s) for s in b), dtype=np.int64, count=n)
    score = batch_sw_score(a, b)
    denom = 2 * np.minimum(len1, len2)
    out = np.zeros(n, dtype=np.float64)
    both_empty = (len1 == 0) & (len2 == 0)
    out[both_empty] = 1.0
    nz = denom > 0
    out[nz] = score[nz] / denom[nz].astype(np.float64)
    return out
