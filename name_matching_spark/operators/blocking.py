"""Blocking keys, block census, and salted candidate-pair generation.

The reference's candidate generator is a driver-side dict of blocks
(``blocking_implementation.py:41-151``) or a SQL self-join
(``src/db/operations.py:304-377``). Here blocking keys are columns and pair
generation is an equi-join that Catalyst executes; hot blocks are split with
explicit salting so no task ever materializes a quadratic block — the one
genuinely custom physical strategy this engine needs at 10^12-row scale
(SURVEY.md §4 "skew handling").

NULL/empty semantics: missing values coalesce into sentinel keys
("UNKNOWN" / soundex "0000"), reproducing
``blocking_implementation.py:127,140-144`` — plain equality on sentinels
replaces the reference SQL's NULL-matches-NULL logic
(``operations.py:348-362``) without defeating join optimizations.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from name_matching_spark.functions.phonetic import metaphone_key, nysiis_key, soundex_key

__all__ = [
    "BlockingConfig",
    "blocking_key_column",
    "add_blocking_key",
    "block_census",
    "blocking_stats",
    "candidate_pairs_self",
    "candidate_pairs_cross",
    "global_sort_rank",
    "sorted_neighborhood_pairs",
    "symspell_delete1_pairs",
    "symspell_delete_pairs",
    "salting_plan",
    "meta_blocking_wnp",
]


@dataclass
class BlockingConfig:
    """``passes``: named key recipes, each generating one candidate-pair
    pass; union-of-passes is deduplicated. ``hot_block_cap``: max rows per
    (block, salt) — blocks larger than this are split into
    ``ceil(n/cap)`` sub-blocks paired exactly once."""

    passes: list[str] = field(default_factory=lambda: ["phonetic"])
    hot_block_cap: int = 1_000


def blocking_key_column(kind: str) -> Column:
    """Key recipes over the normalized frame (needs ``first_std``,
    ``last_std``, ``sorted_full``).

    - ``phonetic``: first char of first name + soundex(last name) — the
      reference default (``blocking_implementation.py:38-39,125-137``).
    - ``soundex_full``: soundex(first) + soundex(last) — coarser phonetic
      canonicalization pass.
    - ``token_sorted``: the token-sorted full name (exact-key pass; catches
      token-order swaps that phonetic keys on first/last miss).
    - ``metaphone``: first char of first name + metaphone-style code of the
      last name (north_star's "double-metaphone-style canonicalization"
      companion to soundex — finer-grained, pure JVM expressions).
    """
    if kind == "phonetic":
        first_char = F.upper(F.substring(F.col("first_std"), 1, 1))
        first_char = F.when(first_char == "", "UNKNOWN").otherwise(first_char)
        return F.concat_ws("|", first_char, soundex_key(F.col("last_std")))
    if kind == "soundex_full":
        return F.concat_ws(
            "|", soundex_key(F.col("first_std")), soundex_key(F.col("last_std"))
        )
    if kind == "token_sorted":
        return F.when(F.col("sorted_full") == "", "UNKNOWN").otherwise(F.col("sorted_full"))
    if kind == "metaphone":
        first_char = F.upper(F.substring(F.col("first_std"), 1, 1))
        first_char = F.when(first_char == "", "UNKNOWN").otherwise(first_char)
        mp = metaphone_key(F.col("last_std"))
        return F.concat_ws("|", first_char, F.when(mp == "", "0000").otherwise(mp))
    if kind == "nysiis":
        first_char = F.upper(F.substring(F.col("first_std"), 1, 1))
        first_char = F.when(first_char == "", "UNKNOWN").otherwise(first_char)
        ny = nysiis_key(F.col("last_std"))
        return F.concat_ws("|", first_char, F.when(ny == "", "0000").otherwise(ny))
    raise ValueError(f"unknown blocking pass: {kind}")


def add_blocking_key(df: DataFrame, kind: str) -> DataFrame:
    return df.withColumn("block_key", blocking_key_column(kind))


def block_census(df: DataFrame, key_col: str = "block_key") -> DataFrame:
    """Block-size census (``groupBy.count``) — drives skew splitting and the
    blocking stats of ``blocking_implementation.py:99-113``."""
    return df.groupBy(key_col).count()


def blocking_stats(
    census1: DataFrame, census2: DataFrame | None = None
) -> dict[str, float]:
    """Blocks created / comparisons executed vs potential / speedup
    (``blocking_implementation.py:99-113`` semantics) computed from the
    census — no pair materialization needed."""
    if census2 is None:
        row = census1.agg(
            F.count("*").alias("blocks"),
            F.sum("count").alias("rows"),
            F.sum(F.col("count") * (F.col("count") - 1) / 2).alias("pairs"),
        ).collect()[0]
        potential = row["rows"] * (row["rows"] - 1) / 2 if row["rows"] else 0
        executed = float(row["pairs"] or 0)
        blocks = row["blocks"]
    else:
        j = census1.alias("a").join(census2.alias("b"), "block_key", "full")
        row = j.agg(
            F.count("*").alias("blocks"),
            F.sum(F.coalesce(F.col("a.count"), F.lit(0)) * F.coalesce(F.col("b.count"), F.lit(0))).alias("pairs"),
            F.sum(F.coalesce(F.col("a.count"), F.lit(0))).alias("rows1"),
            F.sum(F.coalesce(F.col("b.count"), F.lit(0))).alias("rows2"),
        ).collect()[0]
        potential = float((row["rows1"] or 0) * (row["rows2"] or 0))
        executed = float(row["pairs"] or 0)
        blocks = row["blocks"]
    return {
        "blocks_created": blocks,
        "comparisons_executed": executed,
        "comparisons_potential": potential,
        "comparisons_avoided": potential - executed,
        "speedup": (potential / executed) if executed else float("inf"),
    }


def _with_salt(df: DataFrame, key_col: str, id_col: str, cap: int) -> DataFrame:
    """Attach (nsub, salt) per row: nsub = ceil(block_size / cap) for hot
    blocks (broadcast of the small hot-key census), salt = hash(id) % nsub."""
    hot = (
        df.groupBy(key_col)
        .count()
        .filter(F.col("count") > cap)
        .select(key_col, F.ceil(F.col("count") / cap).cast("int").alias("nsub"))
    )
    out = (
        df.join(F.broadcast(hot), key_col, "left")
        .withColumn("nsub", F.coalesce(F.col("nsub"), F.lit(1)))
        .withColumn(
            "salt", F.pmod(F.xxhash64(F.col(id_col).cast("string")), F.col("nsub")).cast("int")
        )
    )
    return out


def candidate_pairs_self(
    df: DataFrame,
    payload_cols: list[str],
    key_col: str = "block_key",
    id_col: str = "record_id",
    cap: int = 1_000,
) -> DataFrame:
    """Within-block unordered candidate pairs of one table, each pair exactly
    once, hot blocks salt-split.

    Exactly-once pairing of sub-blocks: a row with salt ``s`` is replicated
    to target salts ``s..nsub-1`` and joined against rows with that salt, so
    sub-block pair (i, j) is generated only for i <= j; within equal salts an
    id inequality dedups. Output is orientation-normalized (``id1 < id2``) —
    orientation matters downstream because Monge-Elkan is asymmetric.

    Output: ``block_key, id1, id2, s1, s2`` where s1/s2 are payload structs.
    """
    d = _with_salt(df, key_col, id_col, cap)
    slim = d.select(
        F.col(key_col),
        F.col(id_col).alias("rid"),
        F.col("nsub"),
        F.col("salt"),
        F.struct(*[F.col(c) for c in payload_cols]).alias("payload"),
    )
    left = slim.withColumn("tgt", F.explode(F.sequence(F.col("salt"), F.col("nsub") - 1)))
    right = slim

    joined = left.alias("l").join(
        right.alias("r"),
        (F.col(f"l.{key_col}") == F.col(f"r.{key_col}"))
        & (F.col("l.tgt") == F.col("r.salt")),
    )
    pairs = joined.filter(
        (F.col("l.salt") < F.col("r.salt"))
        | ((F.col("l.salt") == F.col("r.salt")) & (F.col("l.rid") < F.col("r.rid")))
    )
    swap = F.col("l.rid") > F.col("r.rid")
    return pairs.select(
        F.col(f"l.{key_col}").alias("block_key"),
        F.when(swap, F.col("r.rid")).otherwise(F.col("l.rid")).alias("id1"),
        F.when(swap, F.col("l.rid")).otherwise(F.col("r.rid")).alias("id2"),
        F.when(swap, F.col("r.payload")).otherwise(F.col("l.payload")).alias("s1"),
        F.when(swap, F.col("l.payload")).otherwise(F.col("r.payload")).alias("s2"),
    )


def global_sort_rank(
    df: DataFrame,
    sort_col: str,
    id_col: str = "record_id",
    num_partitions: int | None = None,
) -> DataFrame:
    """Global 1-based rank over the total order ``(sort_col, id_col)``
    WITHOUT a single-partition window.

    A bare ``row_number() OVER (ORDER BY ...)`` collapses the whole table
    into one task — the classic scale killer. Instead: range-repartition on
    the sort key (each partition holds a contiguous key range), rank within
    each partition in parallel, then add per-partition offsets computed from
    a census that is exactly ``num_partitions`` rows — the only driver-side
    data is that tiny census.

    The ranked frame is ``localCheckpoint``-ed first: range-boundary
    sampling inside the exchange is job-dependent, so the census job and
    downstream consumers must observe the SAME physical partitioning.
    Checkpointing one narrow record frame is O(records) — never applied to
    pair frames.
    """
    spark = df.sparkSession
    n_part = num_partitions or spark.sparkContext.defaultParallelism
    from pyspark.sql.window import Window

    d = (
        df.repartitionByRange(n_part, F.col(sort_col), F.col(id_col))
        .withColumn("_pid", F.spark_partition_id())
        .withColumn(
            "_local_rank",
            F.row_number().over(
                Window.partitionBy("_pid").orderBy(sort_col, id_col)
            ),
        )
        .localCheckpoint(eager=True)
    )
    counts = {
        r["_pid"]: r["n"]
        for r in d.groupBy("_pid").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    offsets: dict[int, int] = {}
    acc = 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    if offsets:
        off_map = F.create_map(
            *[F.lit(v) for kv in offsets.items() for v in kv]
        )
        rank = (off_map[F.col("_pid")] + F.col("_local_rank")).cast("bigint")
    else:
        rank = F.col("_local_rank").cast("bigint")
    return d.withColumn("rank", rank).drop("_pid", "_local_rank")


def sorted_neighborhood_pairs(
    df: DataFrame,
    sort_col: str,
    window: int,
    payload_cols: list[str] | None = None,
    id_col: str = "record_id",
    num_partitions: int | None = None,
) -> DataFrame:
    """Sorted-neighborhood blocking (Hernandez & Stolfo's merge/purge): sort
    records by a fuzzy key, slide a window of ``window`` rows, pair every
    two records that co-occur in some window — i.e. all pairs with global
    rank distance ``1 .. window-1``.

    Complements equality blocking (``candidate_pairs_self``): a typo in the
    blocking key's first character moves a record to a *nearby* sort
    position rather than a different block, so SNM still pairs it.

    Distributed shape: :func:`global_sort_rank` (no single-partition sort),
    then buckets of ``window`` consecutive ranks; each row probes its own
    bucket and the next one, and an equi-join on bucket id + a rank-distance
    filter yields each neighbor pair exactly once. Pairs/bucket ~= w^2 —
    no skew possible regardless of key distribution (the advantage of SNM
    over equality blocking on hot keys).

    Output: ``id1, id2, key1, key2, rank_dist`` (+ ``s1``/``s2`` payload
    structs when ``payload_cols``), oriented by sort order (rank1 < rank2).
    """
    if window < 2:
        raise ValueError("window must be >= 2")
    ranked = global_sort_rank(df, sort_col, id_col, num_partitions)
    cols = [
        F.col(id_col).alias("rid"),
        F.col(sort_col).alias("key"),
        F.col("rank"),
        F.expr(f"CAST((rank - 1) DIV {int(window)} AS BIGINT)").alias("_bkt"),
    ]
    if payload_cols:
        cols.append(F.struct(*[F.col(c) for c in payload_cols]).alias("payload"))
    slim = ranked.select(*cols)
    left = slim.withColumn(
        "_tgt", F.explode(F.array(F.col("_bkt"), F.col("_bkt") + 1))
    )
    joined = left.alias("l").join(
        slim.alias("r"), F.col("l._tgt") == F.col("r._bkt")
    )
    pairs = joined.filter(
        (F.col("r.rank") > F.col("l.rank"))
        & (F.col("r.rank") - F.col("l.rank") < window)
    )
    out = [
        F.col("l.rid").alias("id1"),
        F.col("r.rid").alias("id2"),
        F.col("l.key").alias("key1"),
        F.col("r.key").alias("key2"),
        (F.col("r.rank") - F.col("l.rank")).cast("bigint").alias("rank_dist"),
    ]
    if payload_cols:
        out += [F.col("l.payload").alias("s1"), F.col("r.payload").alias("s2")]
    return pairs.select(*out)


def candidate_pairs_cross(
    df1: DataFrame,
    df2: DataFrame,
    payload_cols: list[str],
    key_col: str = "block_key",
    id_col: str = "record_id",
    cap: int = 1_000,
) -> DataFrame:
    """Blocked candidate pairs across two tables (the reference's
    ``get_blocking_candidates`` two-source join,
    ``src/db/operations.py:304-377``). Orientation is fixed: side 1 = df1.

    Skew handling: df2 rows are salted by hash(id) % nsub (nsub from df2's
    hot-block census); df1 rows are replicated across all sub-salts of their
    block. Each cross pair appears exactly once by construction.
    """
    hot = (
        df2.groupBy(key_col)
        .count()
        .filter(F.col("count") > cap)
        .select(key_col, F.ceil(F.col("count") / cap).cast("int").alias("nsub"))
    )
    right = (
        df2.join(F.broadcast(hot), key_col, "left")
        .withColumn("nsub", F.coalesce(F.col("nsub"), F.lit(1)))
        .withColumn(
            "salt", F.pmod(F.xxhash64(F.col(id_col).cast("string")), F.col("nsub")).cast("int")
        )
        .select(
            F.col(key_col),
            F.col(id_col).alias("rid"),
            F.col("salt"),
            F.struct(*[F.col(c) for c in payload_cols]).alias("payload"),
        )
    )
    left = (
        df1.join(F.broadcast(hot), key_col, "left")
        .withColumn("nsub", F.coalesce(F.col("nsub"), F.lit(1)))
        .withColumn("tgt", F.explode(F.sequence(F.lit(0), F.col("nsub") - 1)))
        .select(
            F.col(key_col),
            F.col(id_col).alias("rid"),
            F.col("tgt"),
            F.struct(*[F.col(c) for c in payload_cols]).alias("payload"),
        )
    )
    joined = left.alias("l").join(
        right.alias("r"),
        (F.col(f"l.{key_col}") == F.col(f"r.{key_col}"))
        & (F.col("l.tgt") == F.col("r.salt")),
    )
    return joined.select(
        F.col(f"l.{key_col}").alias("block_key"),
        F.col("l.rid").alias("id1"),
        F.col("r.rid").alias("id2"),
        F.col("l.payload").alias("s1"),
        F.col("r.payload").alias("s2"),
    )


def symspell_delete1_pairs(df: DataFrame, word_col: str = "word") -> DataFrame:
    """SymSpell-style delete-1 neighborhood join: every pair of distinct
    words whose single-character-delete neighborhoods intersect — a
    complete candidate set for full Damerau-Levenshtein distance <= 1
    (reference fuzzy path ``src/matcher.py:245``; Garbe's SymSpell scheme).

    Completeness at distance 1: a deletion/insertion pair shares the
    shorter word itself; a substitution pair shares the delete at the
    substituted position; an adjacent transposition ``..xy..``/``..yx..``
    shares the delete of either swapped character. So an equi-join on the
    variant string has recall = 1 vs the O(V^2) all-pairs scan (proved by
    q82's exact all-pairs oracle).

    Distributed shape: O(V * L) variant keys and ONE shuffle on the variant
    string — no quadratic stage anywhere. Variant-key frequency is bounded
    by alphabet size * L (each shared variant implies distance <= 1), so no
    hot-key salting is needed even at vocabulary scale.

    Input must be distinct non-null words; output ``w1 < w2``, distinct
    (a pair can share several variants, e.g. equal-modulo-transposition).
    """
    variants = df.select(
        F.col(word_col).alias("word"),
        F.explode(
            F.array_distinct(
                F.expr(
                    f"transform(sequence(0, length({word_col})), i -> "
                    f"IF(i = 0, {word_col}, "
                    f"concat(substring({word_col}, 1, i - 1), "
                    f"substring({word_col}, i + 1))))"
                )
            )
        ).alias("variant"),
    )
    return (
        variants.alias("a")
        .join(variants.alias("b"), "variant")
        .filter(F.col("a.word") < F.col("b.word"))
        .select(F.col("a.word").alias("w1"), F.col("b.word").alias("w2"))
        .distinct()
    )


def meta_blocking_wnp(
    blocks: DataFrame,
    id_col: str = "record_id",
    key_col: str = "block_key",
    max_block_size: int | None = None,
) -> DataFrame:
    """Meta-blocking with weighted node pruning (Papadakis et al.,
    "Meta-Blocking: Taking Entity Resolution to the Next Level", TKDE'14):
    rebuild the candidate graph from a (record, block key) bipartite frame,
    weight every edge by CBS — the number of blocks the two records
    co-occur in — and keep an edge iff its weight reaches the AVERAGE edge
    weight of EITHER endpoint's neighborhood. Redundancy (multi-pass /
    token-based blocking puts a record in many blocks) becomes evidence
    instead of wasted comparisons, and weak one-shared-block edges around
    promiscuous records are pruned before any expensive pairwise scoring.

    ``max_block_size`` applies standard block purging first: blocks larger
    than the cap contribute no edges (their CBS evidence is weak and their
    pair cost is quadratic — at web scale a stopword-like key would
    otherwise dominate the self-join).

    The keep rule compares with integer cross-multiplication
    (``cbs * n_edges >= sum_weights`` per endpoint) — no float averages, so
    engines agree bit-exactly.

    Output: surviving edges ``(id1, id2, cbs)`` with ``id1 < id2``.

    Scale shape: one self-join per block key (purging bounds the block
    quadratic), one pair aggregation for CBS, one node census, two hash
    joins of the (small) census back onto edges. Everything keyed; no
    cross product, no window over the pair stream.
    """
    b = blocks.select(F.col(id_col).alias("_id"), F.col(key_col).alias("_k")).distinct()
    if max_block_size is not None:
        sizes = b.groupBy("_k").agg(F.count(F.lit(1)).alias("_n"))
        b = b.join(
            sizes.filter(F.col("_n") <= int(max_block_size)).select("_k"), "_k"
        )
    edges = (
        b.alias("x")
        .join(b.alias("y"), "_k")
        .filter(F.col("x._id") < F.col("y._id"))
        .select(F.col("x._id").alias("id1"), F.col("y._id").alias("id2"))
        .groupBy("id1", "id2")
        .agg(F.count(F.lit(1)).alias("cbs"))
        # consumed by the node census AND the final keep-rule joins:
        # materialize the block self-join + CBS aggregation once
        .localCheckpoint(eager=False)
    )
    node = (
        edges.select(F.col("id1").alias("_nid"), "cbs")
        .unionAll(edges.select(F.col("id2").alias("_nid"), "cbs"))
        .groupBy("_nid")
        .agg(F.sum("cbs").alias("_sw"), F.count(F.lit(1)).alias("_ne"))
    )
    return (
        edges.join(node.withColumnsRenamed({"_nid": "id1", "_sw": "_sw1", "_ne": "_ne1"}), "id1")
        .join(node.withColumnsRenamed({"_nid": "id2", "_sw": "_sw2", "_ne": "_ne2"}), "id2")
        .filter(
            (F.col("cbs") * F.col("_ne1") >= F.col("_sw1"))
            | (F.col("cbs") * F.col("_ne2") >= F.col("_sw2"))
        )
        .select("id1", "id2", F.col("cbs").cast("long").alias("cbs"))
    )


def symspell_delete_pairs(
    df: DataFrame, word_col: str = "word", max_edits: int = 2
) -> DataFrame:
    """Generalized SymSpell delete-neighborhood join: every pair of
    distinct words whose <=``max_edits``-character-delete neighborhoods
    intersect — a complete candidate set for full Damerau-Levenshtein
    distance <= ``max_edits`` (Garbe's scheme at arbitrary edit radius;
    the delete-1 special case is :func:`symspell_delete1_pairs`, and
    completeness at radius 2 is proved corpus-wide by q118's exact
    all-pairs DL oracle).

    Each edit (insert/delete/substitute/transpose) between w1 and w2 can
    be absorbed by deleting at most one character from each side, so words
    at DL <= t share a variant reachable by <= t deletions from both.
    Variant count is O(L^t / t!) per word (~29 for t = 2, L = 7); the join
    stays ONE shuffle on the variant string. Very short variants (e.g. the
    empty string, shared by all words of length <= t) form the hottest
    buckets, but their size is bounded by the count of near-degenerate
    words, not the vocabulary.

    Input must be distinct non-null words; output ``w1 < w2``, distinct,
    UNVERIFIED (callers score with the exact DL kernel and filter).
    """
    if max_edits not in (1, 2):
        raise ValueError("max_edits must be 1 or 2")
    del_expr = (
        f"transform(sequence(1, length({word_col})), i -> "
        f"concat(substring({word_col}, 1, i - 1), substring({word_col}, i + 1)))"
    )
    if max_edits == 1:
        variants_expr = (
            f"array_distinct(concat(array({word_col}), {del_expr}))"
        )
    else:
        # deletes of deletes: one nested higher-order pass, flattened
        d2 = (
            f"flatten(transform({del_expr}, w1 -> "
            f"transform(sequence(1, length(w1)), j -> "
            f"concat(substring(w1, 1, j - 1), substring(w1, j + 1)))))"
        )
        variants_expr = (
            f"array_distinct(concat(array({word_col}), {del_expr}, {d2}))"
        )
    variants = df.select(
        F.col(word_col).alias("word"),
        F.explode(F.expr(variants_expr)).alias("variant"),
    )
    return (
        variants.alias("a")
        .join(variants.alias("b"), "variant")
        .filter(F.col("a.word") < F.col("b.word"))
        .select(F.col("a.word").alias("w1"), F.col("b.word").alias("w2"))
        .distinct()
    )


def salting_plan(
    df: DataFrame,
    key_col: str = "block_key",
    cap: int = 1000,
) -> DataFrame:
    """Skew cost report for the salted self-join: per block, the pair
    count the block would generate, the sub-block fan-out the salting cap
    implies (``nsub = ceil(n / cap)``, the :func:`_with_salt` rule), the
    number of exactly-once sub-block pair tasks, and an upper bound on
    pairs per task under a balanced split (hash salting approaches it in
    expectation). This is the audit that shows WHY a hot block stops
    being the curse-of-the-last-reducer: max_task_pairs is ~cap^2 instead
    of n^2.

    Pure integer arithmetic over the (blocks-sized) census — one
    map-side-combined groupBy, no pair materialization. Blocks with a
    single record emit no row.
    """
    census = (
        df.groupBy(key_col)
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 2)
    )
    return census.select(
        key_col,
        F.col("n").cast("long").alias("n"),
        F.expr("CAST(n * (n - 1) DIV 2 AS BIGINT)").alias("total_pairs"),
        F.expr(f"CAST((n + {cap} - 1) DIV {cap} AS BIGINT)").alias("nsub"),
        F.expr(
            f"CAST(((n + {cap} - 1) DIV {cap})"
            f" * ((n + {cap} - 1) DIV {cap} + 1) DIV 2 AS BIGINT)"
        ).alias("n_tasks"),
        F.expr(
            f"CAST(((n + ((n + {cap} - 1) DIV {cap}) - 1)"
            f" DIV ((n + {cap} - 1) DIV {cap}))"
            f" * ((n + ((n + {cap} - 1) DIV {cap}) - 1)"
            f" DIV ((n + {cap} - 1) DIV {cap})) AS BIGINT)"
        ).alias("max_task_pairs_bound"),
        (F.col("n") > cap).cast("int").alias("salted"),
    )
