"""The flagship plan: read -> normalize -> block -> salted pair join ->
fused scoring -> threshold filter -> (top-k) -> results.

One Spark job, no driver loops — the reference's ``match_db_tables`` path
(``src/name_matcher.py:496-578``) re-crossed the blocked frames
(``:553-554``, a known over-comparison); this plan keeps the pair structure
through scoring while preserving per-pair score semantics.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from name_matching_spark.operators.blocking import (
    BlockingConfig,
    blocking_key_column,
    candidate_pairs_cross,
    candidate_pairs_self,
)
from name_matching_spark.operators.normalize import LinkageSchema, normalize_records
from name_matching_spark.operators.score_pairs import (
    MatcherConfig,
    payload_select_exprs,
    score_pairs,
    scoring_struct_cols,
    top_k_per_record,
)

__all__ = [
    "dedup_table",
    "link_tables",
    "prepare_linkage_frame",
    "validate_linkage_config",
    "assign_to_anchors",
]


def validate_linkage_config(schema: LinkageSchema, matcher: MatcherConfig) -> None:
    """The schema (which input columns exist) and the matcher (which fields
    are scored) encode overlapping facts — validate them against each other
    up front so misalignment fails with a clear message instead of an
    UNRESOLVED_COLUMN AnalysisException deep inside the pair join."""
    if matcher.use_birthdate and not schema.birthdate:
        raise ValueError(
            "matcher.use_birthdate=True but schema.birthdate is None — "
            "set LinkageSchema(birthdate=...) or MatcherConfig(use_birthdate=False)"
        )
    missing_geo = [g for g in matcher.geo_fields if g not in schema.geo_fields]
    if missing_geo:
        raise ValueError(
            f"matcher.geo_fields {missing_geo} not in schema.geo_fields "
            f"{schema.geo_fields} — align the two configs"
        )


def prepare_linkage_frame(
    df: DataFrame, schema: LinkageSchema | None, matcher: MatcherConfig
) -> DataFrame:
    """normalize + project to (record_id, scoring payload, blocking inputs),
    after :func:`validate_linkage_config`."""
    schema = schema or LinkageSchema()
    validate_linkage_config(schema, matcher)
    # a small/single-file source arrives as one partition and the normalize
    # UDF would run serially on one core — spread BEFORE the UDF, not just
    # before the pair join (profiled: 5s -> <1s for the sf0.1 normalize pass)
    sc = df.sparkSession.sparkContext
    if df.rdd.getNumPartitions() < sc.defaultParallelism:
        df = df.repartition(sc.defaultParallelism)
    norm = normalize_records(df, schema)
    # sorted_full is a blocking input (token_sorted pass), carried on the
    # RECORD frame only — it is not part of the pair payload (the scoring
    # UDF re-derives it from the components batch-side)
    return norm.select(
        F.col("record_id"),
        F.col("sorted_full"),
        *payload_select_exprs(matcher),
    )


def _multi_pass_pairs(
    work: DataFrame,
    payload_cols: list[str],
    blocking: BlockingConfig,
    other: DataFrame | None = None,
) -> DataFrame:
    frames = []
    for p in blocking.passes:
        keyed = work.withColumn("block_key", blocking_key_column(p))
        # A small/single-file source arrives as very few partitions; every
        # narrow op (and a broadcast pair join) preserves that, so scoring
        # would serialize onto one core. Spread to cluster parallelism
        # first — a no-op shuffle-wise when the input is already wide.
        sc = keyed.sparkSession.sparkContext
        target = sc.defaultParallelism
        if keyed.rdd.getNumPartitions() < target:
            keyed = keyed.repartition(target)
        # the keyed frame is consumed 3x (hot census + both join arms); a
        # lazy local checkpoint materializes the normalize/parse UDF chain
        # once instead of re-running it per consumer, and keeps the pair-join
        # plan small
        keyed = keyed.localCheckpoint(eager=False)
        if other is None:
            frames.append(
                candidate_pairs_self(keyed, payload_cols, cap=blocking.hot_block_cap)
            )
        else:
            keyed2 = other.withColumn("block_key", blocking_key_column(p))
            keyed2 = keyed2.localCheckpoint(eager=False)
            frames.append(
                candidate_pairs_cross(keyed, keyed2, payload_cols, cap=blocking.hot_block_cap)
            )
    pairs = reduce(lambda a, b: a.unionByName(b), frames)
    if len(frames) > 1:
        # a pair found by several passes is scored once (pair-uniqueness
        # constraint, src/db/models.py:189-191)
        pairs = pairs.dropDuplicates(["id1", "id2"])
    return pairs


def _payload_fields(matcher: MatcherConfig) -> list[str]:
    return ["first_std", "middle_std", "last_std"] + [
        f"geo{i}" for i in range(len(matcher.geo_fields))
    ]


def _build_class_encoding(
    works: list[DataFrame],
    matcher: MatcherConfig,
    max_classes: int,
    required: bool,
):
    """Dictionary-encode the scoring payload: distinct payload tuples get
    dense class ids; every work frame gains a ``class_id`` column via a
    broadcast join, and the (small) id->payload dictionary is returned for
    the scoring UDF's closure.

    Returns ``(encoded_works, arrays)`` or ``None`` when the corpus has
    more than ``max_classes`` distinct payloads (the dictionary must fit
    on the driver and in each Python worker — at web scale a diverse
    corpus exceeds any sane cap, and the direct struct-payload path is the
    right plan). The over-cap bail is decided by a CHEAP probe first —
    ``approx_count_distinct`` is one map-side-combined aggregate, no wide
    shuffle — so the path that gives up on encoding never pays a
    corpus-wide ``dropDuplicates`` for the privilege (at 100x scale that
    wasted shuffle dominates). Only a probe within 1.25x of the cap (or
    ``required=True``, which needs the exact count for its error message)
    falls through to the exact distinct. Class ids are assigned by sorted
    payload order, so the encoding is deterministic across runs and
    partitionings.
    """
    import numpy as np
    import pandas as pd

    fields = _payload_fields(matcher)
    union = works[0]
    for w in works[1:]:
        union = union.unionByName(w)
    if not required:
        # default rsd is 5%; 1.25x leaves ~5 sigma against a false bail
        approx = union.select(
            F.approx_count_distinct(F.struct(*fields)).alias("d")
        ).first()["d"]
        if approx > max_classes * 1.25:
            return None
    classes = union.select(*fields).dropDuplicates()
    d = classes.count()
    if d > max_classes or d == 0:
        if required:
            raise ValueError(
                f"dict_encode=True but corpus has {d} distinct payloads "
                f"(dict_max_classes={max_classes})"
            )
        return None
    rows = classes.orderBy(
        *[F.col(c).asc_nulls_first() for c in fields]
    ).collect()
    arrays = {
        c: np.array([r[c] for r in rows], dtype=object) for c in fields
    }
    spark = works[0].sparkSession
    # from pandas, the mapping takes the Arrow path (a list of tuples would
    # be parallelized through Python workers)
    mapping = spark.createDataFrame(
        pd.DataFrame({"class_id": np.arange(len(rows), dtype=np.int64), **arrays}),
        schema="class_id long, " + ", ".join(f"{c} string" for c in fields),
    )
    ck = F.md5(F.to_json(F.struct(*[F.col(c) for c in fields])))
    mapping_keyed = mapping.withColumn("_ck", ck).select("_ck", "class_id")
    encoded = [
        w.withColumn("_ck", ck)
        .join(F.broadcast(mapping_keyed), "_ck")
        .drop("_ck")
        for w in works
    ]
    return encoded, arrays


def dedup_table(
    df: DataFrame,
    schema: LinkageSchema | None = None,
    blocking: BlockingConfig | None = None,
    matcher: MatcherConfig | None = None,
    top_k: int | None = None,
    keep_non_match: bool = False,
    dict_encode: bool | None = None,
    dict_max_classes: int = 65536,
) -> DataFrame:
    """Self-linkage of one table: all within-block pairs, scored + classified.

    Non-matches are dropped from the result (``src/name_matcher.py:325-332``)
    unless ``keep_non_match``; ``top_k`` keeps the best k matches per id1
    (``:334-337``).

    ``dict_encode=None`` (default) decides ADAPTIVELY: when the corpus has
    <= ``dict_max_classes`` distinct scoring payloads, pairs ship two
    bigint class ids through the scoring UDF instead of the string structs
    (the stage is measured Arrow-transfer-bound; see ``score_pairs``) and
    the id->payload dictionary rides the UDF closure. Diverse corpora
    exceed the cap and keep the direct path — values are bit-identical
    either way. The auto decision runs two small jobs at plan-build time;
    pass ``dict_encode=False`` to keep plan construction fully lazy, or
    ``True`` to require the encoding (raises above the cap).
    """
    matcher = matcher or MatcherConfig()
    blocking = blocking or BlockingConfig()
    work = prepare_linkage_frame(df, schema, matcher)
    class_dict = None
    pair_payload = scoring_struct_cols(matcher)
    if dict_encode is None or dict_encode:
        # the encoding probe/distinct/collect are three eager jobs and the
        # final plan is a fourth consumer — materialize the normalize/parse
        # UDF chain ONCE (lazy local checkpoint: first job writes the
        # blocks, the rest read them) instead of re-running it per job.
        # Same executor-local-storage tradeoff as _multi_pass_pairs.
        work = work.localCheckpoint(eager=False)
        enc = _build_class_encoding(
            [work], matcher, dict_max_classes, required=bool(dict_encode)
        )
        if enc is not None:
            (work,), class_dict = enc
            pair_payload = ["class_id"] + (
                ["birthdate_std"] if matcher.use_birthdate else []
            )
    pairs = _multi_pass_pairs(work, pair_payload, blocking)
    results = score_pairs(pairs, matcher, class_dict=class_dict)
    if not keep_non_match:
        results = results.filter(F.col("classification") != "non_match")
    if top_k:
        results = top_k_per_record(results, top_k)
    return results


def link_tables(
    df1: DataFrame,
    df2: DataFrame,
    schema1: LinkageSchema | None = None,
    schema2: LinkageSchema | None = None,
    blocking: BlockingConfig | None = None,
    matcher: MatcherConfig | None = None,
    top_k: int | None = None,
    keep_non_match: bool = False,
    dict_encode: bool | None = None,
    dict_max_classes: int = 65536,
) -> DataFrame:
    """Cross-linkage of two tables (the ``match_db_tables`` shape,
    ``src/name_matcher.py:496-578``). Side 1 = df1 (orientation fixed —
    Monge-Elkan is asymmetric). ``dict_encode`` as in :func:`dedup_table`
    (one SHARED dictionary over both sides' payloads)."""
    matcher = matcher or MatcherConfig()
    blocking = blocking or BlockingConfig()
    work1 = prepare_linkage_frame(df1, schema1, matcher)
    work2 = prepare_linkage_frame(df2, schema2, matcher)
    class_dict = None
    pair_payload = scoring_struct_cols(matcher)
    if dict_encode is None or dict_encode:
        enc = _build_class_encoding(
            [work1, work2], matcher, dict_max_classes, required=bool(dict_encode)
        )
        if enc is not None:
            (work1, work2), class_dict = enc
            pair_payload = ["class_id"] + (
                ["birthdate_std"] if matcher.use_birthdate else []
            )
    pairs = _multi_pass_pairs(work1, pair_payload, blocking, other=work2)
    results = score_pairs(pairs, matcher, class_dict=class_dict)
    if not keep_non_match:
        results = results.filter(F.col("classification") != "non_match")
    if top_k:
        results = top_k_per_record(results, top_k)
    return results


def assign_to_anchors(
    new_df: DataFrame,
    base_df: DataFrame,
    schema: LinkageSchema | None = None,
    threshold: float | None = None,
    blocking: BlockingConfig | None = None,
    matcher: MatcherConfig | None = None,
) -> DataFrame:
    """Incremental linkage: assign each record of ``new_df`` to its best
    matching anchor in ``base_df`` — blocked cross-linkage, then per-record
    top-1 at/above the match threshold; unmatched records open new entities
    (``anchor_id = -1``).

    The production shape for a corpus that grows in batches: a daily delta
    scores only |delta| x avg-block-size pairs against the existing corpus
    instead of re-running the full self-join, and the anchor assignment is
    the cluster merge (new record joins the anchor's cluster).

    Output: ``record_id, anchor_id, best_score, is_new`` (best_score NULL
    for new entities). Ties on score break toward the lowest anchor id.
    """
    from pyspark.sql.window import Window

    matcher = matcher or MatcherConfig()
    thr = matcher.match_threshold if threshold is None else threshold
    scored = link_tables(
        new_df, base_df, schema, schema,
        blocking=blocking, matcher=matcher, keep_non_match=True,
    )
    cand = scored.filter(F.col("score") >= F.lit(float(thr)))
    # per-delta-record best anchor as a min_by AGGREGATE on the
    # (-score, id2) struct — identical (score desc, id2 asc) tie-break to
    # a ranking window, but map-side combining ships one row per delta
    # record per mapper instead of the whole candidate stream
    best = (
        cand.groupBy("id1")
        .agg(
            F.min_by(
                F.struct(F.col("id2"), F.col("score")),
                F.struct((-F.col("score")).alias("_negs"), F.col("id2")),
            ).alias("_b")
        )
        .select(
            "id1",
            F.col("_b.id2").alias("_anchor"),
            F.col("_b.score").alias("best_score"),
        )
    )
    sch = schema or LinkageSchema()
    ids = new_df.select(F.col(sch.id_col).alias("record_id"))
    out = ids.join(best, ids.record_id == best.id1, "left")
    # sentinel typed to the id column — a bare -1 would coerce string ids
    # to BIGINT under ANSI and blow up on non-numeric ids
    sentinel = F.lit(-1).cast(ids.schema["record_id"].dataType)
    return out.select(
        "record_id",
        F.coalesce(F.col("_anchor"), sentinel).alias("anchor_id"),
        F.col("best_score"),
        F.when(F.col("_anchor").isNull(), 1).otherwise(0).alias("is_new"),
    )
