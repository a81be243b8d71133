"""Physical-plan regression guards: properties that silently cost 4x when
they rot (observed during round-1 profiling)."""

import contextlib
import io
import re

from pyspark.sql import functions as F

import pytest

from name_matching_spark.datagen import person_records
from name_matching_spark.functions.udfs import parse_name_udf, standardize_udf
from name_matching_spark.operators.blocking import blocking_key_column
from name_matching_spark.operators.normalize import LinkageSchema, normalize_records
from name_matching_spark.plans.linkage import dedup_table


def _formatted_plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _node_count(plan: str, node: str) -> int:
    """Distinct plan-node ids for a node type ("formatted" mode prints each
    node in both the tree and the details section)."""
    return len(set(re.findall(rf"\((\d+)\) {node}", plan)))


def test_scoring_udf_evaluates_once(spark):
    """CollapseProject inlines one _cs reference per consumer unless the
    fused UDF is nondeterministic — this plan once contained 4
    ArrowEvalPython nodes (4x the scoring cost)."""
    recs = person_records(n_entities=30, seed=2)
    df = spark.createDataFrame(recs.drop(columns=["entity_id"]))
    out = dedup_table(df, LinkageSchema(id_col="record_id"), keep_non_match=True)
    plan = _formatted_plan(out)
    assert _node_count(plan, "ArrowEvalPython") == 1, plan


def test_normalize_not_recomputed_per_join_arm(spark):
    """The keyed frame is localCheckpoint'd before the self-join: the pair
    plan must not re-scan the source per consumer (was: 24 scans)."""
    recs = person_records(n_entities=30, seed=2)
    df = spark.createDataFrame(recs.drop(columns=["entity_id"]))
    out = dedup_table(df, LinkageSchema(id_col="record_id"), keep_non_match=True)
    plan = _formatted_plan(out)
    # the only scans below the checkpoint are ExistingRDD reads
    assert _node_count(plan, "Scan parquet") == 0
    assert _node_count(plan, "ArrowEvalPython") <= 1


@pytest.mark.parametrize("kind", ["phonetic", "soundex_full"])
def test_soundex_block_key_has_no_python_node(spark, kind):
    """The soundex blocking keys are JVM expressions: as a UDF, soundex ran
    in one ArrowEvalPython node per consumer of the keyed frame (8 per
    checkpoint range)."""
    df = spark.createDataFrame(
        [("juan", "dela cruz", "cruz juan")], "first_std string, last_std string, sorted_full string"
    )
    plan = _formatted_plan(df.select(blocking_key_column(kind)))
    assert _node_count(plan, "ArrowEvalPython") == 0, plan


NORMALIZE_SCHEMAS = {
    "default": LinkageSchema(id_col="record_id"),
    "one_geo_no_birthdate": LinkageSchema(
        id_col="record_id", birthdate=None, geo_fields=["province_name"]
    ),
    "no_geo": LinkageSchema(id_col="record_id", geo_fields=[]),
}


@pytest.mark.parametrize("name", sorted(NORMALIZE_SCHEMAS))
def test_normalize_is_one_python_node(spark, name):
    """Parse and every standardize cross into Python once per record: one
    fused UDF, not a parse node feeding a standardize node (and not one
    copy of the fused UDF per extracted field)."""
    df = spark.createDataFrame(person_records(n_entities=10, seed=2).drop(columns=["entity_id"]))
    plan = _formatted_plan(normalize_records(df, NORMALIZE_SCHEMAS[name]))
    assert _node_count(plan, "ArrowEvalPython") == 1, plan


def _two_udf_normalize(df, schema: LinkageSchema):
    """The parse -> per-field standardize chain the fused UDF replaced."""
    parsed = df.withColumn(
        "_parsed",
        parse_name_udf(F.col(schema.first_name), F.col(schema.middle_name_last_name)),
    )
    return parsed.select(
        F.col(schema.id_col).alias("record_id"),
        standardize_udf(F.col("_parsed.first_name")).alias("first_std"),
        standardize_udf(F.col("_parsed.middle_name")).alias("middle_std"),
        standardize_udf(F.col("_parsed.last_name")).alias("last_std"),
        *[standardize_udf(F.col(g)).alias(f"{g}_std") for g in schema.geo_fields],
    )


def _value_hash(df):
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")).alias("h"),
    ).first()
    return int(row["n"]), row["h"]


def test_fused_normalize_equals_two_udf_chain(spark):
    schema = NORMALIZE_SCHEMAS["default"]
    df = spark.createDataFrame(person_records(n_entities=300, seed=5).drop(columns=["entity_id"]))
    want = _two_udf_normalize(df, schema)
    got = normalize_records(df, schema).select(*want.columns)
    assert _value_hash(got) == _value_hash(want)


def test_hot_census_is_broadcast(spark):
    recs = person_records(n_entities=30, seed=2)
    df = spark.createDataFrame(recs.drop(columns=["entity_id"]))
    out = dedup_table(df, LinkageSchema(id_col="record_id"), keep_non_match=True)
    plan = _formatted_plan(out)
    assert "BroadcastHashJoin" in plan


def test_parquet_pushdown_and_pruning(spark):
    """Filters reach the parquet scan and projection prunes columns (the
    SURVEY §4 'push down and prune' contract): q19's doc_id < 100 must
    appear in PushedFilters and the scan must not read source/lang."""
    import __spark_entry__ as e

    df = e.q19_minhash(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    scan_lines = [l for l in plan.splitlines() if "FileScan parquet" in l]
    assert scan_lines, plan
    scan = scan_lines[0]
    assert "LessThan(doc_id,100)" in scan
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in scan


def test_dict_encoded_plan_shape(spark):
    """Dictionary-encoded scoring: exactly one ArrowEvalPython over the
    int-pair columns, and the class-id mapping attaches via a BROADCAST
    join (a shuffle join on the tiny mapping would serialize the work
    frame through an exchange)."""
    recs = person_records(n_entities=30, seed=2)
    df = spark.createDataFrame(recs.drop(columns=["entity_id"]))
    out = dedup_table(
        df, LinkageSchema(id_col="record_id"), keep_non_match=True,
        dict_encode=True,
    )
    plan = _formatted_plan(out)
    assert _node_count(plan, "ArrowEvalPython") == 1, plan
    assert "BroadcastHashJoin" in plan
    assert "class_id" in plan


def test_asof_and_interval_join_plans_have_no_cartesian(spark):
    """The temporal joins must stay equi-join/window shaped: no
    CartesianProduct or BroadcastNestedLoopJoin anywhere (the naive
    range-join formulation Catalyst would pick for theta joins)."""
    import __spark_entry__ as e

    for q in ("q47_asof_join", "q48_interval_join"):
        df = e.queries()[q](spark, "/root/testdata/sf0.001")
        plan = _formatted_plan(df)
        assert _node_count(plan, "CartesianProduct") == 0, q
        assert _node_count(plan, "BroadcastNestedLoopJoin") == 0, q
    # as-of: the window is the only wide op — exactly one Exchange
    # (hashpartitioning on user_id) below it feeds sort+window
    asof_plan = _formatted_plan(e.queries()["q47_asof_join"](spark, "/root/testdata/sf0.001"))
    assert _node_count(asof_plan, "Window") == 1


def test_symspell_join_is_equi_join(spark):
    """The delete-1 neighborhood join must stay an equi-join on the
    variant string — no cartesian/broadcast-nested-loop shape."""
    from name_matching_spark.operators.blocking import symspell_delete1_pairs

    df = spark.createDataFrame(
        [(w,) for w in ("juan", "juna", "maria", "mara")], "word string"
    )
    plan = _formatted_plan(symspell_delete1_pairs(df))
    assert _node_count(plan, "CartesianProduct") == 0, plan
    assert _node_count(plan, "BroadcastNestedLoopJoin") == 0, plan


def test_ppjoin_is_candidate_linear(spark):
    """PPJoin's joins are all equi-joins (prefix token, then id-keyed
    intersection joins) — never a cross product."""
    from name_matching_spark.operators.dedup import ppjoin_prefix_pairs

    df = spark.createDataFrame(
        [(1, "a b c"), (2, "a b d"), (3, "x y z")], "doc_id long, text string"
    )
    plan = _formatted_plan(ppjoin_prefix_pairs(df, threshold=0.5))
    assert _node_count(plan, "CartesianProduct") == 0, plan
    assert _node_count(plan, "BroadcastNestedLoopJoin") == 0, plan


def test_mutual_best_match_is_aggregate_not_window(spark):
    """Per-record best must be the map-side-combining aggregate — a
    ranking window here re-sorts the whole mirrored pair stream."""
    from name_matching_spark.operators.score_pairs import mutual_best_match

    pairs = spark.createDataFrame(
        [(1, 2, 0.9), (2, 3, 0.8)], "id1 long, id2 long, score double"
    )
    plan = _formatted_plan(mutual_best_match(pairs))
    assert _node_count(plan, "Window") == 0, plan
    assert _node_count(plan, "HashAggregate") >= 1, plan


def test_roc_auc_window_sees_census_not_rows(spark):
    """The AUC rank window must run AFTER the per-score-value census
    aggregate (distinct scores only) — window directly over the pair
    stream is the 100 TB anti-pattern."""
    from name_matching_spark.operators.evaluation import roc_auc

    pairs = spark.createDataFrame(
        [(i, i % 3 == 0, i % 5) for i in range(50)],
        "id long, is_match boolean, score long",
    )
    plan = _formatted_plan(roc_auc(pairs, "score"))
    # aggregate (census) must appear below the window in the plan tree:
    # the window's child chain contains a HashAggregate
    w = plan.index("Window")
    assert "HashAggregate" in plan[w:], plan


def test_class_encoding_overcap_bails_without_full_distinct(spark, monkeypatch):
    """When the payload cardinality probe (approx_count_distinct, one
    map-side agg) already exceeds the cap, the bail path must NOT pay a
    corpus-wide dropDuplicates shuffle — at 100x scale that wasted wide
    shuffle dominates the fallback path."""
    from pyspark.sql import DataFrame

    from name_matching_spark.operators.score_pairs import MatcherConfig
    from name_matching_spark.plans.linkage import _build_class_encoding

    work = spark.createDataFrame(
        [(i, f"fn{i}", f"md{i}", f"ln{i}") for i in range(400)],
        "record_id long, first_std string, middle_std string, last_std string",
    )

    def _no_full_distinct(self, *a, **k):
        raise AssertionError("over-cap bail ran the full dropDuplicates")

    monkeypatch.setattr(DataFrame, "dropDuplicates", _no_full_distinct)
    out = _build_class_encoding(
        [work], MatcherConfig(geo_fields=[]), max_classes=16, required=False
    )
    assert out is None

    # required=True still takes the exact path (needs the exact count in
    # its error) — restore and confirm the cap error fires
    monkeypatch.undo()
    import pytest as _pytest

    with _pytest.raises(ValueError, match="distinct payloads"):
        _build_class_encoding(
            [work], MatcherConfig(geo_fields=[]), max_classes=16, required=True
        )


def test_line_dedup_plan_is_hash_keyed(spark):
    """line_dedup must stay equi-join shaped: the boilerplate removal is a
    left-anti hash join on md5(norm) and reassembly a doc-keyed aggregate —
    no cartesian product, no window over the line stream."""
    from name_matching_spark.operators.text_analysis import line_dedup

    docs = spark.createDataFrame(
        [(1, "a\nb"), (2, "a\nc")], "doc_id long, text string"
    )
    plan = _formatted_plan(line_dedup(docs))
    assert _node_count(plan, "CartesianProduct") == 0, plan
    assert _node_count(plan, "Window") == 0, plan
    assert "LeftAnti" in plan, plan


def test_meta_blocking_is_equi_join_shaped(spark):
    """Meta-blocking's stages (block self-join, CBS agg, node census,
    keep-rule joins) are all equi-joins/aggregates — no cartesian, no
    broadcast-nested-loop, no window over the edge stream."""
    from name_matching_spark.operators.blocking import meta_blocking_wnp

    blocks = spark.createDataFrame(
        [("A", "k1"), ("B", "k1"), ("A", "k2"), ("B", "k2"), ("C", "k1")],
        "record_id string, block_key string",
    )
    plan = _formatted_plan(meta_blocking_wnp(blocks, max_block_size=10))
    assert _node_count(plan, "CartesianProduct") == 0, plan
    assert _node_count(plan, "BroadcastNestedLoopJoin") == 0, plan
    assert _node_count(plan, "Window") == 0, plan


def test_duplicate_spans_window_is_per_doc_islands_only(spark):
    """ExactSubstr must stay pair-free: no joins other than the census
    semi-join (no cartesian/BNLJ), and the only windows are the island
    merge's lag+running-sum over the (small) duplicated-position stream."""
    from name_matching_spark.operators.dedup import duplicate_spans

    docs = spark.createDataFrame(
        [(1, "abcdefghij abcdefghij"), (2, "abcdefghij zz")],
        "doc_id long, text string",
    )
    plan = _formatted_plan(duplicate_spans(docs, k=10))
    assert _node_count(plan, "CartesianProduct") == 0, plan
    assert _node_count(plan, "BroadcastNestedLoopJoin") == 0, plan
    assert _node_count(plan, "Window") <= 2, plan


def test_triangle_count_no_cartesian(spark):
    """Wedge generation and closure are equi-joins on node keys — never a
    cross product."""
    from name_matching_spark.operators.clustering import triangle_count

    df = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4)], "id1 long, id2 long"
    )
    plan = _formatted_plan(triangle_count(df))
    assert _node_count(plan, "CartesianProduct") == 0, plan
    assert _node_count(plan, "BroadcastNestedLoopJoin") == 0, plan


def test_kmv_sketch_plan_no_window_no_cartesian(spark):
    """The KMV sketch path must stay two aggregations (partition bottom-k +
    merge): no Window over the value stream, no cartesian, and no
    dropDuplicates-style global distinct of the values."""
    from name_matching_spark.operators.sketches import kmv_distinct

    df = spark.createDataFrame(
        [("g", f"v{i}") for i in range(50)], ["g", "v"]
    )
    plan = _formatted_plan(kmv_distinct(df, "g", "v", k=8, include_exact=False))
    assert _node_count(plan, "Window") == 0, plan
    assert "CartesianProduct" not in plan, plan


def test_chunk_documents_plan_is_join_free(spark):
    """Chunk assignment emits chunk ids per token directly — the plan must
    contain no join at all (a range-join implementation would be per-doc
    quadratic)."""
    from name_matching_spark.operators.text_analysis import chunk_documents

    df = spark.createDataFrame([(1, "a b c d e")], ["doc_id", "text"])
    plan = _formatted_plan(chunk_documents(df))
    assert _node_count(plan, "SortMergeJoin") == 0, plan
    assert _node_count(plan, "BroadcastHashJoin") == 0, plan
    assert "CartesianProduct" not in plan, plan


def test_pagerank_plan_no_cartesian_and_checkpointed_adjacency(spark):
    """PageRank's unrolled rounds must re-read the checkpointed adjacency
    (ExistingRDD), not recompute the upstream edge plan per round — the
    unchecked form re-entered a blocking self-join ~7x."""
    from name_matching_spark.operators.clustering import pagerank

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4)], ["id1", "id2"]
    )
    plan = _formatted_plan(pagerank(edges, iterations=3))
    assert "CartesianProduct" not in plan, plan
    # the adjacency is an ExistingRDD scan (checkpoint), present per round
    assert _node_count(plan, "Scan ExistingRDD") >= 1, plan
