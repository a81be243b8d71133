"""Evaluation: precision / recall / F1 over labeled pairs.

Reference semantics (``src/evaluation.py:6-101``): predicted positive =
``predicted_score >= match_threshold``; actual positive =
``true_label == "match"``. The north-rule gate evaluates labeled pairs AT
SHARED BLOCKING KEYS (pairs the blocking stage actually generated).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from name_matching_spark.core.scoring import DEFAULT_MATCH_THRESHOLD

__all__ = [
    "confusion_counts",
    "pairwise_metrics",
    "threshold_sweep",
    "bcubed_metrics",
    "cohens_kappa",
    "roc_auc",
    "adjusted_rand_index",
    "v_measure",
]


def confusion_counts(
    scored_labeled: DataFrame,
    match_threshold: float = DEFAULT_MATCH_THRESHOLD,
    score_col: str = "score",
    label_col: str = "true_label",
) -> DataFrame:
    """TP/FP/FN/TN as a one-row aggregation (``src/evaluation.py:68-90``)."""
    pred = F.col(score_col) >= match_threshold
    actual = F.col(label_col) == "match"
    one = lambda c: F.sum(F.when(c, 1).otherwise(0))  # noqa: E731
    return scored_labeled.agg(
        one(pred & actual).alias("tp"),
        one(pred & ~actual).alias("fp"),
        one(~pred & actual).alias("fn"),
        one(~pred & ~actual).alias("tn"),
    )


def threshold_sweep(
    scored_labeled: DataFrame,
    thresholds: list[float],
    score_col: str = "score",
    label_col: str = "true_label",
) -> DataFrame:
    """P/R/F1 across a threshold grid in ONE aggregation — the reference's
    review-workflow sweep (``src/evaluation.py``: metrics re-evaluated while
    tuning match/non-match bounds) lifted to a grid.

    Each row is cross-joined with the (tiny, literal) threshold array and
    re-labeled per threshold; one groupBy(threshold) with map-side partial
    aggregation does the rest — data is scanned once regardless of grid
    size, and the shuffle carries |grid| * n_partitions partial rows only.

    Metrics are emitted as parts-per-million via pure INTEGER arithmetic
    (``x_ppm = x * 1000000 DIV denom``) — engine-exact, no double-rounding
    divergence (the q09 lesson). ``f1_ppm = 2*tp*1e6 DIV (2*tp+fp+fn)`` is
    the exact integer form of 2PR/(P+R).
    """
    th = F.explode(
        F.array(*[F.lit(float(t)).cast("double") for t in thresholds])
    ).alias("threshold")
    e = scored_labeled.select(
        F.col(score_col).cast("double").alias("_s"),
        (F.col(label_col) == "match").alias("_a"),
    ).select("_s", "_a", th)
    pred = F.col("_s") >= F.col("threshold")
    one = lambda c: F.sum(F.when(c, 1).otherwise(0))  # noqa: E731
    return (
        e.groupBy("threshold")
        .agg(
            one(pred & F.col("_a")).alias("tp"),
            one(pred & ~F.col("_a")).alias("fp"),
            one(~pred & F.col("_a")).alias("fn"),
            one(~pred & ~F.col("_a")).alias("tn"),
        )
        .select(
            "threshold", "tp", "fp", "fn", "tn",
            F.expr("CAST(tp * 1000000 DIV greatest(tp + fp, 1) AS BIGINT)").alias(
                "precision_ppm"
            ),
            F.expr("CAST(tp * 1000000 DIV greatest(tp + fn, 1) AS BIGINT)").alias(
                "recall_ppm"
            ),
            F.expr(
                "CAST(2 * tp * 1000000 DIV greatest(2 * tp + fp + fn, 1) AS BIGINT)"
            ).alias("f1_ppm"),
        )
    )


def bcubed_metrics(
    assignment: DataFrame,
    truth: DataFrame,
    id_col: str = "record_id",
    cluster_col: str = "cluster_id",
    class_col: str = "class_id",
) -> DataFrame:
    """BCubed precision/recall/F1 of a clustering against ground-truth
    classes (Bagga & Baldwin's entity-resolution cluster metric — unlike
    pairwise P/R it is not dominated by the largest cluster).

    Per-record precision is |cluster ∩ class| / |cluster|; BCubed precision
    is its average over records. Summing per (cluster, class) cell collapses
    the whole computation into one aggregation over cell counts:

        P = (1/N) * sum_cells n_ct^2 / n_c
        R = (1/N) * sum_cells n_ct^2 / n_t

    so the plan is: join the two assignments on id (one shuffle), count
    cells, join in cluster/class sizes (cells are <= N rows), aggregate.
    No per-record state, no quadratic term — safe at any scale.

    Output: one row (``n_records, bcubed_precision, bcubed_recall,
    bcubed_f1`` — doubles).
    """
    a = assignment.select(F.col(id_col).alias("_id"), F.col(cluster_col).alias("_c"))
    t = truth.select(F.col(id_col).alias("_id"), F.col(class_col).alias("_t"))
    both = a.join(t, "_id")
    cells = both.groupBy("_c", "_t").agg(F.count(F.lit(1)).alias("n_ct"))
    csize = both.groupBy("_c").agg(F.count(F.lit(1)).alias("n_c"))
    tsize = both.groupBy("_t").agg(F.count(F.lit(1)).alias("n_t"))
    joined = cells.join(csize, "_c").join(tsize, "_t")
    agg = joined.agg(
        F.sum("n_ct").alias("n_records"),
        F.sum(
            F.col("n_ct").cast("double") * F.col("n_ct") / F.col("n_c")
        ).alias("_p_sum"),
        F.sum(
            F.col("n_ct").cast("double") * F.col("n_ct") / F.col("n_t")
        ).alias("_r_sum"),
    )
    p = F.col("_p_sum") / F.col("n_records")
    r = F.col("_r_sum") / F.col("n_records")
    return agg.select(
        "n_records",
        p.alias("bcubed_precision"),
        r.alias("bcubed_recall"),
        (2 * p * r / (p + r)).alias("bcubed_f1"),
    )


def pairwise_metrics(
    scored: DataFrame,
    labeled: DataFrame,
    match_threshold: float = DEFAULT_MATCH_THRESHOLD,
    restrict_to_blocked: bool = True,
) -> dict[str, float]:
    """Join labeled pairs with scored pairs on (id1, id2) and compute
    precision/recall/F1 at ``match_threshold``.

    ``restrict_to_blocked=True`` (the north-rule gate): evaluate only labeled
    pairs the blocking stage generated (inner join). With False, labeled
    pairs missing from ``scored`` count as predicted-negative (score 0) — so
    blocking misses show up as recall loss.
    """
    how = "inner" if restrict_to_blocked else "left"
    joined = labeled.join(
        scored.select("id1", "id2", "score"), on=["id1", "id2"], how=how
    ).withColumn("score", F.coalesce(F.col("score"), F.lit(0.0)))
    row = confusion_counts(joined, match_threshold).collect()[0]
    tp, fp, fn, tn = (row[c] or 0 for c in ("tp", "fp", "fn", "tn"))
    precision = tp / (tp + fp) if tp + fp else 0.0
    recall = tp / (tp + fn) if tp + fn else 0.0
    f1 = 2 * precision * recall / (precision + recall) if precision + recall else 0.0
    return {
        "tp": tp, "fp": fp, "fn": fn, "tn": tn,
        "precision": precision, "recall": recall, "f1": f1,
        "threshold": match_threshold,
    }


def cohens_kappa(
    df: DataFrame, pred_col: str, truth_col: str
) -> DataFrame:
    """Cohen's kappa: chance-corrected agreement between two labelings
    (classifier vs gold, or two annotators) — the review-workflow metric
    for "is this matcher better than marginal-rate chance".

    Multi-class: ``p_e = Σ_c (n_pred(c) · n_truth(c)) / n²``. Observed and
    expected agreement are emitted as exact parts-per-million integers
    (pure integer arithmetic — the q09 lesson), and kappa is derived from
    those exact integers, so both engines feed identical doubles into the
    final division. Convention: ``p_e = 1`` ⇒ kappa 0.0.

    Three scans of the (already tiny after scoring) frame — one global
    aggregate + two marginal group-bys joined on class; the marginal join
    carries one row per class label.
    """
    agg = df.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        # coalesce: sum() over an empty frame is NULL, which would
        # NULL-propagate into po_ppm instead of yielding defined zeros
        F.coalesce(
            F.sum((F.col(pred_col) == F.col(truth_col)).cast("bigint")),
            F.lit(0).cast("bigint"),
        ).alias("n_agree"),
    )
    pred_m = df.groupBy(F.col(pred_col).alias("cls")).agg(
        F.count(F.lit(1)).alias("n_pred")
    )
    truth_m = df.groupBy(F.col(truth_col).alias("cls")).agg(
        F.count(F.lit(1)).alias("n_truth")
    )
    pe_num = pred_m.join(truth_m, "cls").agg(
        F.coalesce(
            F.sum(F.col("n_pred") * F.col("n_truth")), F.lit(0)
        ).alias("pe_num")
    )
    out = agg.crossJoin(pe_num)
    return out.select(
        "n_pairs",
        "n_agree",
        # greatest(..., 1): an empty labeled frame yields 0s, not a
        # DIVIDE_BY_ZERO under ANSI mode (same guard as threshold_sweep)
        F.expr(
            "CAST(n_agree * 1000000 DIV greatest(n_pairs, 1) AS BIGINT)"
        ).alias("po_ppm"),
        F.expr(
            "CAST(pe_num * 1000000 DIV greatest(n_pairs * n_pairs, 1) AS BIGINT)"
        ).alias("pe_ppm"),
    ).withColumn(
        "kappa",
        F.expr(
            "CASE WHEN pe_ppm = 1000000 THEN 0.0 "
            "ELSE CAST(po_ppm - pe_ppm AS DOUBLE) / "
            "CAST(1000000 - pe_ppm AS DOUBLE) END"
        ),
    )


def roc_auc(
    pairs: DataFrame,
    score_col: str,
    label_col: str = "is_match",
    weight_col: str | None = None,
) -> DataFrame:
    """Threshold-free ROC AUC via the Mann-Whitney U statistic with
    average-rank tie handling, exact integers end to end.

    ``score_col`` must be an integer rank key (e.g. the 2^-30 fixed-point
    posterior ``match_q30``) so both engines order identically;
    ``label_col`` is boolean. Distributed shape: ONE groupBy builds the
    per-score-value census, and the rank window runs over the census
    (|distinct scores| rows — for gamma-pattern scorers that is <= 2^|fields|),
    never over the pair stream; no global row sort at any scale. Average
    ranks stay integral doubled: 2*avg_rank = 2*below + cnt + 1.

    Output: one row — ``n_pos, n_neg, u2`` (twice the U statistic) and
    ``auc_ppm = U / (n_pos * n_neg)`` as integer ppm.

    Threshold-free companion to the fixed-threshold ``pairwise_metrics``
    and grid ``threshold_sweep`` (reference ``src/evaluation.py`` surface).
    """
    from pyspark.sql import Window

    # ``weight_col``: the input is already a census (one row per distinct
    # (score, label) with its pair count) — sum weights instead of rows.
    # Integer-exact either way, so the output is bit-identical.
    weight = F.col(weight_col).cast("bigint") if weight_col else F.lit(1).cast("bigint")
    census = (
        pairs.select(F.col(label_col).alias("pos_flag"), score_col, weight.alias("_w"))
        .groupBy(score_col)
        .agg(
            F.sum("_w").alias("cnt"),
            F.sum(F.when(F.col("pos_flag"), F.col("_w")).otherwise(0)).alias("pos"),
        )
    )
    w = Window.orderBy(score_col).rowsBetween(Window.unboundedPreceding, -1)
    ranked = census.withColumn(
        "below", F.coalesce(F.sum("cnt").over(w), F.lit(0))
    )
    agg = ranked.agg(
        F.sum("pos").alias("n_pos"),
        (F.sum("cnt") - F.sum("pos")).alias("n_neg"),
        F.sum(
            F.col("pos") * (F.lit(2) * F.col("below") + F.col("cnt") + F.lit(1))
        ).alias("twice_rank_sum"),
    )
    return agg.select(
        F.col("n_pos").cast("long").alias("n_pos"),
        F.col("n_neg").cast("long").alias("n_neg"),
        (F.col("twice_rank_sum") - F.col("n_pos") * (F.col("n_pos") + 1))
        .cast("long")
        .alias("u2"),
        # nullif: AUC is undefined for a single-class labeled set (all
        # positives or all negatives) — emit NULL, not DIVIDE_BY_ZERO
        F.expr(
            "CAST((twice_rank_sum - n_pos * (n_pos + 1)) * 500000 "
            "DIV nullif(n_pos * n_neg, 0) AS BIGINT)"
        ).alias("auc_ppm"),
    )


def adjusted_rand_index(
    assignment: DataFrame,
    truth: DataFrame,
    id_col: str = "record_id",
    cluster_col: str = "cluster_id",
    class_col: str = "class_id",
) -> DataFrame:
    """Adjusted Rand Index between a clustering and ground-truth classes
    (Hubert & Arabie 1985) — the chance-corrected external validity metric
    that complements :func:`bcubed_metrics` (pair-counting instead of
    per-record averaging; 0 = chance agreement, 1 = identical).

    Everything is computed from the (cluster, class) CONTINGENCY CENSUS,
    never from record pairs: with S = Σ_cells C(n_ij,2), R = Σ_rows
    C(n_i,2), C = Σ_cols C(n_j,2), T = C(n,2),

        ARI = (2·T·S − 2·R·C) / (T·(R+C) − 2·R·C)

    (the classic formula multiplied through by T so every term is an
    exact integer; products run in decimal(38,0) so nothing overflows,
    and the single IEEE division happens last — engine-exact). A zero
    denominator (both clusterings trivial) returns 1.0 by convention.

    Scale shape: one id-keyed join, one census groupBy, two size
    aggregations over the (≤ N rows) census — identical to BCubed's plan.

    Output: one row ``(n_records, sum_cell_pairs, row_pairs, col_pairs,
    total_pairs, ari)``.
    """
    a = assignment.select(F.col(id_col).alias("_id"), F.col(cluster_col).alias("_c"))
    t = truth.select(F.col(id_col).alias("_id"), F.col(class_col).alias("_t"))
    cells = a.join(t, "_id").groupBy("_c", "_t").agg(F.count(F.lit(1)).alias("n"))
    s = cells.agg(
        F.expr("CAST(sum(n * (n - 1) DIV 2) AS BIGINT)").alias("sum_cell_pairs"),
        F.sum("n").cast("long").alias("n_records"),
    )
    r = (
        cells.groupBy("_c")
        .agg(F.sum("n").alias("m"))
        .agg(F.expr("CAST(sum(m * (m - 1) DIV 2) AS BIGINT)").alias("row_pairs"))
    )
    c = (
        cells.groupBy("_t")
        .agg(F.sum("n").alias("m"))
        .agg(F.expr("CAST(sum(m * (m - 1) DIV 2) AS BIGINT)").alias("col_pairs"))
    )
    combined = s.crossJoin(r).crossJoin(c).withColumn(
        "total_pairs",
        F.expr("CAST(n_records * (n_records - 1) DIV 2 AS BIGINT)"),
    )
    dec = "decimal(38,0)"
    num = F.expr(
        f"2 * CAST(total_pairs AS {dec}) * sum_cell_pairs"
        f" - 2 * CAST(row_pairs AS {dec}) * col_pairs"
    )
    den = F.expr(
        f"CAST(total_pairs AS {dec}) * (row_pairs + col_pairs)"
        f" - 2 * CAST(row_pairs AS {dec}) * col_pairs"
    )
    return combined.select(
        "n_records",
        "sum_cell_pairs",
        "row_pairs",
        "col_pairs",
        "total_pairs",
        F.when(den == 0, F.lit(1.0))
        .otherwise(num.cast("double") / den.cast("double"))
        .alias("ari"),
    )


def v_measure(
    assignment: DataFrame,
    truth: DataFrame,
    id_col: str = "record_id",
    cluster_col: str = "cluster_id",
    class_col: str = "class_id",
) -> DataFrame:
    """V-measure (Rosenberg & Hirschberg 2007): the entropy-based external
    clustering metric — homogeneity (every cluster contains one class),
    completeness (every class lands in one cluster), and their harmonic
    mean. Completes the external-validity family next to
    :func:`adjusted_rand_index` (pair counting) and
    :func:`bcubed_metrics` (per-record averaging).

    All entropies come from the (cluster, class) contingency census:
    H(C|K) = -Σ (n/N)·ln(n/n_k), H(C) = -Σ (n_c/N)·ln(n_c/N), homogeneity
    = 1 - H(C|K)/H(C) (1 by convention when H(C) = 0), symmetrically for
    completeness, v = 2hc/(h+c) (0 when h + c = 0). The only float
    reductions are over the census, so cross-engine summation drift is
    bounded by the number of cells, not records.

    Scale shape: one id-keyed join, one census groupBy, marginal
    aggregations over the census — the ARI plan with logs instead of
    binomials. Output: one row (n_records, n_clusters, n_classes,
    homogeneity, completeness, v_measure).
    """
    a = assignment.select(F.col(id_col).alias("_id"), F.col(cluster_col).alias("_c"))
    t = truth.select(F.col(id_col).alias("_id"), F.col(class_col).alias("_t"))
    cells = a.join(t, "_id").groupBy("_c", "_t").agg(F.count(F.lit(1)).alias("n"))
    nk = cells.groupBy("_c").agg(F.sum("n").alias("nk"))
    nc = cells.groupBy("_t").agg(F.sum("n").alias("nc"))
    tot = cells.agg(
        F.sum("n").alias("_nn"), F.count(F.lit(1)).alias("_cells")
    )
    joined = cells.join(nk, "_c").join(nc, "_t").crossJoin(F.broadcast(tot))
    nd = F.col("n").cast("double")
    cond = joined.agg(
        (
            -F.sum(
                nd / F.col("_nn").cast("double")
                * F.log(nd / F.col("nk").cast("double"))
            )
        ).alias("h_ck"),
        (
            -F.sum(
                nd / F.col("_nn").cast("double")
                * F.log(nd / F.col("nc").cast("double"))
            )
        ).alias("h_kc"),
    )
    ent_c = nc.crossJoin(F.broadcast(tot)).agg(
        (
            -F.sum(
                F.col("nc").cast("double")
                / F.col("_nn").cast("double")
                * F.log(F.col("nc").cast("double") / F.col("_nn").cast("double"))
            )
        ).alias("h_c"),
        F.count(F.lit(1)).cast("long").alias("n_classes"),
    )
    ent_k = nk.crossJoin(F.broadcast(tot)).agg(
        (
            -F.sum(
                F.col("nk").cast("double")
                / F.col("_nn").cast("double")
                * F.log(F.col("nk").cast("double") / F.col("_nn").cast("double"))
            )
        ).alias("h_k"),
        F.count(F.lit(1)).cast("long").alias("n_clusters"),
    )
    n_df = tot.select(F.col("_nn").cast("long").alias("n_records"))
    combined = n_df.crossJoin(cond).crossJoin(ent_c).crossJoin(ent_k)
    h = F.when(F.col("h_c") == 0.0, F.lit(1.0)).otherwise(
        F.lit(1.0) - F.col("h_ck") / F.col("h_c")
    )
    c = F.when(F.col("h_k") == 0.0, F.lit(1.0)).otherwise(
        F.lit(1.0) - F.col("h_kc") / F.col("h_k")
    )
    out = combined.select(
        "n_records",
        "n_clusters",
        "n_classes",
        h.alias("homogeneity"),
        c.alias("completeness"),
    )
    v = F.when(
        F.col("homogeneity") + F.col("completeness") == 0.0, F.lit(0.0)
    ).otherwise(
        F.lit(2.0)
        * F.col("homogeneity")
        * F.col("completeness")
        / (F.col("homogeneity") + F.col("completeness"))
    )
    return out.withColumn("v_measure", v)
