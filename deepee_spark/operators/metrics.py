"""Evaluation aggregations (SURVEY.md §2.5 A3/A5, §2.4 J10).

Tuple-set P/R/F1 with the reference's conventions:
  * correct = |pred ∩ gold| via inner join on the full tuple key (J10,
    MOGANED utils.py:42-47 semantics)
  * P = correct/|pred|, R = correct/|gold|
  * division guards: MOGANED utils.py:50-53 returns P=1.0 when there are
    no predictions (vacuous precision); QAEE run_trigger_qa.py:263-266
    returns 0 — selectable per caller via ``empty_pred_precision``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def tuple_set_prf(
    pred: DataFrame,
    gold: DataFrame,
    keys: list[str],
    empty_pred_precision: float = 1.0,
) -> dict[str, float]:
    """Set-semantics P/R/F1 of pred vs gold on the given tuple key."""
    p = pred.select(*keys).distinct()
    g = gold.select(*keys).distinct()
    n_pred = p.count()
    n_gold = g.count()
    n_correct = p.join(g, keys, "left_semi").count()
    precision = (n_correct / n_pred) if n_pred else empty_pred_precision
    recall = (n_correct / n_gold) if n_gold else 1.0
    f1 = (
        2 * precision * recall / (precision + recall)
        if (precision + recall) > 0
        else 0.0
    )
    return {
        "n_pred": n_pred,
        "n_gold": n_gold,
        "n_correct": n_correct,
        "precision": precision,
        "recall": recall,
        "f1": f1,
    }


def identification_classification_prf(
    pred: DataFrame,
    gold: DataFrame,
    span_keys: list[str],
    label_key: str,
) -> dict[str, dict[str, float]]:
    """MOGANED's two-level eval split (eval.py:37-44): *identification*
    scores matches on span keys alone (right trigger/argument found);
    *classification* additionally requires the label to match. Both use
    the same tuple-set machinery (A3/J10)."""
    return {
        "identification": tuple_set_prf(pred, gold, span_keys),
        "classification": tuple_set_prf(pred, gold, [*span_keys, label_key]),
    }


def _subbucket_expr(df: DataFrame, col: str, width: int):
    """Order-preserving coarsening of a tie-break column, used to split
    a heavy equal-score bucket: string -> 2-codepoint prefix (UTF-8
    binary order = code-point order), integral -> floor(col/width)
    computed in exact integer arithmetic (monotone for negatives too,
    unlike DIV's truncation toward zero). Other types: None (no split;
    the score bucket alone carries the tie mass)."""
    dt = dict(df.dtypes)[col]
    if dt == "string":
        return F.substring(col, 1, 2)
    if dt in ("tinyint", "smallint", "int", "bigint"):
        return F.expr(f"(({col}) - pmod(({col}), {width})) DIV {width}")
    return None


def ranked_cumsum(
    df: DataFrame,
    score_col: str,
    tie_keys: list[str],
    sum_cols: list[str],
    bucket_width: int = 100_000,
) -> DataFrame:
    """Add ``rank`` (row_number) and ``cum_<c>`` running sums over the
    total order (score DESC, *tie_keys ASC) WITHOUT a single-partition
    window over the data (the s4/f4/vocab two-level pattern).

    Level 1 partitions on (exact score value, order-preserving
    sub-bucket of the first tie key) — running sums there are parallel
    and consistent with the total order. Level 2 prefix-sums the
    per-bucket totals (a table bounded by |distinct scores| x
    |sub-buckets|, broadcast back). ``bucket_width`` widens/narrows the
    integral sub-bucket when equal-score runs skew."""
    from pyspark.sql import Window as W

    order = [F.desc(score_col)] + [F.asc(k) for k in tie_keys]
    sub = (
        _subbucket_expr(df, tie_keys[0], bucket_width) if tie_keys else None
    )
    bcols = ["_cb"] + (["_sb"] if sub is not None else [])
    b = df.withColumn("_cb", F.col(score_col))
    if sub is not None:
        b = b.withColumn("_sb", sub)
    w_in = W.partitionBy(*bcols).orderBy(*order).rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    for c in sum_cols:
        b = b.withColumn(f"_run_{c}", F.sum(c).over(w_in).cast("long"))
    b = b.withColumn("_run_n", F.count(F.lit(1)).over(w_in).cast("long"))
    totals = b.groupBy(*bcols).agg(
        *[F.sum(c).cast("long").alias(f"_bt_{c}") for c in sum_cols],
        F.count(F.lit(1)).cast("long").alias("_bt_n"),
    )
    w_off = W.orderBy(
        F.desc("_cb"), *[F.asc(x) for x in bcols[1:]]
    ).rowsBetween(W.unboundedPreceding, -1)
    off = totals.select(
        *bcols,
        *[
            F.coalesce(F.sum(f"_bt_{c}").over(w_off), F.lit(0))
            .cast("long")
            .alias(f"_off_{c}")
            for c in sum_cols
        ],
        F.coalesce(F.sum("_bt_n").over(w_off), F.lit(0))
        .cast("long")
        .alias("_off_n"),
    )
    out = b.join(F.broadcast(off), bcols)
    for c in sum_cols:
        out = out.withColumn(
            f"cum_{c}", (F.col(f"_off_{c}") + F.col(f"_run_{c}")).cast("long")
        )
    out = out.withColumn(
        "rank", (F.col("_off_n") + F.col("_run_n")).cast("long")
    )
    drop = bcols + [f"_run_{c}" for c in sum_cols] + ["_run_n"]
    drop += [f"_off_{c}" for c in sum_cols] + ["_off_n"]
    return out.drop(*drop)


def pr_curve(
    pred: DataFrame,
    gold: DataFrame,
    keys: list[str],
    score_col: str = "confidence",
) -> DataFrame:
    """W1: the sorted precision-recall curve (DMCNN
    dataProcess_trigger_bag_preinfo.py:56-113). Predictions ordered by
    score desc (ties broken by the tuple key for determinism); at every
    prefix: P = correct-so-far / preds-so-far, R = correct-so-far /
    |gold|, F1 derived. The running counts are the two-level
    ``ranked_cumsum`` — no single task ever sees the whole prediction
    set, so the curve survives an eval set of any size."""
    g = gold.select(*keys).distinct().withColumn("_hit", F.lit(1))
    n_gold = g.count()
    scored = (
        pred.select(*keys, score_col)
        .groupBy(*keys)
        .agg(F.max(score_col).alias(score_col))
        .join(g, keys, "left")
        .withColumn("_hit", F.coalesce("_hit", F.lit(0)))
    )
    curve = ranked_cumsum(scored, score_col, keys, ["_hit"]).select(
        score_col,
        F.col("cum__hit").alias("n_correct"),
        F.col("rank").alias("n_pred"),
    )
    p = F.col("n_correct") / F.col("n_pred")
    r = F.col("n_correct") / F.lit(n_gold)
    return curve.select(
        score_col,
        "n_pred",
        "n_correct",
        F.round(p, 6).alias("precision"),
        F.round(r, 6).alias("recall"),
        F.round(
            F.when(p + r > 0, 2 * p * r / (p + r)).otherwise(F.lit(0.0)), 6
        ).alias("f1"),
    )


def loss_reductions(df: DataFrame, logits_col: str = "logits",
                    label_col: str = "label") -> DataFrame:
    """A10: cross-entropy loss reductions over scored rows.

    The reference's training loops reduce a per-example CE loss to a
    batch mean/sum (e.g. MOGANED train, DMCNN train); inference-side,
    the same reduction over a scored corpus is the model-quality
    number a pipeline monitors per run. Per row:

        ce = logsumexp(logits) - logits[label]

    computed with the max-shift for stability, entirely in Catalyst
    expressions (one pass, no UDF), then reduced to
    (n_examples, mean_loss, sum_loss) — a single partial-agged
    aggregate, so the reduction scales like any count.
    """
    lg = F.col(logits_col)
    mx = F.array_max(lg)
    sumexp = F.aggregate(
        F.transform(lg, lambda x: F.exp(x - mx)),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    ce = F.log(sumexp) + mx - F.element_at(
        lg, F.col(label_col).cast("int") + 1
    )
    per_row = df.select(ce.alias("_ce"))
    return per_row.agg(
        F.count(F.lit(1)).cast("long").alias("n_examples"),
        F.round(F.avg("_ce"), 6).alias("mean_loss"),
        F.round(F.sum("_ce"), 6).alias("sum_loss"),
    )


def calibration_bins(
    df: DataFrame,
    conf_milli_col: str,
    correct_col: str,
    bins: int = 10,
) -> DataFrame:
    """Reliability-diagram binning: is the extractor's confidence
    calibrated (does the 0.8-bucket actually hold 80% correct
    triples)?

    Input confidence in MILLI-units (0..1000 integer): the pipeline's
    confidence column scaled once upstream, so every downstream number
    here is exact integer arithmetic — bin ids, mean confidence and
    accuracy are all engine-independent (a float mean would drift by
    partial-sum order and break cross-engine hash checks).

    -> (bin, n, n_correct, mean_conf_milli, accuracy_e6), bin =
    conf_milli * bins div 1000 clamped to bins-1 (so 1000 lands in the
    top bin). ONE shuffle (groupBy bin, partial-agged); output is
    bins-sized.
    """
    if bins < 1:
        raise ValueError("bins must be >= 1")
    b = F.least(
        F.expr(f"{conf_milli_col} * {bins} div 1000").cast("long"),
        F.lit(bins - 1).cast("long"),
    )
    return (
        df.select(
            b.alias("bin"),
            F.col(conf_milli_col).cast("long").alias("_c"),
            F.when(F.col(correct_col), 1).otherwise(0).cast("long").alias("_k"),
        )
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("_k").cast("long").alias("n_correct"),
            F.expr("sum(_c) div count(1)").cast("long").alias(
                "mean_conf_milli"
            ),
            F.expr("(1000000 * sum(_k)) div count(1)").cast("long").alias(
                "accuracy_e6"
            ),
        )
    )


def pairwise_cluster_prf(
    assignments: DataFrame,
    pred_col: str = "pred_cluster",
    gold_col: str = "gold_class",
) -> DataFrame:
    """Pairwise clustering P/R/F1 — the standard entity-resolution /
    canonicalization quality score: of all mention pairs the system
    put in one cluster, how many share a gold class (precision), and
    of all gold-coreferent pairs, how many the system joined (recall).

    All-integer: pair counts are sums of C(n,2) over cluster sizes,
    cell sizes (the pred x gold contingency table), and class sizes —
    no sampling, no floats until the final *_e6 integer fractions.
    ONE row out: (tp_pairs, pred_pairs, gold_pairs, precision_e6,
    recall_e6, f1_e6); empty-input degenerate cases report 0.

    Scale shape: three partial-agged groupBys over mention rows (by
    pred, by gold, by the (pred, gold) cell) — each one shuffle whose
    reduce side is cluster-count-sized; C(n,2) arithmetic happens on
    the aggregated sizes, never on pairs. This is what makes the
    PAIRWISE metric computable at 10^12 mentions where materializing
    pairs (the naive formulation) is quadratic death.
    """
    # integer DIV, not float /2: n*(n-1) exceeds 2^53 long before it
    # exceeds BIGINT, and a double round-trip would silently round
    c2 = lambda col: F.expr(f"{col} * ({col} - 1) DIV 2").cast("long")  # noqa: E731
    a = assignments.select(
        F.col(pred_col).alias("_p"), F.col(gold_col).alias("_g")
    )
    pred_pairs = (
        a.groupBy("_p").agg(F.count(F.lit(1)).alias("n"))
        .select(F.sum(c2("n")).alias("pred_pairs"))
    )
    gold_pairs = (
        a.groupBy("_g").agg(F.count(F.lit(1)).alias("n"))
        .select(F.sum(c2("n")).alias("gold_pairs"))
    )
    tp_pairs = (
        a.groupBy("_p", "_g").agg(F.count(F.lit(1)).alias("n"))
        .select(F.sum(c2("n")).alias("tp_pairs"))
    )
    out = tp_pairs.crossJoin(pred_pairs).crossJoin(gold_pairs).select(
        F.coalesce("tp_pairs", F.lit(0)).cast("long").alias("tp_pairs"),
        F.coalesce("pred_pairs", F.lit(0)).cast("long").alias("pred_pairs"),
        F.coalesce("gold_pairs", F.lit(0)).cast("long").alias("gold_pairs"),
    )
    prec = F.expr(
        "CASE WHEN pred_pairs > 0"
        " THEN 1000000 * tp_pairs DIV pred_pairs ELSE 0 END"
    ).cast("long")
    rec = F.expr(
        "CASE WHEN gold_pairs > 0"
        " THEN 1000000 * tp_pairs DIV gold_pairs ELSE 0 END"
    ).cast("long")
    return out.select(
        "tp_pairs",
        "pred_pairs",
        "gold_pairs",
        prec.alias("precision_e6"),
        rec.alias("recall_e6"),
        F.expr(
            "CASE WHEN pred_pairs + gold_pairs > 0"
            " THEN 2000000 * tp_pairs DIV (pred_pairs + gold_pairs)"
            " ELSE 0 END"
        ).cast("long").alias("f1_e6"),
    )


def bcubed_prf(
    assignments: DataFrame,
    pred_col: str = "pred_cluster",
    gold_col: str = "gold_class",
) -> DataFrame:
    """B-cubed clustering P/R/F1 (Bagga & Baldwin 1998 — public), the
    per-MENTION complement of pairwise_cluster_prf: precision for a
    mention is the fraction of its predicted cluster sharing its gold
    class, recall the fraction of its gold class its cluster captured;
    both averaged over mentions. Pairwise over-weights big clusters
    quadratically (C(n,2)); B-cubed weights every mention equally —
    entity-resolution evaluations report both, so the engine carries
    both.

    All-integer: every mention in a (pred, gold) contingency cell has
    the same intersection m and the same denominators, so per-mention
    fractions collapse to cell arithmetic —
        sum_prec = Σ_cells m * ((1e6 * m) div n_pred)
    and the average is one more integer division by N. ONE row out:
    (n_mentions, b3_precision_e6, b3_recall_e6, b3_f1_e6), zeros on
    empty input, exactly reproducible in any BIGINT engine.

    Scale shape: identical to pairwise_cluster_prf — three partial-
    agged groupBys whose reduce sides are cluster-count-sized; nothing
    per-pair, nothing per-mention past the first agg.
    """
    cells = (
        assignments.select(
            F.col(pred_col).alias("_p"), F.col(gold_col).alias("_g")
        )
        .groupBy("_p", "_g")
        .agg(F.count(F.lit(1)).cast("long").alias("m"))
    )
    psz = cells.groupBy("_p").agg(F.sum("m").cast("long").alias("np"))
    gsz = cells.groupBy("_g").agg(F.sum("m").cast("long").alias("ng"))
    j = cells.join(psz, "_p").join(gsz, "_g")
    agg = j.select(
        F.sum("m").cast("long").alias("n_mentions"),
        F.sum(F.expr("m * ((1000000 * m) DIV np)"))
        .cast("long")
        .alias("_sp"),
        F.sum(F.expr("m * ((1000000 * m) DIV ng)"))
        .cast("long")
        .alias("_sg"),
    )
    prec = F.expr(
        "CASE WHEN n_mentions > 0 THEN _sp DIV n_mentions ELSE 0 END"
    ).cast("long")
    rec = F.expr(
        "CASE WHEN n_mentions > 0 THEN _sg DIV n_mentions ELSE 0 END"
    ).cast("long")
    out = agg.select(
        F.coalesce("n_mentions", F.lit(0)).cast("long").alias("n_mentions"),
        prec.alias("b3_precision_e6"),
        rec.alias("b3_recall_e6"),
    )
    f1 = F.expr(
        "CASE WHEN b3_precision_e6 + b3_recall_e6 > 0"
        " THEN (2 * b3_precision_e6 * b3_recall_e6)"
        " DIV (b3_precision_e6 + b3_recall_e6) ELSE 0 END"
    ).cast("long")
    return out.withColumn("b3_f1_e6", f1)


def joint_pr_curve(
    df: DataFrame,
    score_col: str,
    pred_col: str,
    gold_col: str,
    upstream_pred_col: str,
    upstream_gold_col: str,
    na_label: int,
    upstream_na_label: int,
    tie_keys: list[str],
) -> DataFrame:
    """Joint-conditioned sorted P-R curve (DMCNN
    dataProcess_argument_bag_preinfo.py:52-113 sort_by_score — the
    pipelined-bag eval the plain W1 curve does not cover): an argument
    prediction counts as CORRECT only when its own label matches gold
    (both non-NA, reference id 61) AND the upstream trigger bag's
    prediction matches its gold (both non-NA, reference id 21) — a
    downstream stage never gets credit on top of an upstream mistake.
    Denominators follow the reference exactly: predicted-positive =
    own label != NA; gold-positive = own gold != NA; the degenerate
    branches replicate :91-97 (no positive predictions yet -> P=1,
    R=0; positive predictions but an empty positive gold set -> P=0,
    R=1).

    Scale shape: same two-level ranked_cumsum as pr_curve — running
    (correct, positive-pred) sums over (score DESC, tie_keys ASC)
    without any single-partition window. The reference's
    consecutive-duplicate (P, R) suppression is presentation for its
    matplotlib plot and is deliberately NOT replicated — every prefix
    rank is emitted."""
    hit = (
        (F.col(pred_col) == F.col(gold_col))
        & (F.col(gold_col) != na_label)
        & (F.col(upstream_pred_col) == F.col(upstream_gold_col))
        & (F.col(upstream_gold_col) != upstream_na_label)
    ).cast("long")
    pos = (F.col(pred_col) != na_label).cast("long")
    base = df.select(
        *tie_keys, F.col(score_col).alias("_score"),
        hit.alias("_hit"), pos.alias("_pos"),
        (F.col(gold_col) != na_label).cast("long").alias("_gpos"),
    )
    n_gold_pos = base.agg(F.sum("_gpos")).collect()[0][0] or 0
    curve = ranked_cumsum(base, "_score", tie_keys, ["_hit", "_pos"])
    p = (
        F.when(F.col("cum__pos") == 0, F.lit(1.0))
        .when(F.lit(n_gold_pos) == 0, F.lit(0.0))
        .otherwise(F.col("cum__hit") / F.col("cum__pos"))
    )
    r = (
        F.when(F.col("cum__pos") == 0, F.lit(0.0))
        .when(F.lit(n_gold_pos) == 0, F.lit(1.0))
        .otherwise(F.col("cum__hit") / F.lit(n_gold_pos))
    )
    return curve.select(
        *tie_keys,
        F.col("_score").alias(score_col),
        F.col("rank").alias("n_pred"),
        F.col("cum__pos").alias("n_pos_pred"),
        F.col("cum__hit").alias("n_correct"),
        F.round(p, 6).alias("precision"),
        F.round(r, 6).alias("recall"),
        F.round(
            F.when(p + r > 0, 2 * p * r / (p + r)).otherwise(F.lit(0.0)), 6
        ).alias("f1"),
    )
