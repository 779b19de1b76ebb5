"""Classification metrics as pure relational queries (reference §2.4-2.5).

Every metric here is ONE DataFrame plan — no per-threshold rescans, no
driver-side numpy. That's the 100 TB design: confusion counts are a 4-row
groupBy; AUC is a rank statistic (one sort); ROC/PR curves and the threshold
sweep come from a single sorted-cumulative pass (O(N log N) total, not
O(T*N)); ECE and lift/gains are bucketed aggregations.

Reference citations (relative to /root/reference/):
- A4  confusion matrix        src/training/evaluation/evaluator.py:392-467
- A5  acc/P/R/F1/F-beta       src/training/core/optimizer.py:168-215
- A6  ROC-AUC                 src/training/core/optimizer.py:206-211
- A9  ECE (binned)            src/training/evaluation/evaluator.py:818-875
- A12 ROC/PR curve points     src/training/evaluation/visualizer.py:77-139
- A13 cumulative gains/lift   src/training/evaluation/visualizer.py:141-183
- M7  threshold application   src/training/evaluation/evaluator.py:697-714
- M8  threshold sweep         src/training/evaluation/champion.py:143-172

Determinism note: counts are exact integers; ratios are single IEEE
divisions of exact integers — bit-identical across engines, which is what
makes these queries DuckDB-oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..materialize import checkpoint_at_scale


def quantize_score(col, score_precision: int | None):
    """Bound |distinct scores| by construction: floor(s·10^p + 0.5)/10^p.

    The curve/AUC/sweep queries below reduce N rows to one row per DISTINCT
    score before any global window — safe only while the score domain is
    small. Real model probabilities are near-unique, so every caller at
    scale should pass ``score_precision`` (6-7 digits is far below any
    metric's noise floor) to make that invariant hold by construction.

    Deliberately NOT engine round(): floor(x·scale + 0.5)/scale is the same
    IEEE arithmetic in Spark and any SQL oracle, with no half-even vs
    half-up ambiguity."""
    if score_precision is None:
        return col
    scale = float(10**score_precision)
    return F.floor(col * scale + F.lit(0.5)) / scale


def apply_threshold(df: DataFrame, score_col: str, threshold: float, out_col: str = "prediction") -> DataFrame:
    """M7: score >= t → 1 else 0 (JVM-side CASE, no UDF)."""
    return df.withColumn(out_col, (F.col(score_col) >= F.lit(threshold)).cast("int"))


def confusion_matrix(df: DataFrame, label_col: str, pred_col: str) -> DataFrame:
    """A4: groupBy(true, pred) counts + row-normalized fraction via a window
    sum over the true label (one shuffle, 4 rows out for binary)."""
    counts = df.groupBy(label_col, pred_col).agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy(label_col)
    return counts.select(
        F.col(label_col).alias("label"),
        F.col(pred_col).alias("prediction"),
        "n",
        (F.col("n") / F.sum("n").over(w)).alias("row_fraction"),
    ).orderBy("label", "prediction")


def binary_metrics(
    df: DataFrame, label_col: str, pred_col: str, beta: float = 1.0
) -> DataFrame:
    """A5: accuracy/precision/recall/F1/F-beta in ONE aggregation pass over
    TP/FP/FN/TN (map-side partial aggregation, single reduce)."""
    lbl, prd = F.col(label_col), F.col(pred_col)
    agg = df.agg(
        F.sum(((lbl == 1) & (prd == 1)).cast("long")).alias("tp"),
        F.sum(((lbl == 0) & (prd == 1)).cast("long")).alias("fp"),
        F.sum(((lbl == 1) & (prd == 0)).cast("long")).alias("fn"),
        F.sum(((lbl == 0) & (prd == 0)).cast("long")).alias("tn"),
    )
    b2 = beta * beta
    tp, fp, fn, tn = F.col("tp"), F.col("fp"), F.col("fn"), F.col("tn")
    return agg.select(
        tp.alias("tp"),
        fp.alias("fp"),
        fn.alias("fn"),
        tn.alias("tn"),
        ((tp + tn) / (tp + fp + fn + tn)).alias("accuracy"),
        (tp / (tp + fp)).alias("precision"),
        (tp / (tp + fn)).alias("recall"),
        (2 * tp / (2 * tp + fp + fn)).alias("f1"),
        ((1 + b2) * tp / ((1 + b2) * tp + b2 * fn + fp)).alias("fbeta"),
    )


def roc_auc(
    df: DataFrame,
    label_col: str,
    score_col: str,
    score_precision: int | None = None,
) -> DataFrame:
    """A6: Mann-Whitney rank-statistic AUC with proper tie handling (average
    ranks), computed SCALABLY: first reduce N rows to per-distinct-score
    (pos, neg) counts (map-side partial agg + one shuffle), then one window
    over the tiny distinct-score frame:

        AUC = Σ_s pos_s · (neg_below_s + neg_s/2) / (n_pos · n_neg)

    which equals the average-rank formulation exactly (all terms are integers
    or exact halves — engine-independent until the final division). The
    global window touches |distinct scores| rows, never N.
    """
    by_score = df.groupBy(
        quantize_score(F.col(score_col), score_precision).alias("s")
    ).agg(
        F.sum((F.col(label_col) == 1).cast("long")).alias("pos"),
        F.sum((F.col(label_col) == 0).cast("long")).alias("neg"),
    )
    w = Window.orderBy("s").rowsBetween(Window.unboundedPreceding, -1)
    contrib = by_score.withColumn(
        "neg_below", F.coalesce(F.sum("neg").over(w), F.lit(0))
    ).select(
        (F.col("pos") * (F.col("neg_below") + F.col("neg") / 2)).alias("u"),
        "pos",
        "neg",
    )
    return contrib.agg(
        F.sum("u").alias("u_sum"),
        F.sum("pos").alias("n_pos"),
        F.sum("neg").alias("n_neg"),
    ).select(
        (F.col("u_sum") / (F.col("n_pos") * F.col("n_neg"))).alias("roc_auc")
    )


def ece_bins(
    df: DataFrame, label_col: str, score_col: str, n_bins: int = 10
) -> DataFrame:
    """A9: equal-width calibration bins. Returns the per-bin table
    (bin, n, avg_label, avg_confidence) — ECE = Σ |avg_label-avg_conf|·n/N is
    a trivial driver fold over ≤ n_bins rows. Relational end-to-end."""
    binned = df.select(
        F.least(
            F.floor(F.col(score_col) * n_bins).cast("int"), F.lit(n_bins - 1)
        ).alias("bin"),
        F.col(label_col).cast("double").alias("y"),
        F.col(score_col).cast("double").alias("s"),
    )
    return (
        binned.groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.avg("y").alias("avg_label"),
            F.avg("s").alias("avg_confidence"),
        )
        .orderBy("bin")
    )


def expected_calibration_error(
    df: DataFrame, label_col: str, score_col: str, n_bins: int = 10
) -> float:
    """A9 scalar form (driver fold over the tiny bin table)."""
    rows = ece_bins(df, label_col, score_col, n_bins).collect()
    total = sum(r["n"] for r in rows)
    return sum(abs(r["avg_label"] - r["avg_confidence"]) * r["n"] for r in rows) / total


def roc_curve(
    df: DataFrame,
    label_col: str,
    score_col: str,
    score_precision: int | None = None,
) -> DataFrame:
    """A12: one curve point per DISTINCT score — pre-aggregate by score
    (shuffle reduces N rows to |distinct scores|), then cumulative window
    sums ordered by score desc. Single pass; no per-threshold rescans."""
    by_score = df.groupBy(
        quantize_score(F.col(score_col), score_precision).alias("threshold")
    ).agg(
        F.sum((F.col(label_col) == 1).cast("long")).alias("pos"),
        F.sum((F.col(label_col) == 0).cast("long")).alias("neg"),
    )
    w = Window.orderBy(F.col("threshold").desc()).rowsBetween(Window.unboundedPreceding, 0)
    totals = Window.partitionBy()
    return by_score.select(
        "threshold",
        F.sum("pos").over(w).alias("cum_tp"),
        F.sum("neg").over(w).alias("cum_fp"),
        (F.sum("pos").over(w) / F.sum("pos").over(totals)).alias("tpr"),
        (F.sum("neg").over(w) / F.sum("neg").over(totals)).alias("fpr"),
    ).orderBy(F.col("threshold").desc())


def precision_recall_curve(
    df: DataFrame,
    label_col: str,
    score_col: str,
    score_precision: int | None = None,
) -> DataFrame:
    """A12 (PR form) + A10 groundwork: precision/recall at each distinct
    score threshold from the same sorted-cumulative pass."""
    curve = roc_curve(df, label_col, score_col, score_precision)
    return curve.select(
        "threshold",
        (F.col("cum_tp") / (F.col("cum_tp") + F.col("cum_fp"))).alias("precision"),
        F.col("tpr").alias("recall"),
    )


_INTEGRAL_DTYPES = {"tinyint", "smallint", "int", "bigint"}


def two_level_rank(
    df: DataFrame,
    score_col: str,
    tiebreak_col: str,
    n_buckets: int | None = None,
    id_bounds: DataFrame | None = None,
) -> DataFrame:
    """Exact global rank under ``(score desc, tiebreak asc)`` with NO
    unbounded-input window — the shared two-level pattern behind a13
    (:func:`lift_gains`) and pipe13's half-pool cut, with the round-12
    hot-score fix.

    Returns ``df``'s columns plus ``pos`` (1-based position; ``tiebreak_col``
    is a PK so rank == row_number) and ``n_total``.

    Level 1 is ``row_number`` partitioned by ``(score, __bkt)`` where
    ``__bkt`` is an ORDER-PRESERVING range bucket of the tiebreak PK:
    ``(tb - min_tb) div ceil(span / n_buckets)``. Monotone in ``tb``, so the
    induced total order ``(score desc, __bkt asc, tb asc)`` EQUALS
    ``(score desc, tb asc)`` — unlike a hash salt
    (``pmod(xxhash64(tb), B)``), which would reorder ties within the
    boundary score and change which rows land on each side of any
    rank-threshold cut. Level 2 adds per-cell cumulative offsets from the
    ``(score, __bkt)`` cell frame; the only unpartitioned window runs over
    ``|cells| <= |distinct scores| * n_buckets`` rows (a score with one row
    occupies one cell, so sparse scores add nothing).

    Why this matters at 100 TB: ``score_precision`` quantization BOUNDS the
    distinct-score frame, which GUARANTEES hot score partitions at scale
    (N / |scores| rows each — 10^9-row single-task windows at N=10^11,
    p=2). The range bucket caps each level-1 partition at ~cnt_s/B when ids
    are spread across the id range (the norm — ids are assigned independent
    of score). Residual data-dependent skew: a hot score whose ids all
    cluster inside ONE id-range bucket still collapses; only per-score id
    quantiles would fix that, at the cost of a driver action.

    ``id_bounds``: optional 1-row frame with ``__lo``/``__hi`` (min/max of
    the tiebreak domain, any superset — monotonicity, not coverage, is
    what exactness needs, so loose bounds only cost balance). Default
    computes them from ``df`` (one extra column-pruned agg pass — the
    measured cost of the hot-score robustness: a13 reads ~1.1-1.35x its
    pre-r12 time at sf0.1 in alternating A/Bs; callers with an expensive
    upstream should pass bounds from a cheap superset scan, as pipe13
    does). Non-integral tiebreak columns fall back to a single bucket
    (= the pre-round-12 shape). Long overflow on ``hi - lo`` (ids
    spanning > 2^63) raises under the engine-wide ANSI pin — loud, never
    a wrong bucket.

    ``n_buckets`` defaults to ``max(16, defaultParallelism)``: the hot
    partition's cap is cnt/B, so B should scale with the cluster's core
    count, while the cell frame (≤ |scores|·B) and its broadcast stay
    small. Measured at sf0.1: B=16 ≈ B=8 ≈ 10-15% cheaper than B=64 on
    the a13 frame (smaller cell broadcast); the default lands between."""
    if n_buckets is None:
        n_buckets = max(16, df.sparkSession.sparkContext.defaultParallelism)
    dtype = dict(df.dtypes)[tiebreak_col]
    if dtype in _INTEGRAL_DTYPES:
        if id_bounds is None:
            id_bounds = df.agg(
                F.min(tiebreak_col).alias("__lo"), F.max(tiebreak_col).alias("__hi")
            )
        # arithmetic entirely in BIGINT: a 32-bit tiebreak column spanning
        # more than 2^31 would otherwise overflow the int subtraction
        # (ANSI raise) even though the span fits a long.
        # NULL tiebreak or NULL score RAISES (assert_true) instead of
        # silently vanishing: a NULL in either would leave the row counted
        # into the cell frame and n_total but never matched by the
        # (score, __bkt) equi-join below — silent row loss on contract
        # misuse, against the module's loud-never-wrong rule (r12 ADVICE
        # #1; the score case found by the same-class self-review).
        bkt = F.expr(
            f"CASE WHEN {tiebreak_col} IS NULL THEN CAST(assert_true(FALSE, "
            f"'two_level_rank: NULL in tiebreak column {tiebreak_col} — the "
            f"tiebreak must be a non-null PK (NULL rows would silently drop "
            f"from the ranked output)') AS BIGINT) "
            f"WHEN {score_col} IS NULL THEN CAST(assert_true(FALSE, "
            f"'two_level_rank: NULL in score column {score_col} — NULL-score "
            f"rows would silently drop from the ranked output (and NULL "
            f"ordering differs across engines); filter or coalesce them "
            f"first') AS BIGINT) ELSE "
            f"(CAST({tiebreak_col} AS BIGINT) - CAST(__lo AS BIGINT)) div "
            f"greatest(1L, (CAST(__hi AS BIGINT) - CAST(__lo AS BIGINT)"
            f" + {n_buckets}) div {n_buckets}) END"
        )
        with_b = df.crossJoin(F.broadcast(id_bounds)).withColumn(
            "__bkt", bkt
        ).drop("__lo", "__hi")
    else:
        # the non-integral fallback has no bucket arithmetic to piggyback
        # on, but the same NULL-score silent-drop applies — same guard.
        # (A NULL tiebreak here is harmless: __bkt is constant, so the row
        # still matches the join and just sorts NULLS FIRST.)
        with_b = df.withColumn(
            "__bkt",
            F.expr(
                f"CASE WHEN {score_col} IS NULL THEN CAST(assert_true(FALSE, "
                f"'two_level_rank: NULL in score column {score_col} — "
                f"NULL-score rows would silently drop from the ranked output "
                f"(and NULL ordering differs across engines); filter or "
                f"coalesce them first') AS INT) ELSE 0 END"
            ),
        )
    # round-13: with_b feeds BOTH the level-1 window and the cell frame —
    # without materialization the caller's upstream (often an expensive
    # scored composition, e.g. pipe13's survivor scoring) computed twice
    # per execution, and three times when the default id_bounds agg reads
    # it too. One lazy localCheckpoint bounds that to once (a13 1.20 →
    # 0.98 s min-of-6 alternating A/B at sf0.1; cells and n_total also
    # come out of the materialized frame). Note cells/__r_in still share
    # the (score, __bkt) exchange when AQE reuses it.
    with_b = with_b.localCheckpoint(eager=False)
    ranked = with_b.withColumn(
        "__r_in",
        F.row_number().over(
            Window.partitionBy(score_col, "__bkt").orderBy(tiebreak_col)
        ),
    )
    cells = with_b.groupBy(score_col, "__bkt").agg(F.count(F.lit(1)).alias("__cnt"))
    w_off = Window.orderBy(F.col(score_col).desc(), F.col("__bkt").asc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    # AQE broadcasts this join when the cell frame is small (the quantized-
    # score invariant bounds it at |scores|*B); no hint so huge score
    # domains degrade to a shuffle join instead of an OOM broadcast.
    offsets = (
        cells.withColumn(
            "__off", F.coalesce(F.sum("__cnt").over(w_off), F.lit(0))
        )
        .crossJoin(F.broadcast(cells.agg(F.sum("__cnt").alias("n_total"))))
        .select(score_col, "__bkt", "__off", "n_total")
    )
    return (
        ranked.join(offsets, on=[score_col, "__bkt"])
        .withColumn("pos", F.col("__off") + F.col("__r_in"))
        .drop("__bkt", "__r_in", "__off")
    )


def lift_gains(
    df: DataFrame,
    label_col: str,
    score_col: str,
    tiebreak_col: str,
    n_tiles: int = 10,
    score_precision: int | None = None,
) -> DataFrame:
    """A13: decile gains & lift with exact ``ntile`` semantics — WITHOUT the
    global-window ntile (which funnels all N rows through one WindowExec
    partition). Distributed two-level ranking instead:

    1. ``row_number`` partitioned by (score, id-range bucket) — see
       :func:`two_level_rank` for the shared machinery and the hot-score
       rationale (quantization guarantees hot scores at scale; the
       order-preserving bucket splits them without touching the
       (score desc, tiebreak asc) total order).
    2. Per-cell cumulative offsets from the (score, bucket) cell frame
       (the only global window runs over <= |distinct scores| * B rows,
       never N).
    3. global rank = offset + within-cell rank; ntile's bucket arithmetic
       (first N%k buckets get one extra row) applied as a closed-form
       expression.

    Total order is (score desc, tiebreak asc) — identical to the previous
    ntile formulation, so results hash-match on any engine/partitioning.

    ``score_precision`` is the same knob the other curve metrics carry:
    with near-unique continuous scores the cell frame approaches N rows
    and its offsets window degenerates to a single-partition N-row sort.
    Quantizing to k decimal digits bounds |distinct scores| at 10^k+1
    regardless of N (decile boundaries shift only within a quantization
    bucket — the documented approximation, identical to the a6q/a12q/m8q
    semantics)."""
    with_rank = two_level_rank(
        df.select(
            quantize_score(F.col(score_col), score_precision).alias("s"),
            F.col(label_col).alias("y"),
            F.col(tiebreak_col).alias("tb"),
        ),
        "s",
        "tb",
    )
    r = F.col("pos")
    base = F.floor(F.col("n_total") / n_tiles)
    rem = F.col("n_total") % n_tiles
    big = rem * (base + 1)  # rows living in the (base+1)-sized buckets
    decile = (
        F.when(r <= big, F.floor((r + base) / (base + 1)))
        .otherwise(rem + F.floor((r - big + base - 1) / base))
        .cast("int")
    )
    per = with_rank.select(decile.alias("decile"), "y").groupBy("decile").agg(
        F.count(F.lit(1)).alias("n"), F.sum("y").alias("pos")
    )
    w_cum = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    totals = Window.partitionBy()
    return per.select(
        "decile",
        "n",
        "pos",
        (F.sum("pos").over(w_cum) / F.sum("pos").over(totals)).alias("cum_gain"),
        (
            (F.sum("pos").over(w_cum) / F.sum("pos").over(totals))
            / (F.sum("n").over(w_cum) / F.sum("n").over(totals))
        ).alias("lift"),
    ).orderBy("decile")


def threshold_sweep(
    df: DataFrame,
    label_col: str,
    score_col: str,
    beta: float = 1.0,
    n_thresholds: int = 99,
    score_precision: int | None = None,
) -> DataFrame:
    """M8: F-beta at thresholds i/(n+1), i=1..n — WITHOUT n rescans.

    Pre-aggregate once by distinct score (N rows → |scores|), cross-join the
    tiny threshold list (|scores| × n is small), aggregate. At 100 TB the
    big table is touched exactly once.
    """
    by_score = df.groupBy(
        quantize_score(F.col(score_col), score_precision).alias("s")
    ).agg(
        F.sum((F.col(label_col) == 1).cast("long")).alias("pos"),
        F.sum((F.col(label_col) == 0).cast("long")).alias("neg"),
    )
    spark = df.sparkSession
    thresholds = spark.range(1, n_thresholds + 1).select(
        (F.col("id") / (n_thresholds + 1)).alias("threshold")
    )
    b2 = beta * beta
    joined = thresholds.join(by_score, how="cross")
    agg = joined.groupBy("threshold").agg(
        F.sum(F.when(F.col("s") >= F.col("threshold"), F.col("pos")).otherwise(0)).alias("tp"),
        F.sum(F.when(F.col("s") >= F.col("threshold"), F.col("neg")).otherwise(0)).alias("fp"),
        F.sum(F.when(F.col("s") < F.col("threshold"), F.col("pos")).otherwise(0)).alias("fn"),
    )
    return agg.select(
        "threshold",
        "tp",
        "fp",
        "fn",
        (
            (1 + b2) * F.col("tp")
            / ((1 + b2) * F.col("tp") + b2 * F.col("fn") + F.col("fp"))
        ).alias("fbeta"),
    ).orderBy("threshold")


def best_threshold(df: DataFrame, label_col: str, score_col: str, beta: float = 1.0) -> float:
    """M8 argmax (driver fold over the 99-row sweep result)."""
    rows = threshold_sweep(df, label_col, score_col, beta).collect()
    best = max(rows, key=lambda r: (r["fbeta"] if r["fbeta"] is not None else -1.0))
    return float(best["threshold"])


def multiclass_per_class_metrics(
    df: DataFrame, label_col: str, pred_col: str, classes: list
) -> DataFrame:
    """A7 (per-class): precision/recall/F1/support per class from one
    aggregation pass (conditional counts), stacked to rows. Integer counts +
    single divisions — oracle-exact."""
    lbl, prd = F.col(label_col), F.col(pred_col)
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in classes:
        aggs += [
            F.sum(((lbl == c) & (prd == c)).cast("long")).alias(f"tp_{c}"),
            F.sum(((lbl != c) & (prd == c)).cast("long")).alias(f"fp_{c}"),
            F.sum(((lbl == c) & (prd != c)).cast("long")).alias(f"fn_{c}"),
        ]
    one = df.agg(*aggs)
    rows = []
    for c in classes:
        tp, fp, fn = F.col(f"tp_{c}"), F.col(f"fp_{c}"), F.col(f"fn_{c}")
        rows.append(
            one.select(
                F.lit(int(c)).alias("class"),
                tp.alias("tp"),
                (tp + fn).alias("support"),
                (tp / (tp + fp)).alias("precision"),
                (tp / (tp + fn)).alias("recall"),
                (2 * tp / (2 * tp + fp + fn)).alias("f1"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out.orderBy("class")


def multiclass_summary(
    df: DataFrame, label_col: str, pred_col: str, classes: list
) -> DataFrame:
    """A7 (averages): accuracy + macro/weighted precision/recall/F1 in one
    row. Macro/weighted folds run over the explicit class list in fixed
    order (deterministic double arithmetic, same fold order as the SQL
    oracle)."""
    lbl, prd = F.col(label_col), F.col(pred_col)
    aggs = [
        F.count(F.lit(1)).alias("n"),
        F.sum((lbl == prd).cast("long")).alias("correct"),
    ]
    for c in classes:
        aggs += [
            F.sum(((lbl == c) & (prd == c)).cast("long")).alias(f"tp_{c}"),
            F.sum(((lbl != c) & (prd == c)).cast("long")).alias(f"fp_{c}"),
            F.sum(((lbl == c) & (prd != c)).cast("long")).alias(f"fn_{c}"),
        ]
    one = df.agg(*aggs)

    def prec(c):
        return F.col(f"tp_{c}") / (F.col(f"tp_{c}") + F.col(f"fp_{c}"))

    def rec(c):
        return F.col(f"tp_{c}") / (F.col(f"tp_{c}") + F.col(f"fn_{c}"))

    def f1(c):
        return 2 * F.col(f"tp_{c}") / (
            2 * F.col(f"tp_{c}") + F.col(f"fp_{c}") + F.col(f"fn_{c}")
        )

    def support(c):
        return F.col(f"tp_{c}") + F.col(f"fn_{c}")

    k = len(classes)
    macro_p = sum_fold([prec(c) for c in classes]) / k
    macro_r = sum_fold([rec(c) for c in classes]) / k
    macro_f = sum_fold([f1(c) for c in classes]) / k
    weighted_f = sum_fold([f1(c) * support(c) for c in classes]) / F.col("n")
    return one.select(
        (F.col("correct") / F.col("n")).alias("accuracy"),
        macro_p.alias("macro_precision"),
        macro_r.alias("macro_recall"),
        macro_f.alias("macro_f1"),
        weighted_f.alias("weighted_f1"),
    )


def _sorted_class_keys(score_cols: dict) -> list:
    """Class keys in lowest-class-first order for argmax tie-breaks: numeric
    keys sort numerically (10 classes: 0,1,2,...,10 — not '0','1','10','11',
    '2'), string keys lexicographically after them. Matches numpy argmax's
    lowest-index-wins when classes are ints."""
    return sorted(score_cols, key=lambda k: (isinstance(k, str), k))


def sum_fold(cols):
    """Left fold with explicit order: ((a+b)+c)+... — deterministic FP."""
    out = cols[0]
    for c in cols[1:]:
        out = out + c
    return out


def pr_curve_with_ap(
    df: DataFrame,
    label_col: str,
    score_col: str,
    score_precision: int | None = None,
) -> DataFrame:
    """A10/A12: PR curve + cumulative average-precision column. AP is the
    last row's ``ap_cum``: Σ ΔRecall·Precision over thresholds descending.
    The running sum is a sequential window accumulation (same order on any
    engine → bit-identical doubles)."""
    curve = roc_curve(df, label_col, score_col, score_precision)
    w = Window.orderBy(F.col("threshold").desc())
    w_cum = w.rowsBetween(Window.unboundedPreceding, 0)
    staged = (
        curve.withColumn("__prev_tp", F.coalesce(F.lag("cum_tp").over(w), F.lit(0)))
        .withColumn("__total_pos", F.max("cum_tp").over(Window.partitionBy()))
        .withColumn(
            "precision", F.col("cum_tp") / (F.col("cum_tp") + F.col("cum_fp"))
        )
        .withColumn(
            "__contrib",
            ((F.col("cum_tp") - F.col("__prev_tp")) / F.col("__total_pos"))
            * F.col("precision"),
        )
    )
    # round: window-sum associativity differs across engines (segment-tree
    # vs sequential) by ~1 ulp; 9 digits is far above the noise floor
    return (
        staged.withColumn("ap_cum", F.round(F.sum("__contrib").over(w_cum), 9))
        .select("threshold", "precision", F.col("tpr").alias("recall"), "ap_cum")
        .orderBy(F.col("threshold").desc())
    )


def column_variance(df: DataFrame, cols) -> DataFrame:
    """A14: per-column variance for variance-threshold selection, computed
    via exact decimal sums (engine-independent, unlike streaming variance):
    var = (Σx² − (Σx)²/n) / (n−1)."""
    aggs = [F.count(F.lit(1)).alias("n")]
    for c in cols:
        d = F.col(c).cast("decimal(20,4)")
        aggs += [F.sum(d).alias(f"__s_{c}"), F.sum(d * d).alias(f"__q_{c}")]
    agg = df.agg(*aggs)
    n = F.col("n").cast("double")
    exprs = []
    for c in cols:
        s = F.col(f"__s_{c}").cast("double")
        q = F.col(f"__q_{c}").cast("double")
        exprs.append(((q - s * s / n) / (n - F.lit(1.0))).alias(c))
    long = agg.select(*exprs).selectExpr(
        "stack({}, {}) as (column_name, variance)".format(
            len(cols), ", ".join(f"'{c}', `{c}`" for c in cols)
        )
    )
    return long.orderBy("column_name")


def roc_auc_ovr(df: DataFrame, label_col: str, score_cols: dict) -> DataFrame:
    """A8: one-vs-rest ROC-AUC per class + macro average
    (reference evaluator.py:1056-1070, roc_auc_score(multi_class="ovr",
    average="macro")). ``score_cols`` maps class value -> its score column.

    Same scalable shape as :func:`roc_auc` — stack the K binary problems,
    reduce to per-(class, distinct score) counts, one window partitioned by
    class (touches |classes|·|distinct scores| rows, never K·N). The macro
    row folds the per-class AUCs in explicit sorted-class order, so the
    double arithmetic matches a fixed-order SQL oracle bit-for-bit."""
    keys = _sorted_class_keys(score_cols)
    # stack the K binary problems by EXPLODING K structs per input row
    # instead of a K-way self-union (r14 census: the union re-scanned the
    # input once per class — 3 scans for a8; one scan now, same rows)
    stacked = df.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(str(cls)).alias("class"),
                        (F.col(label_col) == cls).cast("long").alias("y"),
                        F.col(score_cols[cls]).alias("s"),
                    )
                    for cls in keys
                ]
            )
        ).alias("__e")
    ).select("__e.class", "__e.y", "__e.s")
    by_score = stacked.groupBy("class", "s").agg(
        F.sum("y").alias("pos"),
        F.sum(1 - F.col("y")).alias("neg"),
    )
    w = (
        Window.partitionBy("class")
        .orderBy("s")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    contrib = by_score.withColumn(
        "neg_below", F.coalesce(F.sum("neg").over(w), F.lit(0))
    )
    # every u term is an exact multiple of 0.5 (integer counts), so the
    # per-class sum is order-independent in double; one final division
    per_class = contrib.groupBy("class").agg(
        (
            F.sum(F.col("pos") * (F.col("neg_below") + F.col("neg") / 2))
            / (F.sum("pos") * F.sum("neg"))
        ).alias("auc")
    )
    # K rows (one per class), consumed by BOTH the output union and the
    # macro fold — on a cluster-shaped input the bounded checkpoint stops
    # the full subtree running twice (r14 census: a8 carried 6 input
    # scans); at sf0.1 the extra job barrier loses to the cheap
    # re-derivation, so the decision is the derived a18 one (at_scale).
    per_class = checkpoint_at_scale(per_class, df)
    pivoted = per_class.agg(
        *[
            F.sum(F.when(F.col("class") == str(k), F.col("auc"))).alias(f"__a{i}")
            for i, k in enumerate(keys)
        ]
    )
    macro = pivoted.select(
        F.lit("__macro__").alias("class"),
        (sum_fold([F.col(f"__a{i}") for i in range(len(keys))]) / len(keys)).alias("auc"),
    )
    return per_class.unionByName(macro).orderBy("class")


def ece_bins_multiclass(
    df: DataFrame, label_col: str, score_cols: dict, n_bins: int = 10
) -> DataFrame:
    """A9 multiclass (max-probability) calibration bins (reference
    evaluator.py:1280-1333): confidence = max class probability, correct =
    (argmax class == label), argmax ties resolved to the lowest class index
    (numpy argmax semantics). Same single groupBy shape as the binary form —
    ECE is the driver fold over ≤ n_bins rows."""
    keys = _sorted_class_keys(score_cols)
    conf = F.greatest(*[F.col(score_cols[k]) for k in keys])
    pred = F.when(F.col(score_cols[keys[0]]) == conf, F.lit(keys[0]))
    for k in keys[1:]:
        pred = pred.when(F.col(score_cols[k]) == conf, F.lit(k))
    binned = df.select(
        F.least(F.floor(conf * n_bins).cast("int"), F.lit(n_bins - 1)).alias("bin"),
        (F.col(label_col) == pred).cast("double").alias("ok"),
        conf.alias("conf"),
    )
    return (
        binned.groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.avg("ok").alias("accuracy"),
            F.avg("conf").alias("avg_confidence"),
        )
        .orderBy("bin")
    )


def drift_bins(
    ref: "DataFrame",
    cur: "DataFrame",
    value_col: str,
    lo: float,
    hi: float,
    n_bins: int = 10,
):
    """Feature-drift comparison table (the PSI/KS input): histogram a
    reference and a current population on SHARED fixed bin edges and emit
    per-bin counts plus exact micro-proportions (ppm, integer-divided) —
    everything integer, so the result is engine-exact and oracle-checkable
    (the PSI scalar itself needs ln(); compute it driver-side from these
    counts when a float summary is acceptable).

    Bin index = clamp(floor((x - lo) / (hi - lo) * n_bins), 0, n_bins - 1)
    — the float expression is evaluated in the same IEEE op order on any
    engine, so bin assignment is identical. One aggregation per side (tiny
    n_bins-row outputs), then a full outer join on bin: at 100 TB each
    side is a single partial-agg scan, no shuffle of raw rows."""
    from pyspark.sql import functions as F

    def binned(df, name):
        b = F.floor(
            (F.col(value_col) - F.lit(lo)) / F.lit(hi - lo) * F.lit(n_bins)
        )
        b = F.least(F.greatest(b, F.lit(0)), F.lit(n_bins - 1)).cast("int")
        return df.groupBy(b.alias("bin")).agg(F.count(F.lit(1)).alias(name))

    r = binned(ref, "n_ref")
    c = binned(cur, "n_cur")
    # Materialize the <= n_bins-row joined histogram ONCE when the input
    # is cluster-shaped (r14 census: this frame is consumed by `tot` AND
    # the ppm projection, and ks_stat_exact re-references the whole
    # result twice more — Catalyst re-derives the subtree per reference,
    # so a16's main plan carried EIGHT full scans of the input for two
    # histogram passes). Scale-conditional via the derived a18 decision
    # (materialize.at_scale): at sf0.1 the checkpoint's job barrier costs
    # more than six re-scans of a tiny parquet (measured 0.70 -> 1.32 s
    # on a16), on a non-local master or >4 GiB input each re-derivation
    # is a full distributed scan.
    joined = r.join(c, "bin", "full_outer").select(
        "bin",
        F.coalesce("n_ref", F.lit(0)).alias("n_ref"),
        F.coalesce("n_cur", F.lit(0)).alias("n_cur"),
    )
    joined = checkpoint_at_scale(joined, ref, cur)
    tot = joined.agg(
        F.sum("n_ref").alias("__tr"), F.sum("n_cur").alias("__tc")
    )
    return (
        joined.crossJoin(F.broadcast(tot))
        .select(
            "bin",
            "n_ref",
            "n_cur",
            F.expr("CAST(n_ref * 1000000 DIV __tr AS BIGINT)").alias("ref_ppm"),
            F.expr("CAST(n_cur * 1000000 DIV __tc AS BIGINT)").alias("cur_ppm"),
        )
        .orderBy("bin")
    )


def ks_stat_exact(
    ref: "DataFrame",
    cur: "DataFrame",
    value_col: str,
    lo: float,
    hi: float,
    n_bins: int = 100,
):
    """Binned Kolmogorov–Smirnov drift statistic, EXACTLY: over the shared
    fixed-bin CDFs, KS = max |F_ref(b) - F_cur(b)|. Floats would make the
    max engine-dependent at ties, so the comparison is cleared of
    division: the output is the integer numerator ``max |cum_ref·N_cur -
    cum_cur·N_ref|`` with both denominators, and KS = ks_num / (n_ref_total
    · n_cur_total) is one final driver-side division. Same two partial-agg
    scans as :func:`drift_bins` plus a cumulative window over n_bins rows
    (bounded input — aggregation sits below it).

    The cross-multiply runs in DECIMAL(38,0): cum·N products exceed BIGINT
    once each side passes ~3e9 rows (product > 2^63) — the normal regime at
    100 TB — where int64 would throw under ANSI mode or silently wrap
    without it. decimal(38,0) holds exact products to ~1e19·1e19 row
    counts; the numerator is returned as decimal."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    bins = drift_bins(ref, cur, value_col, lo, hi, n_bins)
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tot = bins.agg(
        F.sum("n_ref").alias("__tr"), F.sum("n_cur").alias("__tc")
    )
    dec = "decimal(38,0)"
    return (
        bins.select(
            "bin",
            F.sum("n_ref").over(w).cast(dec).alias("cum_ref"),
            F.sum("n_cur").over(w).cast(dec).alias("cum_cur"),
        )
        .crossJoin(F.broadcast(tot))
        .agg(
            F.max(
                F.abs(
                    F.col("cum_ref") * F.col("__tc").cast(dec)
                    - F.col("cum_cur") * F.col("__tr").cast(dec)
                ).cast(dec)
            ).alias("ks_num"),
            F.first("__tr").alias("n_ref_total"),
            F.first("__tc").alias("n_cur_total"),
        )
    )


def _doubled_tie_ranks(
    df: DataFrame,
    col: str,
    out: str,
    n_buckets: int = 32,
    boundaries: list[float] | None = None,
) -> DataFrame:
    """(value -> 2x its 1-based average tie rank) — doubling keeps the
    average of a tie run (offset + (size+1)/2) an exact INTEGER, so rank
    arithmetic never touches a float.

    Unlike the a6/a12 rank reduction (scores pre-quantized to 1024
    levels), a raw numeric column's DISTINCT cardinality grows with the
    data, so a single prefix window over the per-value counts would be a
    one-task scale-killer. The prefix sum is therefore two-level, the
    global_ordinal pattern applied to weighted counts: bucket the
    DISTINCT-value table monotonically -> per-bucket row-count totals
    prefix-summed over the BOUNDED bucket aggregate -> within-bucket
    prefix windows partitioned by bucket. cum_less = bucket offset +
    within-bucket prefix; bucket placement only affects balance, never
    the ranks (any MONOTONE bucketing of the value yields identical
    output).

    Bucketing (round-13 optimization): for INTEGRAL columns the bucket
    is the two_level_rank order-preserving range bucket,
    (v − lo) div ceil(span/B), with lo/hi riding a 1-row broadcast agg —
    entirely IN-PLAN, no driver action. The previous percentile_approx
    sketch (one extra full-input pass + a driver collect per column) was
    the dominant cost of a18 at sf0.1 (3.96 → 2.38 s min-of-5
    alternating A/B, identical output); it remains as the fallback for
    non-integral columns and callers passing explicit ``boundaries``.
    Residual: value-range skew can unbalance range buckets where the
    percentile sketch balanced them — only the within-bucket window's
    balance is affected, and the quantized-integer columns this path
    serves are range-bounded by construction."""
    counts = df.groupBy(col).agg(F.count(F.lit(1)).alias("__cnt"))
    # consumed by the bounds agg, the totals/offsets ladder and the main
    # join — one materialization replaces three derivations of the
    # distinct-counts shuffle (cluster shape; see materialize.at_scale)
    counts = checkpoint_at_scale(counts, df)
    dtype = dict(df.dtypes)[col]
    if boundaries is None and dtype in _INTEGRAL_DTYPES:
        # min/max over the distinct-value table == min/max over df, and
        # riding on `counts` lets the exchange be reused instead of
        # paying another full-input scan
        bounds = counts.agg(F.min(col).alias("__lo"), F.max(col).alias("__hi"))
        bkt = F.expr(
            f"(CAST({col} AS BIGINT) - CAST(__lo AS BIGINT)) div "
            f"greatest(1L, (CAST(__hi AS BIGINT) - CAST(__lo AS BIGINT)"
            f" + {n_buckets}) div {n_buckets})"
        )
        counts = (
            counts.crossJoin(F.broadcast(bounds))
            .withColumn("__bkt", bkt)
            .drop("__lo", "__hi")
        )
    else:
        if boundaries is None:
            probs = [i / n_buckets for i in range(1, n_buckets)]
            raw = []
            if probs:
                raw = (
                    df.agg(
                        F.percentile_approx(
                            F.col(col).cast("double"), probs
                        ).alias("b")
                    ).collect()[0]["b"]
                    or []
                )
            from ..operators.ordinal import dedup_boundaries

            boundaries = dedup_boundaries(raw)
        from ..operators.ordinal import bucket_expr

        key = F.col(col).cast("double")
        counts = counts.withColumn("__bkt", bucket_expr(key, boundaries))

    totals = counts.groupBy("__bkt").agg(F.sum("__cnt").alias("__bn"))
    off_w = Window.orderBy("__bkt").rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.select(
        "__bkt", F.coalesce(F.sum("__bn").over(off_w), F.lit(0)).alias("__boff")
    )
    in_w = (
        Window.partitionBy("__bkt")
        .orderBy(col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        counts.join(F.broadcast(offsets), "__bkt")
        .select(
            col,
            (
                2
                * (
                    F.col("__boff")
                    + F.coalesce(F.sum("__cnt").over(in_w), F.lit(0))
                )
                + F.col("__cnt")
                + 1
            ).alias(out),
        )
    )


def spearman_components(df: DataFrame, x_col: str, y_col: str) -> DataFrame:
    """Exact Spearman rank-correlation COMPONENTS: Pearson components over
    doubled tie-averaged ranks (2r_x, 2r_y) — n, Σ2rx, Σ2ry, Σ(2rx·2ry),
    Σ(2rx)², Σ(2ry)² — so rho = (nΣxy − ΣxΣy)/sqrt((nΣxx − Σx²)(nΣyy −
    Σy²)) is one driver-side float step (the doubling cancels). Same
    cleared-division discipline as a17's Pearson: every distributed value
    is an exact integer; sums run in DECIMAL(38,0); rank sums present as
    BIGINT and product sums as DOUBLE (both engines round the same exact
    integer to the same double). The tie-corrected rank transform is what
    makes this Spearman, not Pearson-on-row-numbers.

    Scale shape: two distinct-value aggregates, two prefix windows over
    those BOUNDED aggregates, two join-backs on the value (Zipf-skewed
    values split by AQE), one final 1-row aggregation."""
    dec = "decimal(38,0)"
    # LISTWISE DELETION first (standard Spearman): a row with a NULL in
    # either column must not contribute to EITHER rank table — ranking
    # before pairing would let half-missing rows shift the other column's
    # ranks non-uniformly and bias rho
    df = df.filter(F.col(x_col).isNotNull() & F.col(y_col).isNotNull())
    # the filtered pair frame feeds rx, ry and the ranked join — at
    # cluster scale those are three full input scans (materialize.at_scale;
    # off on a small local input = the local-measured optimum)
    df = checkpoint_at_scale(df, df)
    dtypes = dict(df.dtypes)
    if dtypes[x_col] in _INTEGRAL_DTYPES and dtypes[y_col] in _INTEGRAL_DTYPES:
        # round-13: integral columns take _doubled_tie_ranks' in-plan
        # range-bucket path — no percentile sketch, no driver collect
        rx = _doubled_tie_ranks(df, x_col, "__r2x")
        ry = _doubled_tie_ranks(df, y_col, "__r2y")
    else:
        # one pass sketches both columns' bucket boundaries (frozen
        # literals)
        probs = [i / 32 for i in range(1, 32)]
        brow = df.agg(
            F.percentile_approx(F.col(x_col).cast("double"), probs).alias("bx"),
            F.percentile_approx(F.col(y_col).cast("double"), probs).alias("by"),
        ).collect()[0]
        from ..operators.ordinal import dedup_boundaries

        rx = _doubled_tie_ranks(
            df, x_col, "__r2x", boundaries=dedup_boundaries(brow["bx"])
        )
        ry = _doubled_tie_ranks(
            df, y_col, "__r2y", boundaries=dedup_boundaries(brow["by"])
        )
    ranked = df.select(x_col, y_col).join(rx, x_col).join(ry, y_col)
    r2x = F.col("__r2x").cast(dec)
    r2y = F.col("__r2y").cast(dec)
    return ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(r2x).cast("long").alias("sum_rx"),
        F.sum(r2y).cast("long").alias("sum_ry"),
        F.sum(r2x * r2y).cast("double").alias("sum_rxry"),
        F.sum(r2x * r2x).cast("double").alias("sum_rxrx"),
        F.sum(r2y * r2y).cast("double").alias("sum_ryry"),
    )


def brier_components(
    df: DataFrame, label_col: str, score_col: str, scale: int = 1024
) -> DataFrame:
    """Exact Brier-score components: with scores quantized to k/scale
    (the repo's standard score-quantization contract, quantize_score),
    Brier = Σ(k/scale − y)² / n = Σ(k − scale·y)² / (n·scale²) — so the
    distributed part carries ONLY the integer numerator Σ(k − scale·y)²
    and n, and the final division is one driver-side float step. A naive
    Σ(p−y)² of doubles is partial-aggregation-order-dependent; the integer
    numerator is not (same cleared-division discipline as a16/a17/a18).
    Sum rides decimal(38,0): per-row terms reach scale², so int64 heads
    toward overflow around 10^12 rows."""
    k = F.floor(F.col(score_col) * scale + F.lit(0.5)).cast("long")
    d = k - F.lit(scale) * F.col(label_col).cast("long")
    return df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((d * d).cast("decimal(38,0)")).cast("long").alias("sum_sq_num"),
        F.lit(scale).cast("long").alias("scale"),
    )
