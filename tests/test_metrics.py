"""Metric-query tests against hand-computed + numpy oracles (the container
has no sklearn; the reference's own oracle pattern — compare to a trusted
computation — is applied with explicit formulas)."""

from __future__ import annotations

import numpy as np
import pytest

from end_to_end_ml_spark.functions import metrics as M

# y_true, y_pred fixture: TP=3, FP=2, FN=1, TN=4
PAIRS = [(1, 1)] * 3 + [(0, 1)] * 2 + [(1, 0)] * 1 + [(0, 0)] * 4


@pytest.fixture(scope="module")
def scored(spark):
    rows = [(i, y, s) for i, (y, s) in enumerate(
        [(1, 0.9), (1, 0.8), (0, 0.7), (1, 0.6), (0, 0.4), (0, 0.2)]
    )]
    return spark.createDataFrame(rows, ["pk", "y", "s"])


def test_confusion_matrix(spark):
    df = spark.createDataFrame(PAIRS, ["y", "p"])
    out = {(r["label"], r["prediction"]): r["n"] for r in M.confusion_matrix(df, "y", "p").collect()}
    assert out == {(1, 1): 3, (0, 1): 2, (1, 0): 1, (0, 0): 4}


def test_confusion_row_fraction(spark):
    df = spark.createDataFrame(PAIRS, ["y", "p"])
    out = {(r["label"], r["prediction"]): r["row_fraction"] for r in M.confusion_matrix(df, "y", "p").collect()}
    assert out[(1, 1)] == pytest.approx(0.75)
    assert out[(0, 0)] == pytest.approx(4 / 6)


def test_binary_metrics(spark):
    df = spark.createDataFrame(PAIRS, ["y", "p"])
    r = M.binary_metrics(df, "y", "p", beta=0.5).collect()[0]
    assert (r["tp"], r["fp"], r["fn"], r["tn"]) == (3, 2, 1, 4)
    assert r["accuracy"] == pytest.approx(0.7)
    assert r["precision"] == pytest.approx(0.6)
    assert r["recall"] == pytest.approx(0.75)
    assert r["f1"] == pytest.approx(2 * 0.6 * 0.75 / 1.35)
    b2 = 0.25
    assert r["fbeta"] == pytest.approx((1 + b2) * 3 / ((1 + b2) * 3 + b2 * 1 + 2))


def test_roc_auc_separable(spark):
    df = spark.createDataFrame([(1, 0.9), (1, 0.8), (0, 0.2), (0, 0.1)], ["y", "s"])
    assert M.roc_auc(df, "y", "s").collect()[0]["roc_auc"] == pytest.approx(1.0)


def test_roc_auc_with_ties_matches_mannwhitney(spark):
    rows = [(1, 0.5), (0, 0.5), (1, 0.7), (0, 0.3), (1, 0.3), (0, 0.7)]
    df = spark.createDataFrame(rows, ["y", "s"])
    y = np.array([r[0] for r in rows])
    s = np.array([r[1] for r in rows])
    # Mann-Whitney U with average ranks
    order = np.argsort(s, kind="stable")
    ranks = np.empty(len(s), dtype=float)
    sorted_s = s[order]
    i = 0
    rk = 1
    while i < len(s):
        j = i
        while j < len(s) and sorted_s[j] == sorted_s[i]:
            j += 1
        avg = (rk + rk + (j - i) - 1) / 2
        for k in range(i, j):
            ranks[order[k]] = avg
        rk += j - i
        i = j
    n_pos, n_neg = y.sum(), (1 - y).sum()
    expected = (ranks[y == 1].sum() - n_pos * (n_pos + 1) / 2) / (n_pos * n_neg)
    assert M.roc_auc(df, "y", "s").collect()[0]["roc_auc"] == pytest.approx(expected)


def test_apply_threshold(spark, scored):
    out = M.apply_threshold(scored, "s", 0.6).collect()
    assert [r["prediction"] for r in sorted(out, key=lambda r: r["pk"])] == [1, 1, 1, 1, 0, 0]


def test_ece_bins_exact(spark):
    df = spark.createDataFrame(
        [(1, 0.95), (0, 0.95), (1, 0.05), (0, 0.05)], ["y", "s"]
    )
    rows = {r["bin"]: r for r in M.ece_bins(df, "y", "s", n_bins=10).collect()}
    assert set(rows) == {0, 9}
    assert rows[9]["avg_label"] == pytest.approx(0.5)
    assert rows[9]["avg_confidence"] == pytest.approx(0.95)


def test_expected_calibration_error(spark):
    df = spark.createDataFrame([(1, 0.95), (0, 0.95), (1, 0.05), (0, 0.05)], ["y", "s"])
    # both bins: |acc - conf| = |0.5-0.95|=0.45 and |0.5-0.05|=0.45, weights 1/2
    assert M.expected_calibration_error(df, "y", "s") == pytest.approx(0.45)


def test_roc_curve_monotone(spark, scored):
    rows = M.roc_curve(scored, "y", "s").collect()
    tprs = [r["tpr"] for r in rows]
    fprs = [r["fpr"] for r in rows]
    assert tprs == sorted(tprs) and fprs == sorted(fprs)
    assert tprs[-1] == pytest.approx(1.0) and fprs[-1] == pytest.approx(1.0)


def test_pr_curve_first_point(spark, scored):
    rows = M.precision_recall_curve(scored, "y", "s").collect()
    assert rows[0]["precision"] == pytest.approx(1.0)  # highest threshold: only TP


def test_lift_gains(spark):
    rows = [(i, 1 if i < 20 else 0, 1.0 - i / 100) for i in range(100)]
    df = spark.createDataFrame(rows, ["pk", "y", "s"])
    out = M.lift_gains(df, "y", "s", "pk", n_tiles=10).collect()
    # all 20 positives have the top-20 scores → first two deciles capture all
    assert out[0]["cum_gain"] == pytest.approx(0.5)
    assert out[1]["cum_gain"] == pytest.approx(1.0)
    assert out[0]["lift"] == pytest.approx(5.0)
    assert out[-1]["cum_gain"] == pytest.approx(1.0)


def test_threshold_sweep_and_best(spark):
    df = spark.createDataFrame([(1, 0.9), (1, 0.7), (0, 0.3), (0, 0.1)], ["y", "s"])
    rows = M.threshold_sweep(df, "y", "s", beta=1.0).collect()
    assert len(rows) == 99
    mid = [r for r in rows if abs(r["threshold"] - 0.5) < 1e-9][0]
    assert mid["fbeta"] == pytest.approx(1.0)  # perfect separation at 0.5
    assert 0.3 < M.best_threshold(df, "y", "s") <= 0.7


def test_class_imbalance_ratio(spark, tmp_path):
    """A3 as the registry row a3_imbalance_ratio runs it: negatives per
    positive over the scored-events fixture (label = event_id % 7 < 3)."""
    import datetime as dt

    from end_to_end_ml_spark.plans.entry_queries import a3_imbalance

    ts = dt.datetime(2024, 1, 1)
    spark.createDataFrame(
        [(i, ts) for i in range(14)], "event_id long, ts timestamp"
    ).write.parquet(str(tmp_path / "events.parquet"))
    r = a3_imbalance(spark, str(tmp_path)).collect()[0]
    assert r["imbalance_ratio"] == pytest.approx(8 / 6)


def test_column_variance_matches_numpy(spark):
    data = [(float(i), float(i * i % 7)) for i in range(30)]
    df = spark.createDataFrame(data, ["a", "b"])
    out = {r["column_name"]: r["variance"] for r in M.column_variance(df, ["a", "b"]).collect()}
    a = np.array([d[0] for d in data])
    b = np.array([d[1] for d in data])
    assert out["a"] == pytest.approx(a.var(ddof=1), rel=1e-9)
    assert out["b"] == pytest.approx(b.var(ddof=1), rel=1e-9)


def test_roc_auc_ovr_matches_binary(spark):
    """Per-class OVR AUC must equal the binary AUC of each one-vs-rest
    problem, and macro = explicit-order mean."""
    import random

    from end_to_end_ml_spark.functions import metrics as M

    rng = random.Random(7)
    rows = [
        (rng.randrange(3), rng.randrange(64) / 64, rng.randrange(64) / 64, rng.randrange(64) / 64)
        for _ in range(300)
    ]
    df = spark.createDataFrame(rows, ["y", "s0", "s1", "s2"])
    out = {r["class"]: r["auc"] for r in M.roc_auc_ovr(df, "y", {0: "s0", 1: "s1", 2: "s2"}).collect()}
    aucs = []
    for c, sc in [(0, "s0"), (1, "s1"), (2, "s2")]:
        bin_df = df.selectExpr(f"CASE WHEN y = {c} THEN 1 ELSE 0 END AS yy", f"{sc} AS s")
        expected = M.roc_auc(bin_df, "yy", "s").collect()[0]["roc_auc"]
        assert out[str(c)] == expected
        aucs.append(expected)
    assert out["__macro__"] == ((aucs[0] + aucs[1]) + aucs[2]) / 3


def test_score_precision_bounds_distinct_scores(spark):
    """quantize_score must cap the distinct-score frame (the load-bearing
    invariant for the global metric windows) without moving the metric."""
    df = spark.range(0, 5000).selectExpr(
        "cast(id % 2 as int) as y",
        "((id * 2654435761) % 1000003) / 1000003.0 as s",
    )
    assert df.select("s").distinct().count() > 4000  # genuinely continuous
    curve = M.roc_curve(df, "y", "s", score_precision=3)
    assert curve.count() <= 1001  # floor(s*1e3+0.5)/1e3 on [0,1]
    auc_q = M.roc_auc(df, "y", "s", score_precision=3).collect()[0]["roc_auc"]
    auc = M.roc_auc(df, "y", "s").collect()[0]["roc_auc"]
    assert abs(auc_q - auc) < 1e-3


def test_lift_gains_closed_form_matches_ntile(spark):
    """The distributed two-level ranking must reproduce Spark's own ntile
    bucket arithmetic exactly, including the uneven-bucket edge cases
    (n not divisible by tiles, ties on score)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    for n, tiles in [(100, 10), (103, 10), (7, 10), (55, 7)]:
        df = spark.range(0, n).selectExpr(
            "id as pk",
            "cast(id % 2 as int) as y",
            "cast((id * 7) % 13 as double) / 13 as s",  # many score ties
        )
        ref = df.select(
            "pk",
            F.ntile(tiles)
            .over(Window.orderBy(F.col("s").desc(), F.col("pk")))
            .alias("decile"),
        )
        ref_counts = {
            (r["decile"]): r["c"]
            for r in ref.groupBy("decile").agg(F.count("*").alias("c")).collect()
        }
        got = M.lift_gains(df, "y", "s", "pk", n_tiles=tiles)
        got_counts = {r["decile"]: r["n"] for r in got.collect()}
        assert got_counts == ref_counts, (n, tiles, got_counts, ref_counts)


def test_lift_gains_score_precision_bounds_and_matches(spark):
    """score_precision caps the distinct-score frame feeding lift_gains'
    only global window (ADVICE r2); on scores already at that precision
    the quantized and exact paths are identical."""
    df = spark.range(0, 5000).selectExpr(
        "id as pk",
        "cast(id % 2 as int) as y",
        "((id * 2654435761) % 1000003) / 1000003.0 as s",
    )
    exact3 = df.selectExpr("pk", "y", "floor(s * 1000 + 0.5) / 1000 as s")
    got_q = M.lift_gains(exact3, "y", "s", "pk", score_precision=3).collect()
    got_e = M.lift_gains(exact3, "y", "s", "pk").collect()
    assert [r.asDict() for r in got_q] == [r.asDict() for r in got_e]
    # on genuinely continuous scores the quantized decile stats stay close
    q = {r["decile"]: r["pos"] for r in M.lift_gains(df, "y", "s", "pk", score_precision=3).collect()}
    e = {r["decile"]: r["pos"] for r in M.lift_gains(df, "y", "s", "pk").collect()}
    assert sum(q.values()) == sum(e.values())
    assert all(abs(q[d] - e[d]) <= 5 for d in e)


def test_drift_bins_clamps_and_exact_ppm(spark):
    from end_to_end_ml_spark.functions.metrics import drift_bins

    ref = spark.createDataFrame([(float(v),) for v in [-5, 0, 1, 5, 9, 100]], ["x"])
    cur = spark.createDataFrame([(float(v),) for v in [2, 2, 2, 50]], ["x"])
    out = {r["bin"]: r for r in drift_bins(ref, cur, "x", 0.0, 10.0, 5).collect()}
    # -5 clamps into bin 0; 100 clamps into bin 4
    assert out[0]["n_ref"] == 3  # -5, 0, 1
    assert out[4]["n_ref"] == 2  # 9, 100
    assert out[1]["n_cur"] == 3  # three 2.0s
    assert out[4]["n_cur"] == 1  # 50 clamped
    # exact integer ppm: floor(3 * 1e6 / 6), floor(3 * 1e6 / 4)
    assert out[0]["ref_ppm"] == 500000
    assert out[1]["cur_ppm"] == 750000
    # bins with no rows on one side report zero, not null
    assert out[2]["n_ref"] == 1 and out[2]["n_cur"] == 0


class TestSpearmanComponents:
    def test_rho_matches_pure_python(self, spark):
        import math

        from end_to_end_ml_spark.functions.metrics import spearman_components

        xs = [3, 1, 4, 1, 5, 9, 2, 6, 5, 3, 5]
        ys = [2, 7, 1, 8, 2, 8, 1, 8, 2, 8, 4]
        df = spark.createDataFrame(list(zip(xs, ys)), ["x", "y"])
        r = spearman_components(df, "x", "y").collect()[0]

        def tie_ranks(vals):
            order = sorted(range(len(vals)), key=lambda i: vals[i])
            ranks = [0.0] * len(vals)
            i = 0
            while i < len(order):
                j = i
                while j + 1 < len(order) and vals[order[j + 1]] == vals[order[i]]:
                    j += 1
                avg = (i + j) / 2 + 1
                for k in range(i, j + 1):
                    ranks[order[k]] = avg
                i = j + 1
            return ranks

        rx, ry = tie_ranks(xs), tie_ranks(ys)
        n = len(xs)
        sx, sy = sum(rx), sum(ry)
        sxy = sum(a * b for a, b in zip(rx, ry))
        sxx = sum(a * a for a in rx)
        syy = sum(b * b for b in ry)
        rho = (n * sxy - sx * sy) / math.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))

        # components are DOUBLED ranks; the x2 cancels in rho
        got_rho = (r["n"] * r["sum_rxry"] - r["sum_rx"] * r["sum_ry"]) / math.sqrt(
            (r["n"] * r["sum_rxrx"] - r["sum_rx"] ** 2)
            * (r["n"] * r["sum_ryry"] - r["sum_ry"] ** 2)
        )
        assert abs(got_rho - rho) < 1e-12
        assert r["sum_rx"] == int(2 * sx) and r["sum_ry"] == int(2 * sy)

    def test_perfect_monotone(self, spark):
        import math

        from end_to_end_ml_spark.functions.metrics import spearman_components

        df = spark.createDataFrame([(i, i * 10) for i in range(1, 30)], ["x", "y"])
        r = spearman_components(df, "x", "y").collect()[0]
        rho = (r["n"] * r["sum_rxry"] - r["sum_rx"] * r["sum_ry"]) / math.sqrt(
            (r["n"] * r["sum_rxrx"] - r["sum_rx"] ** 2)
            * (r["n"] * r["sum_ryry"] - r["sum_ry"] ** 2)
        )
        assert abs(rho - 1.0) < 1e-12


class TestSpearmanNulls:
    def test_half_missing_rows_do_not_bias_ranks(self, spark):
        import math

        from end_to_end_ml_spark.functions.metrics import spearman_components

        df = spark.createDataFrame(
            [(1, 1), (2, None), (3, 3), (4, 4), (None, 7)],
            "x long, y long",
        )
        r = spearman_components(df, "x", "y").collect()[0]
        rho = (r["n"] * r["sum_rxry"] - r["sum_rx"] * r["sum_ry"]) / math.sqrt(
            (r["n"] * r["sum_rxrx"] - r["sum_rx"] ** 2)
            * (r["n"] * r["sum_ryry"] - r["sum_ry"] ** 2)
        )
        # surviving complete pairs are perfectly monotone; a NULL-biased
        # rank table would give ~0.98 instead of exactly 1.0
        assert r["n"] == 3 and abs(rho - 1.0) < 1e-12


def test_two_level_rank_int32_extreme_span(spark):
    """r12 self-review: a 32-bit tiebreak column spanning more than 2^31
    must not trip the ANSI int-overflow on (hi - lo) — the bucket
    arithmetic runs in BIGINT. Positions still exact at the extremes."""
    rows = [(-(2**31), 5), (2**31 - 1, 5), (0, 5), (7, 3)]
    df = spark.createDataFrame(rows, "tb int, s int")
    got = {r["tb"]: r["pos"] for r in M.two_level_rank(df, "s", "tb").collect()}
    ordered = sorted(rows, key=lambda t: (-t[1], t[0]))
    assert got == {tb: i + 1 for i, (tb, _) in enumerate(ordered)}


class TestSpearmanScaleMaterialize:
    def test_knob_is_result_identical(self, spark, monkeypatch):
        """SPARK_GRAFT_SCALE_MATERIALIZE flips a18's plan to the
        cluster shape (localCheckpoint the pair frame + each counts
        table instead of re-deriving them per consumer — measured local
        loss, cluster win; see the comment in materialize).
        The knob must never change a single value, ties and NULLs
        included."""
        from end_to_end_ml_spark.functions import metrics

        xs = [3, 1, 4, 1, 5, 9, 2, 6, 5, 3, 5, None, 7]
        ys = [2, 7, 1, 8, 2, 8, 1, 8, 2, 8, 4, 3, None]
        df = spark.createDataFrame(list(zip(xs, ys)), "x long, y long")

        # env var is read at CALL time (r13 ADVICE: the import-time read
        # made later env changes a silent no-op)
        monkeypatch.setenv("SPARK_GRAFT_SCALE_MATERIALIZE", "0")
        base = metrics.spearman_components(df, "x", "y").collect()
        monkeypatch.setenv("SPARK_GRAFT_SCALE_MATERIALIZE", "1")
        ckpt_df = metrics.spearman_components(df, "x", "y")
        ckpt = ckpt_df.collect()
        assert [tuple(r) for r in base] == [tuple(r) for r in ckpt]
        # the knob actually changed the plan: checkpointed scans appear
        plan = ckpt_df._jdf.queryExecution().toString()
        assert "ExistingRDD" in plan or "Scan ExistingRDD" in plan

    def test_auto_derive_local_default_off(self, spark, monkeypatch):
        """With the env var UNSET, the decision is derived: a small frame
        on a local master keeps the measured-optimal local plan (no
        materialization barriers) — the r14 auto-derive must not change
        the local bench's a18 plan."""
        from end_to_end_ml_spark import materialize

        monkeypatch.delenv("SPARK_GRAFT_SCALE_MATERIALIZE", raising=False)
        df = spark.createDataFrame([(1, 2), (3, 4)], "x long, y long")
        # decision only: the plan-shape flip itself is pinned by
        # test_knob_is_result_identical (the base frame is already
        # RDD-backed under createDataFrame, so "ExistingRDD" appears in
        # every plan here and cannot witness the checkpoint)
        assert materialize.at_scale(df) is False

    def test_auto_derive_size_threshold(self, spark, monkeypatch):
        """Unset env + a local master still flips to the materialized
        shape when the optimizer's size estimate for the input exceeds
        the threshold (a big LOCAL job re-deriving a multi-GB frame per
        consumer loses to one materialization), while Catalyst's
        unknown-size sentinel (Long.MaxValue on ExistingRDD inputs) is
        treated as unknown, not huge."""
        from end_to_end_ml_spark import materialize

        monkeypatch.delenv("SPARK_GRAFT_SCALE_MATERIALIZE", raising=False)
        # Range has exact optimizer stats (rows x 8 bytes), so it can
        # cross a zeroed threshold honestly
        df = spark.range(4).selectExpr("id as x", "id as y")
        monkeypatch.setattr(materialize, "_SCALE_MATERIALIZE_BYTES", 0)
        assert materialize.at_scale(df) is True
        # unknown-size sentinel: an ExistingRDD frame reports
        # defaultSizeInBytes (Long.MaxValue) — treated as unknown, must
        # NOT flip the plan even with the threshold at zero
        rdd_backed = spark.createDataFrame([(1, 2), (3, 4)], "x long, y long")
        assert materialize.at_scale(rdd_backed) is False
        # any input at scale decides for the set (drift_bins' ref, cur)
        assert materialize.at_scale(rdd_backed, df) is True

    def test_decision_is_logged_with_its_inputs(self, spark, monkeypatch, caplog):
        """Every at_scale call logs ONE INFO line with the decision, the
        master, the per-input size estimates and the env override: a
        Range frame reports its exact size, an ExistingRDD frame the
        unknown-size sentinel (and stays local-shaped)."""
        import logging
        import re

        from end_to_end_ml_spark import materialize

        monkeypatch.delenv("SPARK_GRAFT_SCALE_MATERIALIZE", raising=False)
        caplog.set_level(logging.INFO, logger=materialize.__name__)
        ranged = spark.range(4).selectExpr("id as x", "id as y")
        rdd_backed = spark.createDataFrame([(1, 2), (3, 4)], "x long, y long")
        master = spark.sparkContext.master
        sizes = []
        for df in (ranged, rdd_backed):
            caplog.clear()
            assert materialize.at_scale(df) is False
            msgs = [r.getMessage() for r in caplog.records
                    if r.name == materialize.__name__]
            assert len(msgs) == 1, msgs
            m = re.fullmatch(
                rf"at_scale=False master={re.escape(master)} "
                r"size_bytes=\[(\d+)\] env=None",
                msgs[0],
            )
            assert m, msgs[0]
            sizes.append(int(m.group(1)))
        assert 0 < sizes[0] < materialize._SIZE_UNKNOWN_SENTINEL
        assert sizes[1] >= materialize._SIZE_UNKNOWN_SENTINEL
        # the env override is logged as the input that decided
        caplog.clear()
        monkeypatch.setenv("SPARK_GRAFT_SCALE_MATERIALIZE", "1")
        assert materialize.at_scale(ranged) is True
        assert [r.getMessage() for r in caplog.records] == [
            f"at_scale=True master={master} size_bytes=None env=1"
        ]

    def test_failed_size_probe_warns_and_keeps_local_shape(
        self, spark, monkeypatch, caplog
    ):
        """A size probe that raises is not fatal and not silent: the
        decision falls back to the local shape and a WARNING names the
        exception."""
        import logging
        from types import SimpleNamespace

        from end_to_end_ml_spark import materialize

        monkeypatch.delenv("SPARK_GRAFT_SCALE_MATERIALIZE", raising=False)
        caplog.set_level(logging.INFO, logger=materialize.__name__)
        broken = SimpleNamespace(sparkSession=spark, _jdf=None)
        assert materialize.at_scale(broken) is False
        warnings = [r for r in caplog.records if r.levelno == logging.WARNING]
        assert len(warnings) == 1
        assert "AttributeError" in warnings[0].getMessage()
        assert caplog.records[-1].getMessage().startswith("at_scale=False ")

    def test_drift_and_ovr_sites_flip_with_env(self, spark, monkeypatch):
        """The r14 census sites (drift_bins histogram, roc_auc_ovr
        per_class, _bucketed_rank counts) follow the same derived
        decision: env=1 forces the materialized cluster shape (plan
        gains Scan ExistingRDD), env=0 keeps the re-derive shape, and
        BOTH produce identical values."""
        from end_to_end_ml_spark.functions import metrics
        from end_to_end_ml_spark.operators import split as SP

        ref = spark.range(0, 100).selectExpr("cast(id as double) as v")
        cur = spark.range(40, 140).selectExpr("cast(id as double) as v")
        lab = spark.range(0, 90).selectExpr(
            "cast(id % 3 as int) as y",
            *[f"cast(id % {m} as double) / {m} as s{i}" for i, m in
              enumerate([7, 11, 13])],
        )
        rows = {}
        for env in ("0", "1"):
            monkeypatch.setenv("SPARK_GRAFT_SCALE_MATERIALIZE", env)
            ks = metrics.ks_stat_exact(ref, cur, "v", lo=0.0, hi=140.0, n_bins=10)
            ovr = metrics.roc_auc_ovr(lab, "y", {0: "s0", 1: "s1", 2: "s2"})
            tr, te = SP.stratified_split(
                lab.selectExpr("*", "cast(y * 1000 + s0 * 7 as long) as pk"),
                "y",
                "pk",
            )
            rows[env] = (
                [tuple(r) for r in ks.collect()],
                [tuple(r) for r in ovr.collect()],
                tr.count(),
                te.count(),
            )
            if env == "1":
                for q in (ks, ovr):
                    plan = q._jdf.queryExecution().toString()
                    assert "ExistingRDD" in plan
        assert rows["0"] == rows["1"]
