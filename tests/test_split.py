"""Split operator tests — mirrors the reference's
tests/test_feature/test_data_splitter.py error paths + exact-stratification
semantics."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from end_to_end_ml_spark.operators import split


@pytest.fixture(scope="module")
def labeled(spark):
    rows = [(i, "pos" if i % 4 == 0 else "neg") for i in range(200)]
    return spark.createDataFrame(rows, ["pk", "y"])


def test_stratified_exact_fractions(spark, labeled):
    train, test = split.stratified_split(labeled, "y", "pk", 0.8)
    per = {
        r["y"]: r["count"] for r in train.groupBy("y").count().collect()
    }
    assert per == {"pos": 40, "neg": 120}  # exactly 80% of 50 / 150
    assert train.count() + test.count() == 200


def test_stratified_deterministic(spark, labeled):
    a, _ = split.stratified_split(labeled, "y", "pk", 0.8)
    b, _ = split.stratified_split(labeled, "y", "pk", 0.8)
    assert sorted(r["pk"] for r in a.collect()) == sorted(r["pk"] for r in b.collect())


def test_stratified_disjoint(spark, labeled):
    train, test = split.stratified_split(labeled, "y", "pk", 0.8)
    assert split.check_no_overlap(train, test, ["pk"]) == 0


def test_stratified_errors(spark, labeled):
    with pytest.raises(ValueError, match="train_size"):
        split.stratified_split(labeled, "y", "pk", 1.5)
    with pytest.raises(ValueError, match="not in DataFrame"):
        split.stratified_split(labeled, "nope", "pk", 0.8)
    single = labeled.filter(F.col("y") == "pos")
    with pytest.raises(ValueError, match=">=2 classes"):
        split.stratified_split(single, "y", "pk", 0.8)
    withnull = labeled.withColumn(
        "y", F.when(F.col("pk") == 0, None).otherwise(F.col("y"))
    )
    with pytest.raises(ValueError, match="null labels"):
        split.stratified_split(withnull, "y", "pk", 0.8)


def test_time_split(spark):
    df = spark.createDataFrame(
        [(i, f"2024-01-{d:02d} 00:00:00") for i, d in enumerate(range(1, 21))],
        ["pk", "ts_s"],
    ).select("pk", F.to_timestamp("ts_s").alias("ts"))
    train, test = split.time_split(df, "ts", "2024-01-15 00:00:00")
    assert train.count() == 14 and test.count() == 6


def test_time_split_errors(spark):
    df = spark.createDataFrame([(1, "x")], ["pk", "notts"])
    with pytest.raises(ValueError, match="doesn't exist in dataset"):
        split.time_split(df, "no_such_date_col", "2024-01-01")
    with pytest.raises(ValueError, match="not a timestamp"):
        split.time_split(df, "notts", "2024-01-01")
    ts = spark.createDataFrame([(1,)], ["pk"]).select(
        "pk", F.to_timestamp(F.lit("2024-01-05 00:00:00")).alias("ts")
    )
    with pytest.raises(ValueError, match="outside"):
        split.time_split(ts, "ts", "2030-01-01 00:00:00")
    # null timestamps (the reference's 'date contains missing values.')
    nulls = spark.createDataFrame(
        [(1, "2024-01-05 00:00:00"), (2, None)], "pk int, s string"
    ).select("pk", F.to_timestamp("s").alias("ts"))
    with pytest.raises(ValueError, match="null timestamps"):
        split.time_split(nulls, "ts", "2024-01-05 00:00:00")


def test_validate_disjoint_raises(spark, labeled):
    with pytest.raises(ValueError, match="overlap"):
        split.validate_disjoint({"a": labeled, "b": labeled}, ["pk"])


def test_class_distribution(spark, labeled):
    out = {r["y"]: r for r in split.class_distribution(labeled, "y").collect()}
    assert out["pos"]["n"] == 50
    assert out["pos"]["fraction"] == pytest.approx(0.25)


def test_four_way_carve_disjoint(spark, labeled):
    splits = split.train_valid_calib_test(labeled, "y", "pk")
    split.validate_disjoint(splits, ["pk"])  # no raise
    assert sum(df.count() for df in splits.values()) == 200


def test_deterministic_sample_reproducible_and_bounded(spark):
    df = spark.range(0, 20000).selectExpr("id as pk", "cast(id % 4 as int) as y")
    a = split.deterministic_sample(df, "pk", "19")
    b = split.deterministic_sample(df, "pk", "19")
    assert a.count() == b.count()
    assert sorted(r["pk"] for r in a.collect()) == sorted(r["pk"] for r in b.collect())
    frac = a.count() / 20000
    assert 0.07 < frac < 0.13  # ~0x19/0x100 = 9.8%
    # larger cutoff strictly contains the smaller one
    big = {r["pk"] for r in split.deterministic_sample(df, "pk", "40").collect()}
    assert {r["pk"] for r in a.collect()} <= big
    # strata_col changes the draw but stays deterministic
    s1 = {r["pk"] for r in split.deterministic_sample(df, "pk", "19", "y").collect()}
    s2 = {r["pk"] for r in split.deterministic_sample(df, "pk", "19", "y").collect()}
    assert s1 == s2


def test_weighted_replicated_sample_exact_multiset(spark):
    """floor(w) copies + one more iff u < frac(w), u md5-derived — the
    exact multiset is reproducible and matches a python replay of the
    same arithmetic; copy_idx is 0..copies-1 per key."""
    import hashlib

    df = spark.range(0, 500).selectExpr(
        "id as pk", "cast(id % 7 as double) / 2.0 as w"  # weights 0.0 .. 3.0
    )
    out = split.weighted_replicated_sample(df, "pk", "w", max_weight=5.0)
    got = {}
    for r in out.collect():
        got.setdefault(r["pk"], []).append(r["copy_idx"])
    expected = {}
    for pk in range(500):
        w = min(max((pk % 7) / 2.0, 0.0), 5.0)
        u = int(hashlib.md5(f"w1|{pk}".encode()).hexdigest()[:12], 16) / float(1 << 48)
        copies = int(w) + (1 if u < w - int(w) else 0)
        if copies > 0:
            expected[pk] = list(range(copies))
    assert {k: sorted(v) for k, v in got.items()} == expected
    # zero-weight rows never survive
    assert all((pk % 7) != 0 for pk in got)


def test_weighted_replicated_fractional_matches_bernoulli(spark):
    """For w < 1 the replication path degenerates to exactly the Bernoulli
    sampler's keep set (with copy_idx == 0 everywhere)."""
    df = spark.range(0, 2000).selectExpr("id as pk", "cast(id % 10 as double) / 10.0 as w")
    rep = split.weighted_replicated_sample(df, "pk", "w")
    bern = split.weighted_deterministic_sample(df, "pk", "w")
    rep_rows = rep.collect()
    assert all(r["copy_idx"] == 0 for r in rep_rows)
    assert {r["pk"] for r in rep_rows} == {r["pk"] for r in bern.collect()}


def test_weighted_replicated_sample_caps_fanout(spark):
    """A corrupt giant weight must amplify by at most max_weight copies."""
    df = spark.createDataFrame([(1, 1e9)], "pk INT, w DOUBLE")
    out = split.weighted_replicated_sample(df, "pk", "w", max_weight=3.0)
    assert out.count() <= 4  # floor(3.0) + possible fractional extra == 3


class TestTemperatureSample:
    def _corpus(self, spark):
        rows = [(i, "big" if i < 400 else ("mid" if i < 480 else "small")) for i in range(500)]
        return spark.createDataFrame(rows, ["pk", "grp"])

    def test_smallest_group_kept_whole(self, spark):
        from end_to_end_ml_spark.operators.split import temperature_sample

        kept = temperature_sample(self._corpus(spark), "pk", "grp").toPandas()
        counts = kept.groupby("grp")["pk"].count()
        assert counts["small"] == 20  # f = sqrt(20/20) = 1 -> keep all

    def test_counts_track_sqrt_law(self, spark):
        from end_to_end_ml_spark.operators.split import temperature_sample

        kept = temperature_sample(self._corpus(spark), "pk", "grp").toPandas()
        counts = kept.groupby("grp")["pk"].count()
        # E[kept_g] = sqrt(20 * N_g): big -> ~89, mid -> ~40
        assert abs(counts["big"] - (400 * 20) ** 0.5) < 30
        assert abs(counts["mid"] - (80 * 20) ** 0.5) < 20

    def test_alpha_one_keeps_everything(self, spark):
        from end_to_end_ml_spark.operators.split import temperature_sample

        df = self._corpus(spark)
        assert temperature_sample(df, "pk", "grp", alpha=1.0).count() == 500

    def test_deterministic(self, spark):
        from end_to_end_ml_spark.operators.split import temperature_sample

        df = self._corpus(spark)
        a = {r["pk"] for r in temperature_sample(df, "pk", "grp").collect()}
        b = {r["pk"] for r in temperature_sample(df, "pk", "grp").collect()}
        assert a == b

    def test_rejects_bad_alpha(self, spark):
        from end_to_end_ml_spark.operators.split import temperature_sample

        with pytest.raises(ValueError):
            temperature_sample(self._corpus(spark), "pk", "grp", alpha=1.5)


class TestTokenBudgetAllocation:
    def _staged(self, spark):
        # src_a: 10 docs x 100 tokens = 1000; src_b: 10 x 400 = 4000
        rows = [("src_a", 100)] * 10 + [("src_b", 400)] * 10 + [(None, 999)]
        return spark.createDataFrame(rows, ["source", "n_tokens"])

    def test_exact_allocation_math(self, spark):
        from end_to_end_ml_spark.operators.split import token_budget_allocation

        out = {
            r["source"]: r
            for r in token_budget_allocation(
                self._staged(spark), "source", "n_tokens",
                budget_tokens=10_000, max_epochs_x1024=2048,
            ).collect()
        }
        assert set(out) == {"src_a", "src_b"}  # NULL group excluded
        # weights: floor(1024*sqrt(1000))=32381, floor(1024*sqrt(4000))=64763
        a, b = out["src_a"], out["src_b"]
        assert (a["weight_q"], b["weight_q"]) == (32381, 64763)
        total = 32381 + 64763
        # src_a share: 10000*32381//97144 = 3332 > cap 2000 -> clipped
        assert a["alloc_tokens"] == 2000 and a["clipped"] is True
        assert a["epochs_ppm"] == 2_000_000
        # src_b share: 10000*64763//97144 = 6666 < cap 8000 -> unclipped
        assert b["alloc_tokens"] == 10_000 * 64763 // total
        assert b["clipped"] is False
        assert b["epochs_ppm"] == 1_000_000 * b["alloc_tokens"] // 4000

    def test_rejects_bad_params(self, spark):
        from end_to_end_ml_spark.operators.split import token_budget_allocation

        with pytest.raises(ValueError):
            token_budget_allocation(self._staged(spark), "source", "n_tokens", 0)
        with pytest.raises(ValueError):
            token_budget_allocation(
                self._staged(spark), "source", "n_tokens", 100, alpha=2.0
            )

    def test_zero_token_group_never_yields_null_allocs(self, spark):
        """Round-8 ADVICE: a zero-token group hit `div n_tokens` NULL.
        Now it is filtered up front and the output carries no NULLs."""
        from end_to_end_ml_spark.operators.split import token_budget_allocation

        rows = [("live", 100)] * 5 + [("empty", 0)] * 3
        df = spark.createDataFrame(rows, ["source", "n_tokens"])
        out = token_budget_allocation(df, "source", "n_tokens", 1000).collect()
        assert {r["source"] for r in out} == {"live"}
        assert all(
            r[c] is not None for r in out for c in r.asDict()
        )
        # all-zero corpus: empty output, not a frame of NULL allocations
        zero = spark.createDataFrame([("a", 0), ("b", 0)], ["source", "n_tokens"])
        assert token_budget_allocation(zero, "source", "n_tokens", 1000).count() == 0


class TestTokenBudgetWaterfill:
    def _staged(self, spark, rows):
        return spark.createDataFrame(rows, ["source", "n_tokens"])

    def test_redistributes_clipped_surplus_to_exact_budget(self, spark):
        """The defining closed form (round-8 verdict #7): when Σ caps ≥
        budget, Σ alloc_tokens == budget EXACTLY — the clipped group's
        surplus lands on the unclipped ones (single-pass allocation left
        it on the table)."""
        from end_to_end_ml_spark.operators.split import (
            token_budget_allocation,
            token_budget_waterfill,
        )

        rows = [("src_a", 100)] * 10 + [("src_b", 400)] * 10
        budget = 10_000
        wf = {
            r["source"]: r
            for r in token_budget_waterfill(
                self._staged(spark, rows), "source", "n_tokens", budget,
                max_epochs_x1024=2048,
            ).collect()
        }
        # src_a capped at 2 epochs = 2000; the 1332-token surplus moves
        # to src_b: 10000 - 2000 = 8000 ≤ src_b's cap 8000
        assert wf["src_a"]["alloc_tokens"] == 2000 and wf["src_a"]["clipped"]
        assert wf["src_b"]["alloc_tokens"] == 8000
        assert not wf["src_b"]["clipped"]
        assert sum(r["alloc_tokens"] for r in wf.values()) == budget
        # single-pass form left budget on the table on the same input
        sp = token_budget_allocation(
            self._staged(spark, rows), "source", "n_tokens", budget,
            max_epochs_x1024=2048,
        ).collect()
        assert sum(r["alloc_tokens"] for r in sp) < budget

    def test_equals_single_pass_when_nothing_clips(self, spark):
        """With no binding cap, water-filling degenerates to the largest-
        remainder completion of the proportional shares: every group's
        alloc is within +1 of the single-pass value and the total is the
        full budget (single-pass loses only the integer-division dust)."""
        from end_to_end_ml_spark.operators.split import (
            token_budget_allocation,
            token_budget_waterfill,
        )

        rows = [("a", 300)] * 3 + [("b", 500)] * 2 + [("c", 700)] * 4
        budget = 3_000
        sp = {
            r["source"]: r["alloc_tokens"]
            for r in token_budget_allocation(
                self._staged(spark, rows), "source", "n_tokens", budget
            ).collect()
        }
        wf = {
            r["source"]: r
            for r in token_budget_waterfill(
                self._staged(spark, rows), "source", "n_tokens", budget
            ).collect()
        }
        for src, base_alloc in sp.items():
            assert base_alloc <= wf[src]["alloc_tokens"] <= base_alloc + 1
            assert not wf[src]["clipped"]
        assert sum(r["alloc_tokens"] for r in wf.values()) == budget

    def test_infeasible_budget_caps_everyone(self, spark):
        """budget > Σ caps: every group frozen at its cap, total = Σ caps
        — the honest infeasibility signal (all clipped)."""
        from end_to_end_ml_spark.operators.split import token_budget_waterfill

        rows = [("a", 100)] * 2 + [("b", 50)] * 2
        out = token_budget_waterfill(
            self._staged(spark, rows), "source", "n_tokens",
            budget_tokens=10**9, max_epochs_x1024=1024,
        ).collect()
        assert all(r["clipped"] for r in out)
        assert {r["source"]: r["alloc_tokens"] for r in out} == {
            "a": 200, "b": 100,  # 1.0-epoch caps
        }

    def test_cascading_freezes_converge(self, spark):
        """Surplus from round 1 pushes a SECOND group past ITS cap only
        in round 2 — the loop must cascade and still land exactly on
        budget. Hand-computed: weights 102400/20480/204800, round-1
        shares 9375/1875/18750; only b (cap 383) freezes; round-2 a's
        share rises to 9872 > its cap 9599, freezing a; round 3 hands
        the residual 20018 to c."""
        from end_to_end_ml_spark.operators.split import token_budget_waterfill

        rows = [("a", 10000)] + [("b", 400)] + [("c", 40000)]
        budget = 30_000
        out = {
            r["source"]: r
            for r in token_budget_waterfill(
                self._staged(spark, rows), "source", "n_tokens", budget,
                max_epochs_x1024=983,
            ).collect()
        }
        # round-1 share of a is 9375 ≤ cap 9599 — it clips only AFTER
        # b's freeze redistributes weight (share becomes 9872)
        assert 30_000 * 102400 // 327680 == 9375 < 9599
        assert out["b"]["alloc_tokens"] == 383 and out["b"]["clipped"]
        assert out["a"]["alloc_tokens"] == 9599 and out["a"]["clipped"]
        assert out["c"]["alloc_tokens"] == 30_000 - 383 - 9599
        assert not out["c"]["clipped"]
        assert sum(r["alloc_tokens"] for r in out.values()) == budget

    def test_mix4_registry_cascade_engages_on_real_data(self, spark):
        """The oracled mix4_waterfill registry query (round-9 verdict #3)
        must exercise the freeze path on the REAL documents table, not
        just terminate proportionally: at sf0.001 the two smallest log2
        length buckets are frozen at their 1.0-epoch caps and the budget
        (total div 2) is exhausted exactly."""
        from end_to_end_ml_spark.plans.entry_queries import REGISTRY

        out = REGISTRY["mix4_waterfill"][0](
            spark, "/root/testdata/sf0.001"
        ).collect()
        frozen = {r["len_bucket"] for r in out if r["clipped"]}
        assert frozen == {3, 4}
        for r in out:
            if r["clipped"]:
                assert r["alloc_tokens"] == r["n_tokens"]  # 1.0-epoch cap
        total = sum(r["n_tokens"] for r in out)
        assert sum(r["alloc_tokens"] for r in out) == total // 2

    def test_mix4_sf001_refreeze_round_is_as_documented(self, spark):
        """mix4's docstring claims the sf0.01 corpus refreezes bucket 4
        only in ROUND 2 (the iterative cascade) while sf0.001 freezes
        both small buckets in round 1 — pin both trajectories via the
        loop's trace hook on the REAL group tables."""
        import duckdb

        from end_to_end_ml_spark.operators.split import waterfill_integer_loop

        def trace_for(sf):
            g_rows = duckdb.connect().execute(rf"""
              WITH t AS (SELECT length(bin(nw)) - 1 AS b, nw FROM
                (SELECT len(regexp_split_to_array(trim(text), '\s+')) AS nw
                 FROM read_parquet('/root/testdata/sf{sf}/documents.parquet'))
                WHERE nw IS NOT NULL AND nw > 0)
              SELECT b, CAST(sum(nw) AS BIGINT) FROM t GROUP BY b ORDER BY b
            """).fetchall()
            groups = [
                {"g": b, "w": int(1024 * (t ** 0.5)), "cap": (1024 * t) // 1024}
                for b, t in g_rows
            ]
            budget = sum(t for _, t in g_rows) // 2
            trace: list = []
            waterfill_integer_loop(groups, budget, trace=trace)
            return trace

        assert trace_for("0.001") == [[3, 4], []]
        assert trace_for("0.01") == [[3], [4], []]  # round-2 refreeze


@pytest.mark.parametrize(
    "classes, cls_type",
    [(["a", "b", "c"], "string"), ([0, 1, 2], "int"), ([0.5, 1.0, 2.5], "double")],
    ids=["string", "int", "double"],
)
def test_carve_assignment_matches_chain(spark, classes, cls_type):
    """The fused single-pass 4-way carve must be ROW-IDENTICAL to three
    chained stratified_split calls — the prefix-reduction argument,
    checked end-to-end including the float boundary comparison — for
    string, integer and double class columns."""
    import pyspark.sql.functions as F

    from end_to_end_ml_spark.operators import split as SP

    rows = [(i, classes[i % 3]) for i in range(997)]  # odd sizes
    df = spark.createDataFrame(rows, f"pk long, cls {cls_type}")
    fused = SP.carve_assignment(df, "cls", "pk", 0.8, 0.75, 0.6)
    train, test = SP.stratified_split(df, "cls", "pk", 0.8)
    train, valid = SP.stratified_split(train, "cls", "pk", 0.75)
    train, calib = SP.stratified_split(train, "cls", "pk", 0.6)
    parts = {"train": train, "validation": valid, "calibration": calib, "test": test}
    got = {
        name: {r["pk"] for r in fused.filter(F.col("subset") == name).collect()}
        for name in ("train", "validation", "calibration", "test")
    }
    want = {name: {r["pk"] for r in frame.collect()} for name, frame in parts.items()}
    assert got == want
    assert sum(len(v) for v in got.values()) == 997  # exhaustive + disjoint


def test_carve_assignment_validates_from_counts(spark, labeled):
    """carve_assignment reads its label checks off the collected counts
    (no validation pass of its own) with stratified_split's messages."""
    with pytest.raises(ValueError, match="not in DataFrame"):
        split.carve_assignment(labeled, "nope", "pk")
    with pytest.raises(ValueError, match="need >=2 classes in 'y', found 1"):
        split.carve_assignment(labeled.filter(F.col("y") == "pos"), "y", "pk")
    withnull = labeled.withColumn(
        "y", F.when(F.col("pk") < 3, None).otherwise(F.col("y"))
    )
    with pytest.raises(ValueError, match="3 null labels"):
        split.carve_assignment(withnull, "y", "pk")


def test_four_way_carve_keeps_input_schema(spark, labeled):
    """The assignment column is internal: every frame has the input's
    columns and types, and no __subset leaks out."""
    splits = split.train_valid_calib_test(labeled, "y", "pk")
    assert list(splits) == ["train", "validation", "calibration", "test"]
    for frame in splits.values():
        assert frame.dtypes == labeled.dtypes


def test_four_way_carve_reads_one_cached_relation(spark, labeled):
    """All four frames are filters over ONE persisted assignment: each
    plan's only leaf, after cache substitution, is the same
    InMemoryRelation — so downstream actions never re-run the carve."""
    jvm = spark.sparkContext._jvm
    splits = split.train_valid_calib_test(labeled, "y", "pk")
    builders = set()
    for frame in splits.values():
        leaves = frame._jdf.queryExecution().withCachedData().collectLeaves()
        kinds = [leaves.apply(i).nodeName() for i in range(leaves.size())]
        assert kinds == ["InMemoryRelation"], kinds
        builders.add(jvm.System.identityHashCode(leaves.apply(0).cacheBuilder()))
    assert len(builders) == 1


def test_rolling_origin_slices_are_temporally_ordered(spark):
    """Slice k's max timestamp < slice k+1's min (no leakage by
    construction); every row assigned; slice ids in [0, n)."""
    import datetime as dt

    from end_to_end_ml_spark.operators.split import rolling_origin_assign

    rows = [
        (i, dt.datetime(2024, 1, 1) + dt.timedelta(hours=3 * i)) for i in range(200)
    ]
    df = spark.createDataFrame(rows, ["event_id", "ts"])
    out = rolling_origin_assign(df, "ts", n_slices=4)
    agg = {
        r["slice"]: (r["n"], r["lo"], r["hi"])
        for r in out.groupBy("slice")
        .agg(F.count("*").alias("n"), F.min("ts").alias("lo"), F.max("ts").alias("hi"))
        .collect()
    }
    assert set(agg) == {0, 1, 2, 3}
    assert sum(n for n, _, _ in agg.values()) == 200
    for k in range(3):
        assert agg[k][2] < agg[k + 1][1]


def test_rolling_origin_rejects_single_slice(spark):
    import datetime as dt

    from end_to_end_ml_spark.operators.split import rolling_origin_assign

    import pytest

    df = spark.createDataFrame([(1, dt.datetime(2024, 1, 1))], ["event_id", "ts"])
    with pytest.raises(ValueError, match="n_slices"):
        rolling_origin_assign(df, "ts", n_slices=1)
