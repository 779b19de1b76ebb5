"""plans/lint.py — the plan linter must catch deliberately-hazardous plans
and pass every flagship registry query."""

from __future__ import annotations

import os
import sys

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from end_to_end_ml_spark.plans.entry_queries import REGISTRY
from end_to_end_ml_spark.plans.lint import audit_plan, plan_shape

SF = "/root/testdata/sf0.001"
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]

import plan_shapes  # noqa: E402


def test_flags_cartesian_product(spark):
    # sides above the broadcast threshold → true CartesianProduct. (A
    # broadcast-small side becomes a conditioned BroadcastNestedLoopJoin,
    # which the engine itself uses for 1-row scalar broadcasts — allowed.)
    a = spark.range(5_000_000)
    b = spark.range(5_000_000).withColumnRenamed("id", "id2")
    hazards = audit_plan(a.crossJoin(b).filter("id + id2 > 5"))
    assert any(h.startswith("cartesian-product") for h in hazards), hazards


def test_flags_python_row_udf(spark):
    from pyspark.sql.functions import udf

    slow = udf(lambda x: x + 1, "bigint")
    hazards = audit_plan(spark.range(100).select(slow("id").alias("y")))
    assert any(h.startswith("python-row-udf") for h in hazards), hazards


def test_flags_global_window_over_raw_input(spark):
    df = spark.range(1000).withColumn("v", F.col("id") * 2)
    ranked = df.withColumn("r", F.rank().over(Window.orderBy("v")))
    hazards = audit_plan(ranked)
    assert any(h.startswith("global-window") for h in hazards), hazards


def test_accepts_global_window_over_aggregate(spark):
    agg = spark.range(1000).groupBy((F.col("id") % 7).alias("k")).count()
    ranked = agg.withColumn("r", F.rank().over(Window.orderBy("count")))
    assert audit_plan(ranked) == []


def test_flags_global_window_behind_fact_join(spark):
    """The bounded-input walk must stop at a join whose OTHER side is the
    unbounded fact: hugeFact ⋈ tinyAggregatedDim is still fact-sized, so a
    global window over the join output is a hazard (the old any-descendant
    walk let the dim-side Aggregate bless it — a CI-gate hole)."""
    fact = spark.range(100_000).withColumn("k", F.col("id") % 7)
    dim = spark.range(1000).groupBy((F.col("id") % 7).alias("k")).count()
    joined = fact.join(dim, "k")
    ranked = joined.withColumn("r", F.rank().over(Window.orderBy("id")))
    hazards = audit_plan(ranked)
    assert any(h.startswith("global-window") for h in hazards), hazards


def test_accepts_global_window_over_join_of_aggregates(spark):
    """aggA ⋈ aggB is bounded (output ≤ product of two aggregate outputs) —
    the drift_bins/ks_stat shape must stay accepted, and with include_info
    the accepted window carries the info tag so logs can distinguish it
    from a real scale-killer."""
    from end_to_end_ml_spark.plans.lint import INFO_BOUNDED_WINDOW

    a = spark.range(1000).groupBy((F.col("id") % 7).alias("k")).count()
    b = (
        spark.range(1000)
        .groupBy((F.col("id") % 7).alias("k"))
        .agg(F.sum("id").alias("s"))
    )
    joined = a.join(b, "k", "full_outer")
    cum = joined.withColumn(
        "c",
        F.sum("count").over(
            Window.orderBy("k").rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    assert audit_plan(cum) == []
    tagged = audit_plan(cum, include_info=True)
    assert any(h.startswith(INFO_BOUNDED_WINDOW) for h in tagged), tagged


def test_accepts_global_window_over_stack_of_aggregate(spark):
    """A constant-arity stack(k, ...) unpivot of a 1-row aggregate stays
    bounded (ml1b's wide-agg → 3-row leaderboard shape); a data-dependent
    explode of the same aggregate must STILL be flagged."""
    wide = spark.range(1000).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("id").alias("s"),
        F.max("id").alias("m"),
    )
    stacked = wide.selectExpr(
        "stack(3, 'n', n, 's', s, 'm', m) AS (metric, value)"
    ).withColumn("r", F.rank().over(Window.orderBy("value")))
    assert audit_plan(stacked) == []
    exploded = (
        spark.range(1000)
        .agg(F.collect_list("id").alias("xs"))
        .select(F.explode("xs").alias("x"))
        .withColumn("r", F.rank().over(Window.orderBy("x")))
    )
    hazards = audit_plan(exploded)
    assert any(h.startswith("global-window") for h in hazards), hazards


def test_flags_midplan_global_sort(spark):
    # Catalyst's EliminateSorts removes orderings nothing consumes, so a
    # surviving mid-plan global sort needs an order-sensitive consumer
    # (mapInPandas) between the sort and the aggregation.
    def ident(it):
        yield from it

    df = (
        spark.range(1000)
        .withColumn("v", F.col("id") * 2)
        .orderBy("v")
        .mapInPandas(ident, "id long, v long")
        .groupBy((F.col("id") % 7).alias("k"))
        .count()
    )
    hazards = audit_plan(df)
    assert any(h.startswith("global-sort-mid-plan") for h in hazards), hazards


def test_accepts_final_sort_and_topk(spark):
    assert audit_plan(spark.range(1000).orderBy(F.col("id").desc())) == []
    assert audit_plan(spark.range(1000).orderBy(F.col("id").desc()).limit(5)) == []


@pytest.mark.parametrize(
    "name",
    [
        "q1_pricing_summary",
        "q3_top_orders",
        "q5_supplier_volume",
        "q9_product_profit",
        "q21_sole_failing_supplier",
        "w1_top_parts",
        "s3_pit_join",
        "a6_roc_auc",
        "a13_lift_gains",
        "d1_exact_dup_groups",
        "pipe1_clean_corpus",
        "pipe3_pretrain_corpus",
        # r11: half-pool cut is now the a13 two-level distributed rank —
        # the only unpartitioned window runs over the distinct-score
        # aggregate (bounded), never the per-doc scored frame; also still
        # exercises ReusedExchange resolution (the scored aggregate
        # exchange is consumed by both the ranked side and the counts)
        "pipe13_dsir_curation",
        "ts5_rolling_distinct_users",
        "x8_winnow_fingerprints",
    ],
)
def test_flagship_queries_are_clean(spark, name):
    df = REGISTRY[name][0](spark, SF)
    assert audit_plan(df) == [], name


def test_entire_registry_is_lint_clean(spark):
    """Every registry query's physical plan passes the scale linter —
    the CI gate form (`assert not audit_plan(df)`) — and has the node
    counts recorded in the plan-shape ledger plans/SHAPES.json. Each query
    is planned once: audit_plan and plan_shape read the same executed
    plan."""
    import json

    # frames that earlier tests cached would stand in for subplans here;
    # the ledger holds the plans of a fresh session, as the tool makes them
    spark.catalog.clearCache()
    dirty = {}
    shapes = {}
    for name, (fn, _) in REGISTRY.items():
        df = fn(spark, SF)
        hazards = audit_plan(df)
        if hazards:
            dirty[name] = hazards
        shapes[name] = plan_shape(df)
    assert dirty == {}, dirty
    with open(plan_shapes.LEDGER) as fh:
        report = plan_shapes.ledger_report(json.load(fh), shapes, spark.version)
    assert not report, report


def test_ledger_report_names_query_node_and_counts():
    """The ledger comparison names each differing query with the node type
    and both counts, states both Spark versions and the rewrite command,
    and is empty when the counts match."""
    ledger = {
        "spark_version": "4.1.2",
        "shapes": {
            "p15_profile_columns": {"Exchange": 2, "scan:orders": 1},
            "q1_pricing_summary": {"Exchange": 1, "scan:lineitem": 1},
        },
    }
    running = {
        "p15_profile_columns": {"Exchange": 2, "Expand": 1, "scan:orders": 1},
        "q1_pricing_summary": {"Exchange": 1, "scan:lineitem": 1},
    }
    report = plan_shapes.ledger_report(ledger, running, "4.2.0")
    assert "p15_profile_columns: Expand 0 → 1" in report
    assert "q1_pricing_summary" not in report
    assert "Spark 4.1.2" in report and "Spark 4.2.0" in report
    assert plan_shapes.WRITE_CMD in report
    assert plan_shapes.ledger_report(ledger, ledger["shapes"], "4.1.2") == ""


def test_query_rejects_duplicate_name():
    """A second declaration of a registry name would silently replace the
    first in a plain dict — the bug that once swallowed the lineitem
    rollup query. query() refuses it and leaves the first entry in place,
    for names from any part of the module (q12 was declared in a late
    block, q1 among the first)."""
    from end_to_end_ml_spark.plans.entry_queries import query

    for name in ("q1_pricing_summary", "q12_late_shipments"):
        before = REGISTRY[name]
        with pytest.raises(ValueError, match=name):
            query(name, lambda spark, sf_dir: None)
        assert REGISTRY[name] is before


def test_registry_count_claims():
    """Registry-count claims drifted repeatedly in r6 (185 vs 201 in
    comments/README). One source of truth: README's stated totals must
    equal the live registry; the DRIVER_WINDOW must be exactly the first
    50 registry entries and all-oracled."""
    import re

    import __spark_entry__ as entry_mod
    from end_to_end_ml_spark.plans.entry_queries import DRIVER_WINDOW

    q = entry_mod.queries()
    o = entry_mod.oracle_sql()
    readme = open("README.md").read()
    claims = re.findall(r"(\d+)-query registry|(\d+) registry queries", readme)
    totals = {int(a or b) for a, b in claims}
    assert totals, "README must state the registry size"
    assert totals == {len(q)}, f"README claims {totals}, registry has {len(q)}"
    m = re.search(r"(\d+) carry an ANSI-SQL oracle", readme)
    assert m, "README must state the oracled count"
    assert int(m.group(1)) == len(o), f"README says {m.group(1)}, oracled {len(o)}"
    assert list(q)[:50] == DRIVER_WINDOW
    assert all(n in o for n in DRIVER_WINDOW), "window must be all-oracled"


def test_driver_window_is_pick_window_output():
    """The DRIVER_WINDOW literal must be EXACTLY tools/pick_window.py's
    output for the current round (latest committed CORRECTNESS artifact
    + 1) — the 'verbatim tool output' claim, locked in CI. Registering a
    query without re-running the pick fails here, which is the intended
    discipline."""
    import glob
    import re

    import pick_window

    from end_to_end_ml_spark.plans.entry_queries import DRIVER_WINDOW

    rounds = [
        int(re.search(r"_r(\d+)\.json$", p).group(1))
        for p in glob.glob(os.path.join(ROOT, "CORRECTNESS_r*.json"))
    ]
    current_round = max(rounds) + 1
    assert pick_window.pick(current_round) == DRIVER_WINDOW


def test_cohort2_is_disjoint_deterministic_and_skips_slow_oracles():
    """pick_window.cohort2 (round-9 verdict #7's second sf0.1 sweep):
    50 oracled names, disjoint from the driver window, deterministic for
    a fixed round, and excluding every query whose DuckDB oracle ran
    > 5 s at sf0.01 in the latest committed full-registry artifact (the
    quadratic brute-force oracles that cost ~100x at sf0.1)."""
    import glob
    import json

    import pick_window

    c2 = pick_window.cohort2(10)
    assert len(c2) == 50 and len(set(c2)) == 50
    assert c2 == pick_window.cohort2(10)  # deterministic
    assert not set(c2) & set(pick_window.pick(10))
    locals_ = sorted(glob.glob(os.path.join(ROOT, "CHECK_ORACLE_LOCAL_r*.json")))
    res = json.load(open(locals_[-1])).get("results", {})
    slow = {n for n, r in res.items() if (r.get("duck_s") or 0) > 5}
    assert not set(c2) & slow


def test_cohorts_partition_the_oracled_tail():
    """The generalized --cohort N slices (round-10): consecutive cohorts
    are pairwise disjoint, preserve the N=2 behavior verbatim, and their
    union with the driver window covers every oracled query except the
    slow-oracle exclusions — the basis for the 'full sf0.1 evidence'
    claim in the round close."""
    import glob
    import json

    import pick_window

    import __spark_entry__ as entry

    assert pick_window.cohort2(10) == pick_window.cohort2(10, 2)
    cohorts = [pick_window.cohort2(10, n) for n in (2, 3, 4, 5)]
    seen: set = set(pick_window.pick(10))
    for c in cohorts:
        assert not set(c) & seen  # disjoint from window and prior cohorts
        seen |= set(c)
    locals_ = sorted(glob.glob(os.path.join(ROOT, "CHECK_ORACLE_LOCAL_r*.json")))
    res = json.load(open(locals_[-1])).get("results", {})
    slow = {n for n, r in res.items() if (r.get("duck_s") or 0) > 5}
    assert seen | slow >= set(entry.oracle_sql())


def test_bench_lists_reference_live_queries():
    """Round-9 retired two registry names (ts4, ml1) — a stale name left
    in bench.py's run tables would only surface as a runtime KeyError in
    the driver's bench run. Check every name."""
    import bench

    import __spark_entry__ as entry_mod

    live = set(entry_mod.queries())
    assert set(bench.HEADLINE).isdisjoint(bench.REST)
    for where, names in (
        ("bench.HEADLINE", bench.HEADLINE),
        ("bench.REST", bench.REST),
    ):
        assert names, where
        stale = set(names) - live
        assert not stale, f"{where} references non-registry queries: {sorted(stale)}"


@pytest.mark.parametrize(
    "argv, code, says",
    [
        (["--help"], 0, "usage:"),
        (["--no-such-flag"], 2, "--no-such-flag"),
        ([SF, "q1_pricing_summary", "q1_pricing_sumary"], 2, "q1_pricing_sumary"),
    ],
)
def test_check_oracle_cli_fails_before_spark(monkeypatch, capsys, argv, code, says):
    """tools/check_oracle.py reads its whole command line before it starts
    Spark: --help, an unknown flag and a name that is not in the registry
    each exit without a session (a mistyped query name used to be skipped,
    reporting 0/0 pass with exit 0)."""
    import check_oracle

    def no_spark(*args, **kwargs):
        raise AssertionError("check_oracle started Spark")

    monkeypatch.setattr(check_oracle, "get_spark", no_spark)
    with pytest.raises(SystemExit) as exc:
        check_oracle.main(argv)
    assert exc.value.code == code
    out = capsys.readouterr()
    assert says in out.out + out.err


def test_no_raw_tokenizer_inside_hof_lambda():
    """Source-level guard for the O(words²) lambda re-split class (third
    occurrence was d16, r12 VERDICT finding #1): Catalyst does not hoist
    subexpressions through higher-order-function lambdas, so a raw
    tokenizer expression (split / regexp_extract_all / sentences) inlined
    into a SQL-string lambda body re-runs once per ELEMENT. The rule
    (operators/text.py word_ngrams_from_tokens docstring): bind the token
    array to a real column one select earlier, then reference the bound
    attribute inside the lambda.

    Two detectors over every non-test source file — the package, tools/,
    bench.py, __spark_entry__.py — (docstrings skipped):
    1. any string literal (incl. f-string templates destined for F.expr)
       containing a SQL lambda arrow ``->`` with a tokenizer call inside
       the lambda BODY (arrow → enclosing-paren close / same-depth comma);
    2. any Python ``lambda`` passed to an HOF builder (F.transform /
       aggregate / filter / exists / forall / zip_with / reduce) whose
       body calls F.split / F.regexp_extract_all / F.sentences directly.
    DuckDB oracle SQL is naturally exempt: its list lambdas operate on
    bound aliases, and body-scoping keeps argument-position tokenizers
    (e.g. list_transform(split(...), c -> ...)) from false-positive.
    """
    import ast
    import pathlib
    import re

    src_root = pathlib.Path(__file__).resolve().parents[1] / "end_to_end_ml_spark"
    tokenizers = ("split(", "regexp_extract_all(", "sentences(")
    sql_lambda = re.compile(r"\w+\s*->")
    hof_names = {"transform", "aggregate", "filter", "exists", "forall",
                 "zip_with", "reduce"}
    offenders: list[str] = []

    def _lambda_body(s: str, start: int) -> str:
        depth = 0
        for i in range(start, len(s)):
            c = s[i]
            if c == "(":
                depth += 1
            elif c == ")":
                depth -= 1
                if depth < 0:
                    return s[start:i]
            elif c == "," and depth == 0:
                return s[start:i]
        return s[start:]

    def _string_offends(s: str) -> bool:
        return any(
            t in _lambda_body(s, m.end())
            for m in sql_lambda.finditer(s)
            for t in tokenizers
        )

    class V(ast.NodeVisitor):
        def __init__(self, path: str):
            self.path = path

        def visit_Constant(self, node: ast.Constant):
            if isinstance(node.value, str) and _string_offends(node.value):
                offenders.append(f"{self.path}:{node.lineno} (string literal)")

        def visit_JoinedStr(self, node: ast.JoinedStr):
            text = "".join(
                v.value for v in node.values
                if isinstance(v, ast.Constant) and isinstance(v.value, str)
            )
            if _string_offends(text):
                offenders.append(f"{self.path}:{node.lineno} (f-string)")
            # don't recurse: inner constants already concatenated

        def visit_Call(self, node: ast.Call):
            fname = None
            if isinstance(node.func, ast.Attribute):
                fname = node.func.attr
            elif isinstance(node.func, ast.Name):
                fname = node.func.id
            if fname in hof_names:
                for arg in list(node.args) + [k.value for k in node.keywords]:
                    if isinstance(arg, ast.Lambda):
                        for sub in ast.walk(arg.body):
                            if (
                                isinstance(sub, ast.Call)
                                and isinstance(sub.func, (ast.Attribute, ast.Name))
                                and (
                                    sub.func.attr
                                    if isinstance(sub.func, ast.Attribute)
                                    else sub.func.id
                                )
                                in {"split", "regexp_extract_all", "sentences"}
                            ):
                                offenders.append(
                                    f"{self.path}:{node.lineno} (Python HOF lambda)"
                                )
            self.generic_visit(node)

    repo_root = src_root.parent
    extra = [repo_root / "bench.py", repo_root / "__spark_entry__.py"]
    files = (
        sorted(src_root.rglob("*.py"))
        + sorted((repo_root / "tools").glob("*.py"))
        + [p for p in extra if p.exists()]
    )
    for py in files:
        tree = ast.parse(py.read_text(), filename=str(py))
        # skip docstrings: blank the leading Expr-constant of every scope
        for scope in ast.walk(tree):
            if isinstance(
                scope, (ast.Module, ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ) and scope.body:
                first = scope.body[0]
                if (
                    isinstance(first, ast.Expr)
                    and isinstance(first.value, ast.Constant)
                    and isinstance(first.value.value, str)
                ):
                    first.value.value = ""
        V(str(py.relative_to(repo_root))).visit(tree)

    assert not offenders, (
        "raw tokenizer expression inside an HOF lambda (O(words²) re-split "
        "class — bind the token array to a column first, see "
        "text.word_ngrams_from_tokens): " + "; ".join(offenders)
    )


def test_tools_do_not_patch_engine_internals():
    """An A/B arm belongs in the commit message, not in the tree: no script
    under tools/ and not bench.py may switch engine behaviour by assigning
    (or setattr-ing) a module's private upper-case constant, the way the
    deleted d16 experiment scripts flipped ``dedup._PF_*`` knobs. A decision
    the engine needs at run time is an argument or a derived value."""
    import re
    from pathlib import Path

    root = Path(__file__).resolve().parent.parent
    patch = re.compile(r"\b\w+\._[A-Z][A-Z0-9_]*\s*=(?!=)|setattr\(")
    offenders = [
        f"{py.relative_to(root)}:{i}: {line.strip()}"
        for py in sorted((root / "tools").glob("*.py")) + [root / "bench.py"]
        for i, line in enumerate(py.read_text().splitlines(), 1)
        if patch.search(line)
    ]
    assert not offenders, offenders


def test_materialization_has_one_owner():
    """Caching is a policy with one owner: end_to_end_ml_spark/materialize.py
    decides scale checkpoints and owns every engine persist (with the
    already-cached guard and its ownership flag). No other engine module,
    and no tool driving the engine, may call ``.persist(``/``.cache()``
    directly or keep a private copy of the scale decision or the guard."""
    import re
    from pathlib import Path

    root = Path(__file__).resolve().parent.parent
    pkg = root / "end_to_end_ml_spark"
    pattern = re.compile(
        r"(?<!\bmaterialize)\.persist\(|\.cache\(\)|\b_scale_materialize\b"
        r"|\b_persist(_owned)?\b"
    )
    offenders = [
        f"{py.relative_to(root)}:{i}: {line.strip()}"
        for py in [*sorted(pkg.rglob("*.py")), *sorted((root / "tools").glob("*.py"))]
        if py != pkg / "materialize.py"
        for i, line in enumerate(py.read_text().splitlines(), 1)
        if pattern.search(line)
    ]
    assert not offenders, offenders


# Modules that may build a frame from Python rows, with the reason.
LOCAL_FRAME_EXEMPT = {
    "tools/run_pipeline.py": "the Optuna trial log, written once per model "
    "by a tool no benchmark runs; its dict rows keep Spark's schema inference",
}


def test_local_frames_have_one_owner():
    """Every driver-built frame goes through sources/io.local_frame, which
    hands Spark an Arrow table (a JVM-only LocalRelation). A
    ``createDataFrame`` on Python rows anywhere else in the package or
    tools/ (outside LOCAL_FRAME_EXEMPT) builds a Python RDD whose first
    action starts the Python worker pool just to unpickle the rows."""
    import ast
    from pathlib import Path

    root = Path(__file__).resolve().parent.parent
    pkg = root / "end_to_end_ml_spark"
    offenders = []
    for py in [*sorted(pkg.rglob("*.py")), *sorted((root / "tools").glob("*.py"))]:
        if str(py.relative_to(root)) in LOCAL_FRAME_EXEMPT:
            continue
        tree = ast.parse(py.read_text())
        owner = set()
        if py == pkg / "sources" / "io.py":
            owner = {
                id(sub)
                for node in tree.body
                if isinstance(node, ast.FunctionDef) and node.name == "local_frame"
                for sub in ast.walk(node)
            }
        offenders += [
            f"{py.relative_to(root)}:{node.lineno}"
            for node in ast.walk(tree)
            if isinstance(node, ast.Attribute)
            and node.attr == "createDataFrame"
            and id(node) not in owner
        ]
    assert not offenders, offenders


# Public names whose caller is not in this repo's runtime, with the reason.
RUNTIME_CALLER_ALLOWLIST = {
    "create_app": "serving.py: the ASGI factory behind the REST endpoint; "
    "its caller is an outside ASGI server",
    "audit_plan": "plans/lint.py: the plan linter; by design its callers "
    "are the lint tests",
    "dsir_select": "operators/text.py: the independent DSIR reference that "
    "the curation DSIR stage and dsir_bucket_weights_from_flag are "
    "checked against",
    "calibrate_prefit": "features/calibrate.py: the calibration step named "
    "in the paper; the served PipelineModel carries no calibrator, so "
    "wiring it changes what is served",
}


def test_every_public_name_has_a_runtime_caller():
    """Every public top-level function and class of the package and of
    tools/ is used by code that runs: the package itself, tools/, perfbench/ (not its
    tests), bench.py or __spark_entry__.py. A use is an ``ast.Name``, an
    ``ast.Attribute`` or an import alias of that name outside the name's
    own definition; comments and docstrings do not count. A name without
    such a caller is deleted with its tests, or gets an allowlist entry
    with the reason it stays."""
    import ast
    from pathlib import Path

    root = Path(__file__).resolve().parent.parent
    pkg = root / "end_to_end_ml_spark"
    runtime = [
        *sorted(pkg.rglob("*.py")),
        *sorted((root / "tools").glob("*.py")),
        *sorted((root / "perfbench").glob("*.py")),
        root / "bench.py",
        root / "__spark_entry__.py",
    ]
    trees = {py: ast.parse(py.read_text()) for py in runtime}
    defs = [
        (node.name, py, node)
        for py in [*sorted(pkg.rglob("*.py")), *sorted((root / "tools").glob("*.py"))]
        for node in trees[py].body
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
        and not node.name.startswith("_")
    ]

    used: set[str] = set()
    for py, tree in trees.items():
        own = {
            id(sub)
            for name, def_py, node in defs
            if def_py == py
            for sub in ast.walk(node)
            if getattr(sub, "id", getattr(sub, "attr", None)) == name
        }
        for node in ast.walk(tree):
            if id(node) in own:
                continue
            if isinstance(node, ast.Name):
                used.add(node.id)
            elif isinstance(node, ast.Attribute):
                used.add(node.attr)
            elif isinstance(node, ast.alias):
                used.add(node.name.rsplit(".", 1)[-1])

    orphans = sorted(
        f"{py.relative_to(root)}:{node.lineno} {name}"
        for name, py, node in defs
        if name not in used and name not in RUNTIME_CALLER_ALLOWLIST
    )
    assert not orphans, (
        f"{len(orphans)} public names have no caller outside tests/ "
        "(delete them with their tests, or allowlist with a reason): "
        + "; ".join(orphans)
    )
    assert set(RUNTIME_CALLER_ALLOWLIST) <= {name for name, _, _ in defs}, (
        "stale allowlist entry"
    )


def test_curation_chain_has_one_definition():
    """The curation chain's decisions live in operators/curate.py (and the
    fingerprint/gate columns in operators/text.py): no other engine
    module or tool may call the Gopher gate column builders, build the
    integer admit draw, build the prefix-8 token slice, or spell out the
    DSIR target-source list. The DuckDB oracle strings (``*_SQL``) are
    the independent reference and exempt."""
    import ast
    from pathlib import Path

    root = Path(__file__).resolve().parent.parent
    pkg = root / "end_to_end_ml_spark"
    owners = {pkg / "operators" / "text.py", pkg / "operators" / "curate.py"}
    targets = ["src0", "src1", "src2", "src3"]

    def name(node):
        f = node.func if isinstance(node, ast.Call) else None
        return getattr(f, "attr", None) or getattr(f, "id", None)

    def consts(nodes):
        return [n.value for n in nodes if isinstance(n, ast.Constant)]

    offenders = []
    for py in [*sorted(pkg.rglob("*.py")), *sorted((root / "tools").glob("*.py"))]:
        if py in owners:
            continue
        tree = ast.parse(py.read_text())
        oracle = {
            id(sub)
            for node in ast.walk(tree)
            if isinstance(node, ast.Assign)
            and any(
                isinstance(t, ast.Name) and t.id.endswith("_SQL")
                for t in node.targets
            )
            for sub in ast.walk(node.value)
        }
        for node in ast.walk(tree):
            if id(node) in oracle:
                continue
            hit = (
                name(node) in ("gopher_evidence_columns", "gopher_rule_columns")
                or (
                    name(node) == "slice"
                    and node.args
                    and name(node.args[0]) == "split"
                    and node.args[0].args
                    and name(node.args[0].args[0]) == "trim"
                )
                or (
                    isinstance(node, ast.Constant)
                    and isinstance(node.value, str)
                    and "concat_ws('|', 'bud" in node.value
                )
                or (
                    isinstance(node, (ast.Tuple, ast.List))
                    and consts(node.elts) == targets
                )
                or (isinstance(node, ast.Call) and consts(node.args) == targets)
            )
            if hit:
                offenders.append(
                    f"{py.relative_to(root)}:{node.lineno}: {ast.unparse(node)[:60]}"
                )
    assert not offenders, offenders


def test_driver_java_options_grow_only_merge():
    """The session factory leaves the driver heap GROW-ONLY: no -Xms, and
    MaxHeapFreeRatio=100 so G1 never uncommits heap after a full GC (the
    uncommit/re-fault churn around the bench's per-query GC nudge was
    measured collapsing into all-core kernel-time storms,
    OPTIMIZATION_r13.md, "Continuation session 3"). Caller
    extraJavaOptions are merged, not replaced, so a caller adding e.g. a
    GC flag cannot silently drop the heap policy or the code-cache
    sizing."""
    from end_to_end_ml_spark.session import merge_driver_java_options as m

    defaults = (
        "-XX:MaxHeapFreeRatio=100 -XX:ReservedCodeCacheSize=512m"
        " -XX:G1HeapRegionSize=4m"
    )
    assert m(None) == m("") == defaults
    assert "-Xms" not in m(None)
    # a caller's flag wins its own family, keeps the other defaults, and
    # comes last so it would win any conflict (JVM last-flag-wins)
    assert m("-XX:ReservedCodeCacheSize=256m") == (
        "-XX:MaxHeapFreeRatio=100 -XX:G1HeapRegionSize=4m"
        " -XX:ReservedCodeCacheSize=256m"
    )
    assert m("-XX:MaxHeapFreeRatio=70 -XX:+UseG1GC") == (
        "-XX:ReservedCodeCacheSize=512m -XX:G1HeapRegionSize=4m"
        " -XX:MaxHeapFreeRatio=70 -XX:+UseG1GC"
    )
    # unrelated caller flags (a caller's own -Xms among them) keep all
    assert m("-XX:+UseZGC") == f"{defaults} -XX:+UseZGC"
    assert m("-Xms4g") == f"{defaults} -Xms4g"


def test_driver_mem_extra_conf_precedence(monkeypatch):
    """The driver heap (-Xmx) comes from extra_conf's spark.driver.memory,
    then SPARK_GRAFT_DRIVER_MEM, then the host default, and the source is
    reported with it for get_spark's one-line heap log."""
    from end_to_end_ml_spark import session as S

    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "6g")
    assert S.resolve_driver_memory({"spark.driver.memory": "8g"}) == (
        "8g", "extra_conf spark.driver.memory"
    )
    assert S.resolve_driver_memory({}) == S.resolve_driver_memory(None) == (
        "6g", "SPARK_GRAFT_DRIVER_MEM"
    )
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM")
    mem, source = S.resolve_driver_memory(None)
    assert mem == S.default_driver_memory()
    assert source.startswith("host default")


def test_default_driver_memory_fits_a_small_host(tmp_path):
    """The default heap cap is min(20g, half of MemTotal): a 15 GB host
    gets ~7.6g; a big host keeps 20g; an unreadable meminfo falls back to
    the 20g cap."""
    from end_to_end_ml_spark import session as S

    small = tmp_path / "small"
    small.write_text("MemTotal:       15974528 kB\nMemFree:  1 kB\n")
    big = tmp_path / "big"
    big.write_text("MemTotal:       263941136 kB\n")
    assert S.default_driver_memory(str(small)) == "7800m"
    assert S.default_driver_memory(str(big)) == "20480m"
    assert S.default_driver_memory(str(tmp_path / "missing")) == "20480m"


def test_live_driver_heap_is_grow_only(spark):
    """The running driver JVM got the grow-only policy: no -Xms among its
    input arguments, MaxHeapFreeRatio=100, 4m G1 regions (Spark's 1 MB
    buffers stay off the humongous path), and a full GC after a job that
    grew the heap leaves committed heap where it was (no uncommit)."""
    jvm = spark._jvm
    mf = jvm.java.lang.management.ManagementFactory
    args = list(mf.getRuntimeMXBean().getInputArguments())
    assert not [a for a in args if a.startswith("-Xms")], args
    diag = mf.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
    )
    assert diag.getVMOption("MaxHeapFreeRatio").getValue() == "100"
    assert diag.getVMOption("G1HeapRegionSize").getValue() == str(4 << 20)
    spark.range(3_000_000).selectExpr(
        "id % 100000 AS k", "CAST(id AS STRING) AS s"
    ).groupBy("k").agg(F.max("s")).collect()
    heap = mf.getMemoryMXBean()
    before = heap.getHeapMemoryUsage().getCommitted()
    jvm.System.gc()
    assert heap.getHeapMemoryUsage().getCommitted() >= before
