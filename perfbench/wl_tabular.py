"""``tabular_ml``: the reference flow, prep -> split -> fit -> evaluate ->
threshold -> batch score, then two seeded online requests (one record, then
64) against the model the lap just fitted.

Split, features, train and metrics do almost all of the work; dedup, text
and similarity do none. A lap launches ~450 Spark jobs, so on a small host
it sits on the per-job floor whatever the input size: the inputs are the
sf0.01 ``orders`` (15k rows) and ``customer`` tables, and a run times one
lap in a fresh session, which is what a batch job of this flow costs its
user. The seed draws the request records from the test split. To fit the
run budget the lap leaves out the ``expect`` data-quality gate and
``validate_disjoint`` (six more re-evaluations of the split plan);
disjointness is checked after timing on the collected split keys.
"""

from __future__ import annotations

import math
import os
from functools import reduce

import duckdb
from pyspark.sql import functions as F

import harness
import oracles
from end_to_end_ml_spark.features import calibrate as C
from end_to_end_ml_spark.features import pipeline as FP
from end_to_end_ml_spark.functions import metrics as M
from end_to_end_ml_spark.operators import prep, split
from end_to_end_ml_spark.plans.ml_pipeline import order_training_frame
from end_to_end_ml_spark.serving import predict_records
from end_to_end_ml_spark.train import models as MZ
from end_to_end_ml_spark.train import workflow as W

REQUEST_SIZES = (1, 64)
REQUEST_SCHEMA = (
    "o_orderkey long, o_orderpriority string, c_mktsegment string, c_acctbal double"
)
FEATURES = ["c_acctbal", "o_orderpriority", "c_mktsegment"]
# relative tolerance for probabilities and metrics against batch_score and
# the reference run; the fit itself is deterministic on these inputs
METRIC_TOL = 1e-9


def prepare(data_dir: str, threads: int) -> dict:
    """Everything the checks compare against; the same for every seed."""
    return {"oracle": oracles.tabular(data_dir, threads)}


def _close(a: float | None, b: float | None) -> bool:
    if a is None or b is None:
        return a is b
    if math.isnan(a) or math.isnan(b):
        return math.isnan(a) and math.isnan(b)
    return abs(a - b) <= METRIC_TOL * max(1.0, abs(b))


class Workload:
    def __init__(self, spark, tracer, run_dir: str, prepared: dict, seed: int):
        self.spark = spark
        self.tracer = tracer
        self.data_dir = harness.DATA_DIR
        self.test_in = os.path.join(run_dir, "inference_in")
        self.pred_dir = os.path.join(run_dir, "predictions")
        self.prep = prepared
        # requests draw from the test split, so batch_score covers every row
        picked = harness.sample_ids(seed, prepared["oracle"]["test_rows"], sum(REQUEST_SIZES))
        self.requests, pos = [], 0
        for size in REQUEST_SIZES:
            self.requests.append(picked[pos : pos + size])
            pos += size
        # metrics and threshold every lap must reproduce: an earlier run's,
        # else this run's first lap
        self.reference: dict | None = None
        self.last: dict = {}

    def ops_per_lap(self) -> int:
        return 10 + len(self.requests)

    def lap(self) -> dict:
        span = self.tracer.span
        with span("order_training_frame", "plans"):
            df = order_training_frame(self.spark, self.data_dir)
        with span("profile_columns", "operators.prep"):
            profile = prep.profile_columns(df).collect()
        with span("train_valid_calib_test", "operators.split"):
            splits = split.train_valid_calib_test(df, "label", "o_orderkey")
        with span("build_preprocessing_stages", "features"):
            stages = FP.build_preprocessing_stages(
                numeric_cols=["c_acctbal"],
                categorical_cols=["o_orderpriority", "c_mktsegment"],
                variance_threshold=0.0,
            )
            pipe = FP.build_full_pipeline(
                stages, MZ.MODEL_BUILDERS["logistic_regression"](C=1.0, l1_ratio=0.0)
            )
        with span("Pipeline.fit", "train"):
            fitted = pipe.fit(splits["train"])
        with span("evaluate_binary", "train"):
            valid_metrics = W.evaluate_binary(fitted.transform(splits["validation"]))
        with span("positive_probability", "features"):
            calib = C.positive_probability(fitted.transform(splits["calibration"]))
        with span("best_threshold", "functions.metrics"):
            thr = M.best_threshold(calib, "label", "pos_proba", beta=0.5)
        with span("write_test_split", "operators.split"):
            splits["test"].drop("label").write.mode("overwrite").parquet(self.test_in)
        with span("batch_score", "train"):
            W.batch_score(
                self.spark,
                fitted,
                self.test_in,
                output_path=self.pred_dir,
                decision_threshold=thr,
            )
        responses = []
        for records in self.requests:
            with span("predict_records", "serving"):
                responses.append(
                    predict_records(
                        self.spark,
                        fitted,
                        records,
                        REQUEST_SCHEMA,
                        FEATURES,
                        decision_threshold=thr,
                        pk_col="o_orderkey",
                    )
                )
        self.last = {"splits": splits, "fitted": fitted}
        return {
            "profile": profile,
            "valid_metrics": valid_metrics,
            "threshold": thr,
            "responses": responses,
        }

    def check(self, out: dict) -> list[str]:
        """Output checks for one lap; returns the failures."""
        problems = []
        counts = self.prep["oracle"]["counts"]
        n_rows = sum(counts.values())
        if any(r["n_rows"] != n_rows for r in out["profile"]):
            problems.append(f"profile_columns row count != {n_rows}")
        con = duckdb.connect()
        try:
            scored = con.execute(
                "SELECT o_orderkey, predicted_probability, prediction FROM read_parquet(?)",
                [f"{self.pred_dir}/*.parquet"],
            ).fetchall()
        finally:
            con.close()
        by_key = {k: (p, y) for k, p, y in scored}
        if sorted(by_key) != self._test_keys() or len(scored) != len(by_key):
            problems.append("batch_score rows != the oracle's test split")
        for resp, records in zip(out["responses"], self.requests):
            if [r["o_orderkey"] for r in resp] != [r["o_orderkey"] for r in records]:
                problems.append("predict_records answered other keys")
                continue
            for r in resp:
                p, y = by_key.get(r["o_orderkey"], (None, None))
                if p is None or not _close(r["predicted_probability"], p) or r["prediction"] != y:
                    problems.append(f"predict_records != batch_score for {r['o_orderkey']}")
                    break
        if self.reference is None:
            self.reference = {"valid_metrics": out["valid_metrics"], "threshold": out["threshold"]}
        else:
            ref = self.reference
            if sorted(out["valid_metrics"]) != sorted(ref["valid_metrics"]):
                problems.append("evaluate_binary returned other metrics than the reference")
            for k, v in ref["valid_metrics"].items():
                if k in out["valid_metrics"] and not _close(out["valid_metrics"][k], v):
                    problems.append(f"evaluate_binary {k} != reference {v}")
            if not _close(out["threshold"], ref["threshold"]):
                problems.append(f"best_threshold != reference {ref['threshold']}")
        return problems

    def _test_keys(self) -> list[int]:
        return [r["o_orderkey"] for r in self.prep["oracle"]["test_rows"]]

    def final_check(self) -> list[str]:
        """Checks that need extra Spark jobs; run once, after timing."""
        problems = []
        splits, fitted = self.last["splits"], self.last["fitted"]
        tagged = reduce(
            lambda a, b: a.unionByName(b),
            [
                s.select("o_orderkey", "label").withColumn("subset", F.lit(n))
                for n, s in splits.items()
            ],
        ).collect()
        if len({r["o_orderkey"] for r in tagged}) != len(tagged):
            problems.append("splits are not disjoint")
        got: dict[str, int] = {}
        for r in tagged:
            k = f"{r['subset']}|{int(r['label'])}"
            got[k] = got.get(k, 0) + 1
        if got != self.prep["oracle"]["counts"]:
            problems.append(f"split class counts {got} != carve oracle")
        test = sorted(r["o_orderkey"] for r in tagged if r["subset"] == "test")
        if test != self._test_keys():
            problems.append("test split keys != carve oracle")
        scored = C.positive_probability(fitted.transform(splits["validation"]))
        cm = M.binary_metrics(
            M.apply_threshold(scored, "pos_proba", 0.5), "label", "prediction"
        ).collect()[0]
        counts = self.prep["oracle"]["counts"]
        n_valid = sum(v for k, v in counts.items() if k.startswith("validation|"))
        if cm["tp"] + cm["fp"] + cm["fn"] + cm["tn"] != n_valid:
            problems.append("confusion counts do not sum to the validation size")
        if not _close(cm["accuracy"], self.reference["valid_metrics"]["accuracy"]):
            problems.append("confusion accuracy != evaluate_binary accuracy")
        return problems
