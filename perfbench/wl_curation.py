"""``llm_curation``: the LLM-data curation path over ``documents`` and
``embeddings`` — the pipe10 budget-curation chain written as parquet
shards, the d16 prefix-filter Jaccard join, d7 MinHash pairs -> connected
components, the pipe8 incremental MinHash probe and brute-force cosine
top-k over a seeded query sample (sim1). Each operator gets the arguments of
its registry row (pipe10 with a smaller token budget), so that row's oracle
checks the output.

Dedup, text and similarity do almost all of the work; MLlib is bypassed.
It writes where ``tabular_ml`` mostly reads.
"""

from __future__ import annotations

import os

import duckdb
from pyspark.sql import functions as F

import harness
import oracles
from end_to_end_ml_spark.operators import dedup, similarity
from end_to_end_ml_spark.sources import load_table
from run_curation_pipeline import curate

N_QUERIES = 100
# the registry row's 50,000 tokens exceed what survives the gate in the
# sf0.01 corpus, so every source would be admitted whole; 5,000 makes the
# budget bind, so the admit draw runs
BUDGET_TOKENS = 5_000
PIPE10_COLS = ["source", "n_docs_kept", "n_tokens_kept", "admit_ppm"]


def prepare(data_dir: str, threads: int) -> dict:
    """Everything the checks compare against; the same for every seed."""
    return {"oracle": oracles.curation(data_dir, BUDGET_TOKENS, threads)}


class Workload:
    def __init__(self, spark, tracer, run_dir: str, prepared: dict, seed: int):
        self.spark = spark
        self.tracer = tracer
        self.data_dir = harness.DATA_DIR
        self.shards_dir = os.path.join(run_dir, "curated")
        self.oracle = dict(prepared["oracle"])
        # the seed draws the sim1 queries; the oracle keeps their rows
        self.query_ids = harness.sample_ids(seed, self.oracle.pop("vec_ids"), N_QUERIES)
        sim1 = self.oracle["sim1"]
        col = sim1["cols"].index("query_id")
        wanted = set(self.query_ids)
        self.oracle["sim1"] = {
            "cols": sim1["cols"],
            "rows": [r for r in sim1["rows"] if r[col] in wanted],
        }
        self.reference = None

    def ops_per_lap(self) -> int:
        return 6

    def lap(self) -> dict:
        span = self.tracer.span
        with span("load_table", "sources"):
            docs = load_table(self.spark, self.data_dir, "documents")
            emb = load_table(self.spark, self.data_dir, "embeddings")
        out: dict = {}
        with span("curate", "curate"):
            curated, stats = curate(self.spark, self.data_dir, BUDGET_TOKENS)
            curated.write.mode("overwrite").partitionBy("shard").parquet(self.shards_dir)
            out["pipe10"] = (PIPE10_COLS, [[r[c] for c in PIPE10_COLS] for r in stats.collect()])
        with span("prefix_filter_jaccard_pairs", "operators.dedup"):
            d16 = dedup.prefix_filter_jaccard_pairs(
                docs.filter(F.col("doc_id") % 2 == 0),
                "doc_id",
                "text",
                threshold_x100=60,
                ngram=2,
            )
            out["d16"] = (d16.columns, d16.collect())
        with span("minhash_dedup_pairs+connected_components", "operators.dedup"):
            pairs = dedup.minhash_dedup_pairs(
                docs, "doc_id", "text", threshold=0.6, shingle_size=5, sort_result=False
            )
            d7 = dedup.connected_components(pairs).select(
                F.col("id").alias("doc_id"), "group_id"
            )
            out["d7"] = (d7.columns, d7.collect())
        with span("minhash_probe_pairs", "operators.dedup"):
            p8 = dedup.minhash_probe_pairs(
                docs.filter(F.col("doc_id") % 4 == 0),
                docs.filter(F.col("doc_id") % 4 != 0),
                "doc_id",
                "text",
                threshold=0.6,
                shingle_size=5,
            )
            out["pipe8"] = (p8.columns, p8.collect())
        with span("brute_force_topk", "operators.similarity"):
            queries = emb.filter(F.col("vec_id").isin(self.query_ids))
            sim = similarity.brute_force_topk(emb, "vec_id", "embedding", k=5, query_df=queries)
            out["sim1"] = (sim.columns, sim.collect())
        return out

    def check(self, out: dict) -> list[str]:
        oracle = self.oracle
        problems = [
            f"{name} rows != oracle"
            for name, (cols, rows) in out.items()
            if not oracles.same_rows(cols, rows, oracle[name])
        ]
        con = duckdb.connect()
        try:
            written = dict(
                con.execute(
                    "SELECT source, count(*) FROM read_parquet(?) GROUP BY source",
                    [f"{self.shards_dir}/*/*.parquet"],
                ).fetchall()
            )
        finally:
            con.close()
        kept = {r[0]: r[1] for r in oracle["pipe10"]["rows"]}
        if written != kept:
            problems.append("curated shards != pipe10 kept counts")
        return problems

    def final_check(self) -> list[str]:
        return []
