"""Greedy sequence packing for training-shard assembly.

LLM pretraining consumes fixed-length token sequences; packing short
documents into a shared context window (instead of padding each to the full
length) is the standard throughput lever (cf. the packing step of T5 /
GPT-style data pipelines). Exact greedy packing is inherently sequential —
bin state depends on every prior document — so the distributed form shards
the corpus DETERMINISTICALLY (id % n_shards) and packs each shard
independently: shards pack in parallel on executors, and the result is
reproducible run-to-run and engine-to-engine, which is what makes the
operation oracle-checkable (DuckDB replays the same greedy scan as a
recursive CTE).

Scale shape: one shuffle on the shard key, then a per-shard
``applyInPandas`` whose state is two scalars (current bin id + fill) — the
Arrow batch is (id, n_tokens) pairs only, never document text. Shard count
is the parallelism knob: at 100 TB you run thousands of shards; packing
quality is unaffected because bins never cross shards by design.

No reference analogue (the reference repo has no packing step); part of the
training-data surface beyond it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType


def pack_greedy(
    df: DataFrame,
    id_col: str,
    token_count_col: str,
    budget: int,
    n_shards: int = 8,
) -> DataFrame:
    """Assign each document a (shard, bin_id): shard = id % n_shards; within
    a shard, scan documents in ascending id order and start a new bin
    whenever the current document would push the bin past ``budget``. A
    document longer than ``budget`` occupies a bin alone (the greedy rule
    does this without a special case: it closes the previous bin, lands in
    a fresh one, and forces the next document to open another).

    Output: (id, shard, bin_id, n_tokens); bin_id is 0-based per shard."""
    if budget <= 0:
        raise ValueError("budget must be positive")
    schema = StructType(
        [
            StructField(id_col, LongType()),
            StructField("shard", LongType()),
            StructField("bin_id", LongType()),
            StructField("n_tokens", LongType()),
        ]
    )

    def _pack(pdf):
        pdf = pdf.sort_values(id_col).reset_index(drop=True)
        if pdf["n_tokens"].isna().any():
            # NaN poisons every later comparison in the scan (fill+NaN>budget
            # is False forever -> one unbounded bin); fail loudly instead
            raise ValueError("pack_greedy: null token counts in shard")
        bins = []
        fill = 0
        b = 0
        for nt in pdf["n_tokens"]:
            if fill > 0 and fill + nt > budget:
                b += 1
                fill = 0
            bins.append(b)
            fill += nt
        pdf["bin_id"] = bins
        return pdf[[id_col, "shard", "bin_id", "n_tokens"]]

    staged = df.select(
        F.col(id_col).cast("long"),
        F.pmod(F.col(id_col), F.lit(n_shards)).cast("long").alias("shard"),
        F.col(token_count_col).cast("long").alias("n_tokens"),
    )
    return staged.groupBy("shard").applyInPandas(_pack, schema)


def shard_shuffle(
    df: DataFrame, id_col: str, n_shards: int = 64, salt: str = "sh1"
) -> DataFrame:
    """Deterministic global shuffle into training shards: every row gets a
    ``(shard, pos)`` coordinate such that reading shards in order and rows
    by ``pos`` within each shard yields a pseudo-random permutation of the
    corpus — the order-randomization step a pretraining pipeline runs
    before writing tokenizer/trainer shards (adjacent raw rows are
    correlated: same crawl, same domain; training wants them scattered).

    shard = first-32-md5-bits(salt|id) mod n_shards; pos = rank of the full
    md5 within the shard. Everything is keyed on md5(salt|id), so the
    permutation is reproducible run-to-run, engine-to-engine (DuckDB
    replays it with the same expressions), and restartable — re-running
    after a failure reproduces the identical layout, unlike
    ``ORDER BY rand()``.

    Scale shape: one hash-partition shuffle on ``shard`` plus an
    independent per-shard sort (``row_number`` partitioned by shard) —
    O(N) movement and each shard sorts alone. The naive alternative, a
    global ``ORDER BY rand()``, is a full range-sort: it needs a sampling
    pass for range boundaries and serializes skew handling through one
    total order. n_shards is the parallelism knob: at 100 TB use O(100k)
    shards so each sort fits an executor core.

    Output: input columns + (shard long, pos long); pos is 0-based and
    dense within each shard. No reference analogue (training-data layout
    surface beyond the reference repo).
    """
    if n_shards <= 0:
        raise ValueError("n_shards must be positive")
    key = F.md5(F.concat_ws("|", F.lit(salt), F.col(id_col).cast("string")))
    shard = (
        F.conv(F.substring(key, 1, 8), 16, 10).cast("long") % n_shards
    ).alias("shard")
    w = Window.partitionBy("shard").orderBy("__key", id_col)
    return (
        df.select("*", key.alias("__key"), shard)
        .withColumn("pos", (F.row_number().over(w) - 1).cast("long"))
        .drop("__key")
    )


def pack_bin_summary(packed: DataFrame, budget: int) -> DataFrame:
    """Roll packed assignments up to bins: (shard, bin_id, n_docs,
    n_tokens, fill_ppm). fill_ppm = floor(n_tokens * 1e6 / budget) — exact
    integer arithmetic, engine-portable. The packing-efficiency audit."""
    return (
        packed.groupBy("shard", "bin_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
        )
        .select(
            "shard",
            "bin_id",
            "n_docs",
            "n_tokens",
            F.floor(F.col("n_tokens") * 1000000 / F.lit(budget))
            .cast("long")
            .alias("fill_ppm"),
        )
    )
