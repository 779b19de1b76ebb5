"""LLM-data curation chain: Gopher quality gate → keep-first fingerprint
dedup → (optional DSIR selection) → token-budget admission → integer md5
admit draw.

The registry rows (pipe10, pipe11, pipe13) and the operational runner
(tools/run_curation_pipeline.py) compose these stages; the keeper rule,
the draw arithmetic and the budget cap live only here. What stays at each
call site is the site's own measured trade: where the NULL-source filter
runs (before or after the keeper window, both oracle-pinned), the
registry rows' lazy ``localCheckpoint`` of the survivor frame, pipe13's
distributed two-level rank cut, and the runner's shard/stats outputs.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..materialize import persist
from . import split, text

# Curated "target" sources for DSIR selection — the distribution we want
# more of (DSIR's canonical use: select web data resembling Wikipedia +
# books; here the first four synthetic sources stand in for the curated
# set, chosen before looking at any content).
DSIR_TARGET_SOURCES = ("src0", "src1", "src2", "src3")


def gated_keepers(docs: DataFrame, fp) -> DataFrame:
    """Gopher gate, then one keeper per fingerprint ``fp`` (a column
    expression over ``docs``): the ``row_number() == 1`` row ordered by
    ``doc_id`` (== the min-doc_id row; doc_id is a PK). row_number()==1,
    not min(doc_id)+equality: the rank-1 limit pushes below the exchange
    (InferWindowGroupLimit), so a mass-duplicated fingerprint ships
    <= one row per map partition instead of funneling every copy through
    one hot window partition.

    NULL sources are the caller's decision: filter ``docs`` first to drop
    them BEFORE the window (pipe11, curate_epoch), or filter the result to
    drop them AFTER it (pipe10, pipe13, curate — a NULL-source keeper then
    still suppresses its non-NULL duplicates).

    Returns (doc_id, source, text, n_words, fp)."""
    feat = docs.select(
        "doc_id",
        "source",
        "text",
        fp.alias("fp"),
        *text.gopher_evidence_columns("text"),
    ).select("*", *text.gopher_rule_columns())
    w_fp = Window.partitionBy("fp").orderBy("doc_id")
    return (
        feat.filter(F.col("keep"))
        .withColumn("__rn", F.row_number().over(w_fp))
        .filter(F.col("__rn") == 1)
        .select("doc_id", "source", "text", "n_words", "fp")
    )


def budget_admit(
    surv: DataFrame, budget_tokens: int, salt: str
) -> tuple[DataFrame, DataFrame]:
    """Per-source token-budget allocation at a 1.0-epoch cap
    (split.token_budget_allocation, so admit_ppm = epochs_ppm <= 10^6),
    then one md5 admit draw per doc decided by INTEGER
    cross-multiplication: hash48(salt|doc_id)·10^6 < admit_ppm·2^48 — no
    float anywhere in the keep decision. The ≤|sources|-row rates table
    is broadcast back. ``surv`` needs doc_id, source and n_words.

    Returns (admitted, rates): admitted is ``surv`` + admit_ppm restricted
    to the drawn docs (a NULL source matches no rate and drops here);
    rates is (source, n_tokens, alloc_tokens, admit_ppm, clipped)."""
    rates = split.token_budget_allocation(
        surv, "source", "n_words", budget_tokens=budget_tokens,
        max_epochs_x1024=1024,
    ).select(
        "source",
        "n_tokens",
        "alloc_tokens",
        F.col("epochs_ppm").alias("admit_ppm"),
        "clipped",
    )
    draw = F.expr(
        f"CAST(conv(substring(md5(concat_ws('|', '{salt}',"
        " CAST(doc_id AS STRING))), 1, 12), 16, 10) AS DECIMAL(38,0))"
        " * 1000000 < CAST(admit_ppm AS DECIMAL(38,0)) * 281474976710656"
    )
    admitted = surv.join(
        F.broadcast(rates.select("source", "admit_ppm")), "source"
    ).filter(draw)
    return admitted, rates


def admit_stats(admitted: DataFrame) -> DataFrame:
    """Per-source (n_docs_kept, n_tokens_kept, admit_ppm) of a
    :func:`budget_admit` result, ordered by source."""
    return (
        admitted.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs_kept"),
            F.sum("n_words").cast("long").alias("n_tokens_kept"),
            F.min("admit_ppm").cast("long").alias("admit_ppm"),
        )
        .orderBy("source")
    )


def dsir_top_fraction(
    surv: DataFrame, weights: DataFrame, frac: float, floor_unseen: bool = False
) -> tuple[DataFrame, list]:
    """DSIR selection over a survivor frame: target-source survivors pass
    unconditionally; pool survivors are scored against ``weights``
    (text.dsir_scores) and only the top ceil(frac · |scored|) by
    length-normalized integer importance weight (ties by doc_id) proceed.

    k is sized over the SCORED frame: zero-bigram pool docs are unscorable
    and never selectable, so counting the scored frame makes the pipe13
    parity contract (2·rank ≤ n_scored + 1) structural instead of
    gate-dependent. The scored frame (one row per pool doc) is persisted
    for the count, the top-k and the semi join; the top-k is
    TakeOrderedAndProject (per-partition top-k + k-row driver merge),
    never a global sort. The count is one job, run here.

    Returns (selected, persisted): the selected survivors and the frames
    this call persisted and owns (unpersist them once the outputs are
    written)."""
    is_target = F.col("source").isin(*DSIR_TARGET_SOURCES)
    pool = surv.filter(~is_target)
    scored, owned = persist(
        text.dsir_scores(pool, "doc_id", "text", weights, floor_unseen=floor_unseen)
    )
    k = int(math.ceil(frac * scored.count()))
    top = (
        scored.orderBy(F.col("dsir_score_q").desc(), "doc_id")
        .limit(k)
        .select("doc_id")
    )
    selected = surv.filter(is_target).unionByName(pool.join(top, "doc_id", "semi"))
    return selected, [scored] if owned else []
