"""End-to-end LLM-data curation driver — the data-side sibling of
tools/run_pipeline.py: run the pipe10 budget-curation chain over the
documents table and MATERIALIZE the result the way a pretraining job
consumes it (curated parquet shards + a stats JSON sidecar).

The chain's stages come from end_to_end_ml_spark/operators/curate.py,
the same definitions the pipe10/pipe11/pipe13 registry rows compose:
  1. quality gate + exact dedup — curate.gated_keepers (Gopher integer
                                  rules, keep-first per fingerprint)
  2. DSIR selection (optional)  — curate.dsir_top_fraction
  3. budget admission           — curate.budget_admit (temperature-
                                  weighted token budget per source +
                                  integer md5 admit draws)
  4. shard + write              — deterministic md5 shard shuffle
                                  (operators/pack), partitioned parquet
                                  + stats JSON
This module keeps what only the runner does: where its survivor frames
are persisted (through end_to_end_ml_spark/materialize.persist), the
epoch loops and their versioned stores, and the shard/stats outputs.

Usage: python tools/run_curation_pipeline.py [sf_dir] [out_dir] [budget]
       python tools/run_curation_pipeline.py [sf_dir] [out_dir] [budget] --incremental
       python tools/run_curation_pipeline.py [sf_dir] [out_dir] [budget] --dsir-frac 0.5
       python tools/run_curation_pipeline.py [sf_dir] [out_dir] [budget] --incremental --dsir-frac 0.5

--incremental runs the pipe11 shape instead: only the NEW batch
(doc_id % 4 == 0) is curated, deduplicated against the HISTORY
fingerprint store (16-byte prefix-8 fps, anti join) as well as within
itself — and the survivor frame is MATERIALIZED ONCE (persist) before
the allocation and draw passes, fixing operationally the two-pass
survivor-scan trade the declarative pipe10/pipe11 query forms document.
--dsir-frac composes with both modes: full-mode scores the pool against
the whole survivor frame; incremental/epoch mode scores the nightly
batch against bucket counts that already reflect history via the
mergeable (bucket, t_count, r_count) store.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from end_to_end_ml_spark import materialize  # noqa: E402
from end_to_end_ml_spark.operators import curate as C  # noqa: E402
from end_to_end_ml_spark.operators import pack, text  # noqa: E402
from end_to_end_ml_spark.operators.curate import DSIR_TARGET_SOURCES  # noqa: E402
from end_to_end_ml_spark.session import get_spark  # noqa: E402
from end_to_end_ml_spark.sources import load_table  # noqa: E402


def _shards_and_stats(admitted, rates, n_shards: int, salt: str):
    """(curated, stats): the admitted docs in md5 shard order, and the
    per-source kept doc/token counts joined to the allocation table."""
    curated = pack.shard_shuffle(
        admitted, "doc_id", n_shards=n_shards, salt=salt
    ).select("shard", "pos", "doc_id", "source", "n_words", "text")
    stats = (
        admitted.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs_kept"),
            F.sum("n_words").cast("long").alias("n_tokens_kept"),
        )
        .join(rates, "source")
        .orderBy("source")
    )
    return curated, stats


def curate(
    spark,
    sf_dir: str,
    budget_tokens: int,
    n_shards: int = 8,
    dsir_frac: float | None = None,
):
    """The pipe10 chain + shard assignment, returned as (curated_df,
    per_source_stats_df). Kept as a function so tests can run it on
    sf0.001 without touching the CLI path.

    ``dsir_frac`` switches on the DSIR selection stage between dedup and
    budget allocation (the published curation order: quality gate →
    dedup → target-similarity selection → mixture): survivors from the
    curated target sources pass unconditionally; pool survivors are
    scored by hashed-bigram importance weight vs the target distribution
    (operators/text.dsir_*) and only the top ceil(dsir_frac * |scored|)
    proceed to allocation. Zero-bigram pool docs are unscorable and
    dropped by the stage (the documented mix5 contract). The one extra
    job is the pool count; selection itself is a TakeOrderedAndProject
    + a semi join back on doc_id."""
    docs = load_table(spark, sf_dir, "documents")
    # Keeper selection MUST see NULL-source docs: in the oracled pipe10
    # form a NULL-source doc that is the min-doc_id keeper of a
    # fingerprint suppresses its non-NULL duplicates. Filtering source
    # before the window would let those duplicates through — so the NULL
    # filter runs AFTER dedup here, exactly as PIPE10_SQL does.
    surv = (
        C.gated_keepers(docs, text.fingerprint_column("text"))
        .filter(F.col("source").isNotNull())
        .select("doc_id", "source", "text", "n_words")
    )
    if dsir_frac is not None:
        # the DSIR stage reads the survivor frame several times (weight
        # build, scoring, the semi join) — persist it once so those
        # passes read cached blocks instead of re-running the gate +
        # dedup window lineage (without it full-mode --dsir-frac is a
        # five-pass trade)
        surv, _ = materialize.persist(surv)
        # single-scan weight building: the flag variant costs one
        # survivor pass instead of two
        weights = text.dsir_bucket_weights_from_flag(
            surv, F.col("source").isin(*DSIR_TARGET_SOURCES), "text"
        )
        surv, _ = C.dsir_top_fraction(surv, weights, dsir_frac)
    admitted, rates = C.budget_admit(surv, budget_tokens, "bud1")
    return _shards_and_stats(admitted, rates, n_shards, "cur1")


def curate_epoch(
    spark,
    batch_docs,
    hist_fps,
    budget_tokens: int,
    n_shards: int = 8,
    salt: str = "cur2",
    dsir_frac: float | None = None,
    dsir_counts=None,
    dsir_weights=None,
    persisted_out: list | None = None,
):
    """ONE nightly epoch of the pipe11 chain over an arbitrary batch
    frame: Gopher gate → within-batch keep-first dedup on pipe11's
    prefix-8 fingerprint (NULL sources dropped before the keeper window)
    → LEFT ANTI against ``hist_fps`` (a 1-column `fp` frame, or None for
    the first epoch) → optional DSIR selection → per-source budget
    admission → integer md5 draws (pipe11's 'bud2' salt) → shard
    assignment. The survivor frame is persisted ONCE (the
    materialization trade pipe11's declarative form documents).

    DSIR: with ``dsir_frac`` set, the batch survivors' bucket
    counts are SUM-merged into ``dsir_counts`` (the versioned store a
    production loop carries — streaming/events.stream_dsir_counts_ingest
    maintains the same (bucket, t_count, r_count) shape), and the batch
    pool is scored against weights derived from the MERGED counts — so
    tonight's docs are ranked against a distribution that already
    reflects all history, without ever rescanning the historical corpus
    (the merge is a ≤256-row union+SUM; the only batch-sized work is
    the one bucket-count scan over tonight's survivors). Because the
    batch's own counts are merged in before scoring, every pool bigram
    lands in a bucket with r_count > 0 and the inner weights join drops
    nothing by construction. Curated target-source survivors pass
    unconditionally; pool survivors keep the top ceil(dsir_frac ·
    |scored|) by length-normalized integer importance weight (ties by
    doc_id), exactly the full-mode stage.

    EXTERNALLY-MAINTAINED store mode: pass ``dsir_weights`` (a weight
    table from streaming/events.dsir_weights_from_store — i.e. a store
    some OTHER system maintains, typically stream_dsir_counts_ingest) and
    the pool is scored directly against it with ``floor_unseen=True`` —
    tonight's docs are NOT counted into those weights, so unseen buckets
    take the add-one floor derived from the table's scale_x metadata. No
    count merge happens here (the stream owns the store); the returned
    dsir_counts_df is None. Mutually exclusive with ``dsir_counts``.

    ``persisted_out``: optional list; every frame this call persisted and
    owns (materialize.persist's ownership flag) is appended, so
    long-lived callers can unpersist once the epoch's outputs are written
    — without it, executor cache grows linearly with epochs.

    Returns (curated_df, stats_df, admitted_fps_df, dsir_counts_df,
    survivors_df) — the caller unions admitted_fps into its store so the
    NEXT epoch dedups against everything the corpus already contains (a
    draw-rejected doc keeps its chance in later epochs; an admitted
    fingerprint never re-enters), and carries dsir_counts_df (the merged
    counts, or None when DSIR is off or the store is external) as the
    next epoch's ``dsir_counts``. survivors_df is the persisted
    (doc_id, source, text, n_words, fp) frame after the gate, the dedup
    and the history anti join, before DSIR selection."""
    if dsir_weights is not None and dsir_counts is not None:
        raise ValueError(
            "pass dsir_counts (self-merged store) OR dsir_weights "
            "(externally-maintained store), not both"
        )
    if dsir_weights is not None and dsir_frac is None:
        raise ValueError("dsir_weights without dsir_frac has no effect")
    keepers = C.gated_keepers(
        batch_docs.filter(F.col("source").isNotNull()),
        text.prefix_fingerprint_column("text"),
    )
    if hist_fps is not None:
        keepers = keepers.join(hist_fps, "fp", "left_anti")
    keepers, owned = materialize.persist(
        keepers.select("doc_id", "source", "text", "n_words", "fp")
    )
    persisted = [keepers] if owned else []
    surv = keepers
    new_counts = None
    if dsir_frac is not None:
        if dsir_weights is not None:
            # external store: the stream already counted history; tonight's
            # batch is outside it, so unseen buckets take the derived floor
            weights = dsir_weights
        else:
            batch_counts = text.dsir_bucket_counts_from_flag(
                keepers, F.col("source").isin(*DSIR_TARGET_SOURCES), "text"
            )
            new_counts = text.dsir_merge_counts(dsir_counts, batch_counts)
            weights = text.dsir_weights_from_counts(new_counts)
        surv, owned_scored = C.dsir_top_fraction(
            keepers, weights, dsir_frac, floor_unseen=dsir_weights is not None
        )
        persisted += owned_scored
    if persisted_out is not None:
        persisted_out.extend(persisted)
    admitted, rates = C.budget_admit(surv, budget_tokens, "bud2")
    curated, stats = _shards_and_stats(admitted, rates, n_shards, salt)
    return curated, stats, admitted.select("fp").distinct(), new_counts, keepers


def curate_incremental(
    spark,
    sf_dir: str,
    budget_tokens: int,
    n_shards: int = 8,
    batch_mod: int = 4,
    dsir_frac: float | None = None,
):
    """The pipe11 chain, operationally: curate only the NEW batch
    (doc_id % batch_mod == 0) against the history fingerprint store,
    with the survivor frame persisted ONCE so the allocation pass and
    the admit-draw pass read cached blocks instead of re-running the
    gate + dedup lineage (the two-pass trade the declarative query form
    documents — here the batch is materialized, exactly what a nightly
    production run does). History ships fingerprints only — 16 bytes
    per historical doc at any corpus size. Delegates to
    :func:`curate_epoch`; pipe11 parity is pinned by
    tests/test_pack_chunk.py.

    With ``dsir_frac`` set, the batch is additionally DSIR-selected
    against bucket counts that reflect the historical docs — in this
    synthetic-history demo the historical counts come from one pass
    over the history slice (they are the demo stand-in for the
    versioned store a production loop carries: run_operational_loop
    threads the store between nights, and stream_dsir_counts_ingest
    maintains the same shape online, so a real nightly job reads ≤256
    rows instead of running this pass). The history slice is gated + deduped before
    counting: the production stores accumulate SURVIVOR counts, so a
    demo distribution counted over raw history — gated-out and
    duplicate docs included — would differ in shape from the store it
    stands in for."""
    docs = load_table(spark, sf_dir, "documents")
    hist_docs = docs.filter(F.col("doc_id") % batch_mod != 0)
    fp = text.prefix_fingerprint_column("text")
    hist = hist_docs.select(fp.alias("fp")).distinct()
    hist_counts = None
    if dsir_frac is not None:
        hist_surv = C.gated_keepers(
            hist_docs.filter(F.col("source").isNotNull()), fp
        )
        hist_counts = text.dsir_bucket_counts_from_flag(
            hist_surv, F.col("source").isin(*DSIR_TARGET_SOURCES), "text"
        )
    curated, stats, _, _, _ = curate_epoch(
        spark,
        docs.filter(F.col("doc_id") % batch_mod == 0),
        hist,
        budget_tokens,
        n_shards=n_shards,
        dsir_frac=dsir_frac,
        dsir_counts=hist_counts,
    )
    return curated, stats


def run_operational_loop(
    spark,
    sf_dir: str,
    work_dir: str,
    budget_tokens: int,
    n_epochs: int = 3,
    dsir_frac: float = 0.5,
    ann_threshold: float = 0.4,
    minhash_threshold: float = 0.5,
):
    """ONE production session driving the FOUR independently-pinned
    systems together across ``n_epochs`` nights (round-11 verdict #4
    composed the first three; round-13 adds the MinHash near-dup probe —
    the pieces were pairwise-pinned; this composes them end-to-end):

      1. STREAMING DSIR store maintenance: each night's curation
         SURVIVORS (with their target flag) land in a file-source
         directory and are drained through
         streaming/events.stream_dsir_counts_ingest into the versioned
         count store (``work_dir/dsir_store``, checkpoint
         ``work_dir/ck`` — the two live and die together per the sink's
         lifecycle contract).
      2. NIGHTLY EPOCH CURATION consuming that store: night 0
         bootstraps in self-merge mode (its own batch counts — which is
         exactly what the store holds after night 0's ingest, so the
         two systems agree by construction); every later night scores
         its pool against dsir_weights_from_store(...) via
         curate_epoch(dsir_weights=..., floor_unseen inside) — tonight's
         docs are NOT yet counted into the store, so unseen buckets take
         the metadata-derived add-one floor. The fingerprint store
         threads between nights as a versioned parquet store
         (``work_dir/fp_store/v{e}``), and each night's persisted
         frames are unpersisted once its outputs are on disk.
      3. ANN MAINTENANCE over the matching embedding nights
         (tools/run_ann_maintenance.maintain_epochs): probe-then-add
         against the live IVF index, pairs written under
         ``work_dir/ann``, pruned_fraction trajectory recorded.
      4. MINHASH NEAR-DUP MAINTENANCE on the same epochs (round-12
         verdict #5 — the composition story's near-dup gap): night e's
         RAW ingest batch PROBES the persisted LSH index of nights < e's
         SURVIVORS (dedup.minhash_probe_pairs over a dedup.MinHashIndex
         read from the on-disk store — candidates only where batch meets
         history in a band, never history×history), pairs land under
         ``work_dir/minhash/epoch={e}``; then the night's survivor
         signature and band rows are APPENDED to
         ``work_dir/mh_index/{sig,bands}`` — an O(night batch) index
         add, no rebuild, exactly the probe-then-add shape the ANN loop
         runs. The RAW batch (not the survivors) probes because the
         exact-fingerprint system already collapses prefix-sharing
         near-dups out of the survivor set — the probe is the audit that
         catches what the prefix-8 fingerprint admits/misses. Same hash
         family / seed / shingles as pipe8, so each night's probe pairs
         equal the cross-split slice of the full pair set over
         (night-e batch ∪ prior survivors) — replayed from disk by the
         e2e test.

    Returns a JSON-able dict: per-night curation stats rows, the ANN
    stats, and the store paths. Cross-system invariants (streaming
    store == batch replay of the survivor counts, no fingerprint
    readmitted, floor engagement, trajectory shape) are asserted by
    tests/test_pack_chunk.py::test_operational_loop_composes_four_systems."""
    from end_to_end_ml_spark.streaming import events as SE

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from run_ann_maintenance import maintain_epochs

    docs = load_table(spark, sf_dir, "documents")
    is_target = F.col("source").isin(*DSIR_TARGET_SOURCES)
    dsir_store = os.path.join(work_dir, "dsir_store")
    checkpoint = os.path.join(work_dir, "ck")
    surv_src = os.path.join(work_dir, "survivor_feed")
    # Night-to-version alignment (night e reads store v{e-1}) depends on
    # each night's survivor feed being exactly one NEW file drained as
    # exactly one micro-batch. A leftover file from a crashed prior run,
    # or a re-run against an existing work_dir, silently shifts the
    # version numbering — refuse loudly instead (r12 ADVICE #3).
    mh_sig_dir = os.path.join(work_dir, "mh_index", "sig")
    mh_bands_dir = os.path.join(work_dir, "mh_index", "bands")
    mh_pairs_dir = os.path.join(work_dir, "minhash")
    stale = [
        p for p in (dsir_store, checkpoint, surv_src, mh_sig_dir, mh_pairs_dir)
        if os.path.isdir(p) and os.listdir(p)
    ]
    if stale:
        raise RuntimeError(
            "run_operational_loop: work_dir already holds loop state "
            f"({stale}) — the store version <-> night alignment would "
            "silently shift. Point work_dir at a fresh directory."
        )
    fp_store = None
    nights = []
    for e in range(n_epochs):
        batch = docs.filter(F.col("doc_id") % n_epochs == e)
        weights = (
            SE.dsir_weights_from_store(spark, dsir_store) if e > 0 else None
        )
        persisted: list = []
        curated, stats, admitted_fps, _, surv = curate_epoch(
            spark,
            batch,
            fp_store,
            budget_tokens,
            salt=f"op{e}",
            dsir_frac=dsir_frac,
            dsir_weights=weights,
            persisted_out=persisted,
        )
        curated.write.mode("overwrite").partitionBy("shard").parquet(
            os.path.join(work_dir, "curated", f"epoch={e}")
        )
        version_dir = os.path.join(work_dir, "fp_store", f"v{e}")
        new_store = (
            admitted_fps
            if fp_store is None
            else fp_store.unionByName(admitted_fps)
        ).distinct()
        new_store.write.mode("overwrite").parquet(version_dir)
        fp_store = spark.read.parquet(version_dir)
        stats_rows = [r.asDict() for r in stats.collect()]
        # --- system 4: MinHash near-dup probe (BEFORE tonight's feed /
        # index rows land, so history is exactly nights < e) ---
        from end_to_end_ml_spark.operators import dedup as DD

        n_mh_pairs = 0
        if e > 0:
            sig, sig_owned = materialize.persist(spark.read.parquet(mh_sig_dir))
            bands, bands_owned = materialize.persist(
                spark.read.parquet(mh_bands_dir)
            )
            idx = DD.MinHashIndex(
                sig, bands, (sig_owned, bands_owned),
                num_hashes=64, bands=16, seed=42, shingle_size=5,
            )
            hist_text = spark.read.parquet(surv_src).select("doc_id", "text")
            pair_dir = os.path.join(mh_pairs_dir, f"epoch={e}")
            DD.minhash_probe_pairs(
                batch.select("doc_id", "text"), hist_text, "doc_id", "text",
                threshold=minhash_threshold, shingle_size=5, index=idx,
            ).write.mode("overwrite").parquet(pair_dir)
            n_mh_pairs = spark.read.parquet(pair_dir).count()
            idx.unpersist()
        # feed tonight's survivors to the stream (one file per night so
        # each drain is one micro-batch = one store version), then drain
        surv.select(
            "doc_id", is_target.alias("is_tgt"), "text"
        ).coalesce(1).write.mode("append").parquet(surv_src)
        stream = (
            spark.readStream.schema(spark.read.parquet(surv_src).schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(surv_src)
        )
        SE.stream_dsir_counts_ingest(
            stream, dsir_store, "is_tgt", "text", checkpoint,
            query_name=f"op_dsir_ingest_e{e}",
        )
        # loud drift check: after night e's drain the store's newest
        # snapshot must BE version e, or the night<->version contract the
        # replay test (and dsir_weights_from_store) relies on is broken
        versions = SE._snapshot_versions(dsir_store)
        if not versions or versions[-1] != e:
            raise RuntimeError(
                f"run_operational_loop: after night {e}'s drain the DSIR "
                f"store's snapshot versions are {versions} (expected "
                f"latest == {e}) — survivor_feed produced more or fewer "
                "micro-batches than one per night"
            )
        # O(night batch) index ADD — tonight's signature and band rows
        # append as epoch subdirs; no rebuild of the history index. Bands
        # derive from the just-written signature file (one read, no
        # signature recompute).
        sig_dir_e = os.path.join(mh_sig_dir, f"epoch={e}")
        DD.minhash_signatures_agg(
            DD._spread(surv), "doc_id", DD.char_shingles("text", 5)
        ).write.mode("overwrite").parquet(sig_dir_e)
        DD._banded(spark.read.parquet(sig_dir_e), 64, 16).write.mode(
            "overwrite"
        ).parquet(os.path.join(mh_bands_dir, f"epoch={e}"))
        for f in persisted:
            f.unpersist()
        nights.append(
            {"epoch": e, "sources": stats_rows, "minhash_pairs": n_mh_pairs}
        )
    _, ann_stats = maintain_epochs(
        spark,
        sf_dir,
        threshold=ann_threshold,
        n_epochs=n_epochs,
        out_dir=os.path.join(work_dir, "ann"),
    )
    return {
        "n_epochs": n_epochs,
        "dsir_frac": dsir_frac,
        "nights": nights,
        "ann": ann_stats,
        "dsir_store": dsir_store,
        "fp_store": os.path.join(work_dir, "fp_store"),
        "survivor_feed": surv_src,
        "minhash_index": os.path.join(work_dir, "mh_index"),
        "minhash_pairs": mh_pairs_dir,
    }


def main() -> None:
    argv = sys.argv[1:]
    dsir_frac = None
    if "--dsir-frac" in argv:
        i = argv.index("--dsir-frac")
        if i + 1 >= len(argv):
            raise SystemExit("--dsir-frac requires a value in (0, 1]")
        try:
            dsir_frac = float(argv[i + 1])
        except ValueError:
            raise SystemExit(
                f"--dsir-frac must be a number in (0, 1], got "
                f"{argv[i + 1]!r}"
            ) from None
        if not 0.0 < dsir_frac <= 1.0:
            raise SystemExit(
                f"--dsir-frac must be in (0, 1] (got {dsir_frac}): 0 "
                "empties the pool; > 1 is a no-op that still pays the "
                "DSIR jobs"
            )
        argv = argv[:i] + argv[i + 2 :]
    args = [a for a in argv if a not in ("--incremental", "--operational-loop")]
    incremental = "--incremental" in argv
    operational = "--operational-loop" in argv
    if incremental and operational:
        raise SystemExit(
            "--operational-loop is a standalone mode (it already runs the "
            "incremental epoch path per night); drop --incremental"
        )
    sf_dir = args[0] if len(args) > 0 else "/root/testdata/sf0.001"
    out_dir = args[1] if len(args) > 1 else "/tmp/spark_curation_run"
    budget = int(args[2]) if len(args) > 2 else 50_000
    spark = get_spark("run-curation")
    if operational:
        summary = run_operational_loop(
            spark, sf_dir, out_dir, budget,
            dsir_frac=dsir_frac if dsir_frac is not None else 0.5,
        )
        os.makedirs(out_dir, exist_ok=True)
        with open(os.path.join(out_dir, "operational_loop.json"), "w") as f:
            json.dump(summary, f, indent=1, sort_keys=True)
        print(json.dumps(summary))
        return
    if incremental:
        # nightly batch scored against counts reflecting history (the
        # curate_epoch DSIR stage via the mergeable count store) — the
        # round-10 composition gap, no longer a refusal
        curated, stats = curate_incremental(
            spark, sf_dir, budget, dsir_frac=dsir_frac
        )
    else:
        curated, stats = curate(spark, sf_dir, budget, dsir_frac=dsir_frac)
    target = os.path.join(out_dir, "curated")
    # partitionBy shard: each pretraining reader takes one directory;
    # within a shard, pos is the reproducible md5 training order
    curated.write.mode("overwrite").partitionBy("shard").parquet(target)
    rows = [r.asDict() for r in stats.collect()]
    summary = {
        "sf_dir": sf_dir,
        "mode": "incremental" if incremental else "full",
        "dsir_frac": dsir_frac,
        "budget_tokens": budget,
        "sources": rows,
        "total_docs_kept": int(sum(r["n_docs_kept"] for r in rows)),
        "total_tokens_kept": int(sum(r["n_tokens_kept"] for r in rows)),
    }
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, "curation_stats.json"), "w") as f:
        json.dump(summary, f, indent=1, sort_keys=True)
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
