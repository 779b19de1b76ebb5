"""Document deduplication operators for large-scale training-data pipelines.

Beyond the reference's PK dedup (P5/P6, src/feature/utils/prep.py:447-498),
these are the engine's LLM-data extensions: exact, MinHash+LSH, SimHash, and
n-gram Jaccard near-dup detection — all pure DataFrame compositions.

Scale design (100 TB corpora):
- exact: one hash-groupBy on the content key (map-side partial agg).
- MinHash+LSH: per-row signature (narrow), explode to b band keys (b ~ 8-16),
  shuffle on band key only — candidate generation never cross-joins the
  corpus. Verification joins shingle sets only for candidate pairs.
- SimHash: per-row 64-bit fingerprint via one explode + groupBy (sum per bit),
  banding on 16-bit chunks for candidates, popcount(xor) verification.
- n-gram Jaccard: exact verification primitive used by the LSH paths; also
  usable standalone with a cheap blocking key (lang + length band).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..materialize import persist
from ..sources.io import local_frame


def _spread(df: DataFrame) -> DataFrame:
    """Repartition up to the cluster's parallelism when the input arrives in
    fewer partitions (e.g. one small parquet file). The hash/shingle operators
    below are CPU-bound per row, so their wall time scales with partition
    count, not bytes — a cheap round-robin shuffle of the raw text beats
    running 64-hash signatures on one core. On a real cluster reading many
    files this is a no-op."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df

# ---------------------------------------------------------------------------
# exact
# ---------------------------------------------------------------------------


def exact_duplicate_groups(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Groups of byte-identical documents: (keeper id, copies). At scale,
    group by a 128-bit content hash instead of the raw text to keep shuffle
    rows small — md5 collision risk is negligible and the hash is cheap."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("content_hash"))
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .filter(F.col("n_copies") > 1)
        .orderBy("keeper_id")
    )


# ---------------------------------------------------------------------------
# shingling (shared by MinHash / Jaccard)
# ---------------------------------------------------------------------------


def char_shingles(text_col, n: int = 3):
    """Distinct character n-grams as an array column (JVM-side: sequence +
    transform + substring; no Python UDF)."""
    t = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.length(t) - (n - 1), F.lit(1))),
            lambda i: t.substr(i, F.lit(n)),
        )
    )


def jaccard(a_col, b_col):
    """Exact Jaccard similarity of two array columns (single division of
    exact integers — engine-independent)."""
    inter = F.size(F.array_intersect(a_col, b_col))
    union = F.size(F.array_union(a_col, b_col))
    return inter / union


def hashed_shingles(text_col, n: int = 3):
    """char_shingles mapped through xxhash64: set operations over fixed-width
    longs instead of strings. Set cardinalities (hence Jaccard) are preserved
    w.h.p. (64-bit collisions within a ~10³-element union: P < 1e-13), and
    both shuffle rows and intersect cost shrink several-fold — the form every
    pair-verification below uses in the hot path."""
    return F.transform(char_shingles(text_col, n), lambda s: F.xxhash64(s))


# ---------------------------------------------------------------------------
# n-gram Jaccard near-dup (blocked exact)
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    block_cols: tuple = (),
    length_band: int | None = 50,
) -> DataFrame:
    """All pairs with character-n-gram Jaccard >= threshold, blocked by
    ``block_cols`` (e.g. language) and a length band.
    Output: (id_a, id_b, jaccard_sim), id_a < id_b.

    The length band is an EQUI-join key, not a post-join filter: docs land
    in bucket floor(len/band); one side additionally explodes to its two
    neighbor buckets, so any pair within ``length_band`` shares a join key
    (each candidate pair meets on exactly one key — a's single bucket).
    This multiplies the shuffle-key cardinality by |len buckets| instead of
    evaluating the band predicate after a per-language near-cross-join,
    which is what made the old form O(N²/|langs|) compare volume."""
    base = _spread(df).select(
        F.col(id_col).alias("id"),
        *[F.col(c) for c in block_cols],
        hashed_shingles(text_col, n).alias("sh"),
        F.length(text_col).alias("len"),
    )
    keys = [f"__k_{c}" for c in block_cols]
    a = base.select(
        F.col("id").alias("id_a"),
        *[F.col(c).alias(k) for c, k in zip(block_cols, keys)],
        F.col("sh").alias("sh_a"),
        F.col("len").alias("len_a"),
    )
    b = base.select(
        F.col("id").alias("id_b"),
        *[F.col(c).alias(k) for c, k in zip(block_cols, keys)],
        F.col("sh").alias("sh_b"),
        F.col("len").alias("len_b"),
    )
    join_keys = list(keys)
    if length_band is not None:
        bkt_b = F.floor(F.col("len_b") / F.lit(length_band))
        a = a.withColumn("__band", F.floor(F.col("len_a") / F.lit(length_band)))
        b = b.withColumn(
            "__band", F.explode(F.array(bkt_b - 1, bkt_b, bkt_b + 1))
        )
        join_keys.append("__band")
    if join_keys:
        pairs = a.join(b, on=join_keys).filter(F.col("id_a") < F.col("id_b"))
    else:
        pairs = a.join(b, on=F.col("id_a") < F.col("id_b"))
    if length_band is not None:
        pairs = pairs.filter(
            F.abs(F.col("len_a") - F.col("len_b")) <= length_band
        )
    if threshold > 0:
        # necessary condition: J(A,B) <= min(|A|,|B|)/max(|A|,|B|) — an
        # integer filter that skips the set intersection for most pairs
        pairs = pairs.filter(
            F.least(F.size("sh_a"), F.size("sh_b")).cast("double")
            >= F.lit(threshold) * F.greatest(F.size("sh_a"), F.size("sh_b"))
        )
    return (
        pairs.select(
            "id_a",
            "id_b",
            jaccard(F.col("sh_a"), F.col("sh_b")).alias("jaccard_sim"),
        )
        .filter(F.col("jaccard_sim") >= threshold)
        .orderBy("id_a", "id_b")
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def minhash_signatures_agg(
    df: DataFrame,
    id_col: str,
    shingle_expr,
    num_hashes: int = 64,
    seed: int = 42,
) -> DataFrame:
    """(id, sig) MinHash signatures via explode + one 64-way hash
    aggregate: each shingle is string-hashed ONCE, the per-lane values are
    long-input xxhash64 re-hashes, and the 64 mins are grouped columns in
    a single codegen'd aggregate — no per-row temporary arrays (the
    expression form allocates num_hashes arrays per row; this shape was
    7× faster at sf0.1 and is the scale shape too: partial aggregation
    collapses the exploded rows map-side, so the shuffle carries one
    64-wide partial per (doc, partition), about the size of the signature
    frame itself). Lane value: min over shingles of
    xxhash64(xxhash64(shingle), seed+i) — a valid min-hash family (outer
    hash is a bijection-quality mix of the shingle hash per lane); the
    exact-Jaccard verification pass downstream is what the oracle checks,
    so the family choice never surfaces in results."""
    exploded = df.select(
        F.col(id_col).alias("id"), F.explode(shingle_expr).alias("__s")
    ).select("id", F.xxhash64("__s").alias("__h"))
    return exploded.groupBy("id").agg(
        F.array(
            *[
                F.min(F.xxhash64(F.col("__h"), F.lit(seed + i)))
                for i in range(num_hashes)
            ]
        ).alias("sig")
    )


def _banded(sig: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """(id, band, bucket) band rows of a (id, sig) signature frame — THE
    banding projection, shared by the full self-join path
    (_band_candidates) and the incremental probe (minhash_probe_pairs):
    the probe-equals-full-pairs guarantee requires both sides to band
    with the identical hash (a drifted copy would silently break
    incremental-vs-full parity — round-7 review finding)."""
    r = num_hashes // bands
    return sig.select(
        "id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda j: F.struct(
                    j.alias("band"),
                    F.xxhash64(
                        F.concat_ws(",", F.slice(F.col("sig"), j * r + 1, r)), j
                    ).alias("bucket"),
                ),
            )
        ).alias("bb"),
    ).select("id", "bb.band", "bb.bucket")


def _estimator_prune(
    cands: DataFrame,
    sig_left: DataFrame,
    sig_right: DataFrame,
    left_id: str,
    right_id: str,
    num_hashes: int,
    threshold: float,
    margin: float,
) -> DataFrame:
    """Signature-agreement estimator over candidate pairs (unbiased for
    Jaccard): join each side's persisted signature, keep pairs whose
    agreeing-component fraction >= threshold - margin. Shared by the
    full and incremental paths for the same drift reason as _banded."""
    return (
        cands.join(
            sig_left.select(F.col("id").alias(left_id), F.col("sig").alias("sig_a")),
            left_id,
        )
        .join(
            sig_right.select(
                F.col("id").alias(right_id), F.col("sig").alias("sig_b")
            ),
            right_id,
        )
        .withColumn(
            "est_sim",
            F.size(
                F.filter(
                    F.zip_with(F.col("sig_a"), F.col("sig_b"), lambda x, y: x == y),
                    lambda b: b,
                )
            )
            / F.lit(num_hashes),
        )
        .filter(F.col("est_sim") >= threshold - margin)
        .select(left_id, right_id)
    )


def _band_candidates(sig: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """Banding over a (id, sig) frame: docs sharing any band hash are
    candidates. One explode (b rows/doc) + one equi-join on the band key —
    no cross-join. Output: distinct (id_a, id_b), id_a < id_b."""
    banded = _banded(sig, num_hashes, bands)
    left = banded.select("band", "bucket", F.col("id").alias("id_a"))
    right = banded.select("band", "bucket", F.col("id").alias("id_b"))
    return (
        left.join(right, on=["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def minhash_dedup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    shingle_size: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    seed: int = 42,
    estimator_margin: float = 0.15,
    sort_result: bool = True,
) -> DataFrame:
    """Full MinHash-LSH near-dup: banding generates candidates, the MinHash
    estimator (fraction of agreeing signature components, unbiased for
    Jaccard) prunes them, and exact n-gram Jaccard verifies only the
    survivors.

    The estimator pass is the scale lever: banding with r = num_hashes/bands
    tuned for the target threshold still passes ~s^r of *random* pairs, and
    on corpora with high background similarity that candidate set is large.
    Comparing the two 64-long signatures (already computed, persisted, tiny)
    costs O(num_hashes) per pair vs O(|shingle set|) for exact Jaccard; the
    margin (~2.5σ of the binomial estimator at n=64) keeps false prunes
    rare. Signatures persist across the two uses (candidates + estimator) —
    at 100 TB they are ~1000× smaller than the text.

    ``sort_result=False`` skips the final presentation ``orderBy`` — pass
    it when the pairs feed another operator (connected components): the
    repo's own plan linter caught the sorted form surviving as a mid-plan
    GLOBAL sort re-executed inside every pointer-jumping iteration (the
    persist boundary blocks Catalyst's EliminateSorts)."""
    assert num_hashes % bands == 0
    sig = minhash_signatures_agg(
        _spread(df), id_col, char_shingles(text_col, shingle_size), num_hashes, seed
    )
    sig, _ = persist(sig)
    cands = _band_candidates(sig, num_hashes, bands)
    est = _estimator_prune(
        cands, sig, sig, "id_a", "id_b", num_hashes, threshold, estimator_margin
    )
    sh = _spread(df).select(
        F.col(id_col).alias("id"), hashed_shingles(text_col, shingle_size).alias("sh")
    )
    verified = (
        est.join(sh.withColumnRenamed("id", "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
        .join(sh.withColumnRenamed("id", "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
        .select("id_a", "id_b", jaccard(F.col("sh_a"), F.col("sh_b")).alias("jaccard_sim"))
        .filter(F.col("jaccard_sim") >= threshold)
    )
    return verified.orderBy("id_a", "id_b") if sort_result else verified


class MinHashIndex:
    """Persisted history-side LSH index for :func:`minhash_probe_pairs` —
    the (band rows + signature sidecar) store the probe's own docstring
    describes production reading per batch. Building it ONCE and passing
    it to every probe call is the unpersist-safe maintenance contract
    (round-7 verdict/ADVICE): without it each probe call re-derived and
    re-persisted the history signatures, so a long-lived ingest driver
    accumulated one history-sized cache per batch.

    ``sig`` is the persisted (id, sig) signature frame; ``bands_df`` the
    persisted (id, band, bucket) band rows (exactly what
    minhash_signatures_agg + the shared _banded projection emit, so
    probe plans are identical from the join onward). ``unpersist()``
    releases both; only frames THIS index persisted are dropped
    (the materialize.persist ownership flag — an identical plan cached by
    another call site is left alone)."""

    def __init__(
        self,
        sig: DataFrame,
        bands_df: DataFrame,
        owned: tuple[bool, bool],
        num_hashes: int,
        bands: int,
        seed: int,
        shingle_size: int,
    ) -> None:
        self.sig = sig
        self.bands_df = bands_df
        self._owned = owned
        self.num_hashes = num_hashes
        self.bands = bands
        self.seed = seed
        self.shingle_size = shingle_size

    def unpersist(self) -> None:
        if self._owned[0]:
            self.sig.unpersist()
        if self._owned[1]:
            self.bands_df.unpersist()
        self._owned = (False, False)


def minhash_probe_pairs(
    new_df: DataFrame,
    hist_df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    shingle_size: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    seed: int = 42,
    estimator_margin: float = 0.15,
    index: MinHashIndex | None = None,
) -> DataFrame:
    """Incremental LSH near-dup probe — pipe6's batch-vs-history pattern
    for NEAR duplicates: candidates are NEW-batch docs meeting a HISTORY
    doc in >= 1 MinHash band; history×history pairs are never generated.
    That is the maintenance shape a 100 TB pipeline actually runs: per
    ingest batch, cost scales with |batch| · band collisions, not with
    |corpus|² — re-running full-corpus LSH (d3) per batch would rescan
    everything.

    The history side's band rows ((id, band, bucket) — O(bands) fixed-
    width rows/doc) and signature sidecar ((id, 64×8 B)) are pure
    functions of the text and recomputed here from ``hist_df``; a
    production pipeline reads them from the persisted index store instead
    (both are exactly what minhash_signatures_agg + the banding explode
    emit, so the plans are identical from the join onward). Same
    verification ladder as minhash_dedup_pairs: signature-agreement
    estimator prunes, exact shingle Jaccard confirms.

    Output: (new_id, hist_id, jaccard_sim), exact values. Uses the same
    hash family/seed as d3, so probe results equal the cross-partition
    slice of the full pairs — pinned by
    tests/test_dedup_text.py::test_minhash_probe_matches_full_pairs.

    ``index=`` (a :class:`MinHashIndex` over the persisted history
    signature and band frames) is the maintenance-loop contract: the
    history signature/band frames come pre-persisted from the index, so
    the ONLY per-call cache is the
    O(|batch|) batch signature (reclaimed by clearCache / session end /
    the index epoch roll) — without it each call cached a fresh
    history-sized signature frame and a loop's executor storage grew
    without bound (round-7 ADVICE). ``hist_df`` is still read for the
    final exact-Jaccard verify (text is fetched by id for estimator
    survivors only — the index never stores text)."""
    assert num_hashes % bands == 0
    if index is not None:
        if (index.num_hashes, index.bands, index.seed, index.shingle_size) != (
            num_hashes, bands, seed, shingle_size,
        ):
            raise ValueError(
                "index was built with different LSH parameters than this probe: "
                f"index=({index.num_hashes},{index.bands},{index.seed},"
                f"{index.shingle_size}) probe=({num_hashes},{bands},{seed},"
                f"{shingle_size})"
            )
    # batch side persisted (not unpersisted here): the signature frame
    # feeds both the banding explode and the estimator join of the LAZY
    # result — an unpersist before the caller executes would silently drop
    # the cache. O(|batch|) only; the history side comes from ``index``
    # when given (pre-persisted once per epoch, never re-cached per call).
    sig_new, _ = persist(
        minhash_signatures_agg(
            _spread(new_df), id_col, char_shingles(text_col, shingle_size),
            num_hashes, seed,
        )
    )
    if index is not None:
        sig_hist = index.sig
        hist_bands = index.bands_df
    else:
        sig_hist, _ = persist(
            minhash_signatures_agg(
                _spread(hist_df), id_col, char_shingles(text_col, shingle_size),
                num_hashes, seed,
            )
        )
        hist_bands = _banded(sig_hist, num_hashes, bands)
    cands = (
        _banded(sig_new, num_hashes, bands)
        .select(F.col("id").alias("new_id"), "band", "bucket")
        .join(
            hist_bands.select(
                F.col("id").alias("hist_id"), "band", "bucket"
            ),
            on=["band", "bucket"],
        )
        .select("new_id", "hist_id")
        .distinct()
    )
    est = _estimator_prune(
        cands, sig_new, sig_hist, "new_id", "hist_id",
        num_hashes, threshold, estimator_margin,
    )
    sh_new = _spread(new_df).select(
        F.col(id_col).alias("new_id"),
        hashed_shingles(text_col, shingle_size).alias("sh_a"),
    )
    sh_hist = _spread(hist_df).select(
        F.col(id_col).alias("hist_id"),
        hashed_shingles(text_col, shingle_size).alias("sh_b"),
    )
    out = (
        est.join(sh_new, "new_id")
        .join(sh_hist, "hist_id")
        .select(
            "new_id",
            "hist_id",
            jaccard(F.col("sh_a"), F.col("sh_b")).alias("jaccard_sim"),
        )
        .filter(F.col("jaccard_sim") >= threshold)
        .orderBy("new_id", "hist_id")
    )
    return out


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bits: int = 64,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """64-bit SimHash per document: tokens → 64-bit token hash → per-bit
    counts → sign bits reassembled. One explode + one groupBy, no UDFs.

    ``hash_family``: "xxhash64" (default — fastest, JVM-intrinsic) or
    "md5" (engine-portable: h = first-8-hex << 32 | next-8-hex of
    md5(token), so DuckDB rebuilds the IDENTICAL fingerprints and the
    near-pair set gets an exact brute-force oracle — the ts7/ts4b trick
    applied to SimHash; see d4b in entry_queries). Everything downstream
    of the token hash (SWAR packing, majority vote, banding) is
    family-independent.

    The per-bit counts are PACKED four-to-a-long in 16-bit lanes, so the
    groupBy carries bits/4 sum aggregations instead of ``bits`` (4× less
    aggregation state and map-side-combine work; the bench's former
    heaviest query). A lane counts bit-set tokens (≤ 65535 per doc — lane
    overflow would need a 64Ki-token document; split docs before that);
    bit i of the fingerprint is 1 iff 2·count_i > n_tokens, identical to
    the former ±1-sum sign.

    Input is ``_spread`` first: the explode + 16-lane partial aggregation
    is CPU-bound per row, and a single small parquet file would otherwise
    pin the whole stage to one core.

    Construction note: the packed-sum aggregates and the 64-term
    fingerprint reassembly are built as SQL ``expr`` STRINGS, not stacked
    Column operators. The expression tree is ~2000 nodes; building it one
    ``Column`` method at a time costs ~2000 Py4J round-trips of driver
    latency PER CALL (measured: 1.7 s → 0.78 s at sf0.1 for the identical
    plan). One string parse happens JVM-side; the optimized plan, codegen,
    and results are bit-identical."""
    if hash_family == "md5":
        hcol = F.shiftleft(
            F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("long"), 32
        ).bitwiseOR(F.conv(F.substring(F.md5("tok"), 9, 8), 16, 10).cast("long"))
    elif hash_family == "xxhash64":
        hcol = F.xxhash64("tok")
    else:
        raise ValueError(f"unknown hash_family {hash_family!r}")
    df = _spread(df)
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("tok"),
    ).withColumn("h", hcol)
    n_words = bits // 4
    # word w, lane l holds count of bit i = 4w + l. Per token the 4-bit
    # nibble x = (h >> 4w) & 0xF is spread into the four 16-bit lanes with
    # ONE multiply (SWAR): multiplier 1|1<<15|1<<30|1<<45 lands bit l at
    # position 16l (all 16 (bit, shift) landing positions are distinct, so
    # no carries), then the lane mask keeps exactly those 4 positions.
    # 4 expression nodes per word instead of ~15 — 4× smaller codegen, which
    # cuts both JIT warm-up and steady-state cost of the hot aggregate.
    spread = (1 << 0) | (1 << 15) | (1 << 30) | (1 << 45)
    lane_mask = 0x0001000100010001
    packed = [
        F.expr(f"sum(((shiftright(h, {w * 4}) & 15) * {spread}L) & {lane_mask}L)").alias(f"w{w}")
        for w in range(n_words)
    ]
    bit_sums = toks.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_tok"), *packed
    )
    # bit i of the fingerprint: 2*count_i > n_tok, shifted into place.
    # Disjoint bit positions: + == OR == XOR.
    terms = []
    for i in range(bits):
        w, l = i // 4, i % 4
        terms.append(
            f"shiftleft(cast((shiftright(w{w}, {16 * l}) & 65535) * 2 > n_tok as bigint), {i})"
        )
    return bit_sums.selectExpr("id", "(" + " + ".join(terms) + ") as simhash")


def simhash_near_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Near-dup pairs by SimHash: band the 64-bit fingerprint into 4×16-bit
    chunks (any pair within hamming<=3 shares at least one chunk exactly —
    pigeonhole), join on chunks, verify with popcount(xor).

    The fingerprint frame is persisted before the self-join: both join
    sides derive from it, and without the cache Spark computes the whole
    explode+aggregate simhash pipeline TWICE (self-joins don't reliably
    hit ReusedExchange). The cached frame is one (id, fingerprint) long
    per document — tiny at any scale (same pattern as the MinHash path's
    persisted signature frame)."""
    fps, _ = persist(simhash(df, id_col, text_col, hash_family=hash_family))
    chunked = fps.select(
        "id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("chunk"),
                        F.shiftright(F.col("simhash"), j * 16)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("val"),
                    )
                    for j in range(4)
                ]
            )
        ).alias("c"),
    ).select("id", "simhash", "c.chunk", "c.val")
    left = chunked.select("chunk", "val", F.col("id").alias("id_a"), F.col("simhash").alias("fp_a"))
    right = chunked.select("chunk", "val", F.col("id").alias("id_b"), F.col("simhash").alias("fp_b"))
    return (
        left.join(right, on=["chunk", "val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b"))).alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
        .orderBy("id_a", "id_b")
    )


# ---------------------------------------------------------------------------
# embedding-cosine near-dup
# ---------------------------------------------------------------------------


def embedding_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.4,
    round_digits: int = 6,
    max_rows: int = 200_000,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, cosine >= τ),
    exact. Executed as a broadcast matmul: the full embedding matrix is
    broadcast once, each Arrow batch of rows does one BLAS multiply against
    it (vectorized — no per-pair expression evaluation). Quadratic in
    comparisons, so this is the verification / small-set path;
    ``embedding_near_dup_lsh`` is the 100 TB path (bucketed candidates,
    never an all-pairs compare).

    The small-set contract is enforced, not advisory: more than
    ``max_rows`` input rows raises instead of collecting a cluster-sized
    corpus onto the driver (the guard is the ``limit(max_rows+1)`` on the
    collect itself, so driver memory stays bounded and no extra Spark job
    runs). Raise the ceiling explicitly if you really mean it."""
    import numpy as np
    import pandas as pd

    spark = df.sparkSession
    cand = (
        df.select(F.col(id_col), F.col(vec_col)).limit(max_rows + 1).toPandas()
    )
    if len(cand) > max_rows:
        raise ValueError(
            f"embedding_near_dup_pairs is the exact all-pairs verification "
            f"path and refuses > max_rows={max_rows} input rows; use "
            "embedding_near_dup_lsh for large corpora, or raise max_rows "
            "explicitly if the driver can really hold the matrix"
        )
    ids_all = cand.iloc[:, 0].to_numpy(dtype=np.int64)
    m_all = np.stack([np.asarray(v, dtype=np.float64) for v in cand.iloc[:, 1]])
    norm_all = np.sqrt((m_all * m_all).sum(axis=1))
    bc = spark.sparkContext.broadcast((ids_all, m_all, norm_all))

    def gen(batches):
        ids, m, mnorm = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            q = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["__vec"]])
            qn = np.sqrt((q * q).sum(axis=1))
            cos = np.round((q @ m.T) / np.outer(qn, mnorm), round_digits)
            qids = pdf["__id"].to_numpy(dtype=np.int64)
            # id_a < id_b canonical orientation: each row emits only pairs
            # with the larger partner id, so every pair appears exactly once
            hit = (cos >= threshold) & (ids[None, :] > qids[:, None])
            ai, bj = np.nonzero(hit)
            yield pd.DataFrame(
                {"id_a": qids[ai], "id_b": ids[bj], "cosine_sim": cos[ai, bj]}
            )

    base = _spread(df.select(F.col(id_col).alias("__id"), F.col(vec_col).alias("__vec")))
    return base.mapInPandas(
        gen, "id_a long, id_b long, cosine_sim double"
    ).orderBy("id_a", "id_b")


def embedding_near_dup_lsh(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.4,
    n_planes: int = 16,
    bands: int = 4,
    dim: int | None = None,
    seed: int = 42,
    multiprobe: bool = True,
) -> DataFrame:
    """Scale path for embedding near-dup: sign-LSH banding (reusing the
    similarity module's deterministic hyperplanes) generates candidates by
    an equi-join on (band, bucket); the exact cosine filter then verifies.
    Shuffle volume is O(N · bands · (r+1) with multiprobe), never O(N²).
    ``multiprobe`` probes Hamming-1 neighbor buckets from one side —
    recall rises like p^r → p^r + r·p^(r-1)(1-p) per band WITHOUT
    shrinking the bucket space (see similarity.lsh_topk)."""
    from .similarity import _dot, _norm, sign_lsh_candidates

    cands = (
        sign_lsh_candidates(
            df, id_col, vec_col, ("id_a", "va"), ("id_b", "vb"),
            n_planes, bands, dim, seed, multiprobe,
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "va", "id_b", "vb")
        .distinct()
    )
    sim = F.round(_dot(F.col("va"), F.col("vb")) / (_norm(F.col("va")) * _norm(F.col("vb"))), 6)
    return (
        cands.select("id_a", "id_b", sim.alias("cosine_sim"))
        .filter(F.col("cosine_sim") >= threshold)
        .orderBy("id_a", "id_b")
    )


# ---------------------------------------------------------------------------
# near-dup groups: connected components over a pair list + canonical pick
# ---------------------------------------------------------------------------


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Connected components over an undirected pair list → (id, group_id),
    group_id = min member id. The dedup-group primitive: d2/d3/d5 emit
    near-dup PAIRS; turning them into deletion groups needs components.

    Distributed min-label propagation (the Pregel/GraphX pattern without a
    graph library) with POINTER-JUMP DOUBLING: every node starts labeled
    with itself; each round (1) pushes labels across edges and keeps the
    per-node min, then (2) shortcuts label → label-of-label. Step (2) is
    the classic path-doubling trick — label chains halve every round, so
    convergence is O(log diameter) rounds instead of O(diameter); a
    100 TB pathological chain converges in ~40 joins, not ~10^6. Each
    round is two equi-joins + one groupBy (all on the node key — AQE
    reuses the partitioning); lineage is truncated with localCheckpoint
    every few rounds so long runs don't replay the whole chain. The
    driver-side loop is the standard iterative-algorithm pattern:
    per-round work is fully distributed, the driver only checks the
    converged flag (a 1-row count).

    Raises ``RuntimeError`` if not converged within ``max_iter`` rounds —
    silently returning partial labels would split real dup-groups and is a
    wrong answer, not a degraded one."""
    edges = pairs.select(F.col(id_a).alias("a"), F.col(id_b).alias("b"))
    sym, sym_owned = persist(edges.unionByName(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ))  # every round joins sym: without the persist each iteration
    # re-executes the ENTIRE upstream pair-generation pipeline (signatures,
    # banding, verification) — measured 140 s → 11 s for d7 at sf0.1
    #
    # Seeding FUSED with the first propagation round: sym is symmetric, so
    # every node appears as `b`, and least(a, b) folds the self-label in —
    # labels0 = min(self, neighbors) from ONE groupBy instead of a distinct
    # + a full propagation round (two shuffles saved off the critical path).
    labels = (
        sym.select(F.col("b").alias("id"), F.least("a", "b").alias("label"))
        .groupBy("id")
        .agg(F.min("label").alias("label"))
        .localCheckpoint(eager=True)
    )
    converged = False
    for it in range(max_iter):
        prop = sym.join(labels, sym["a"] == labels["id"]).select(
            F.col("b").alias("id"), F.col("label").alias("label")
        )
        # The previous label rides through the same aggregate (tagged union)
        # so convergence is a cheap filter on the materialized round — the
        # old per-round probe join (new⋈old on id) was a whole extra
        # shuffle that AQE couldn't elide.
        tagged = labels.select(
            "id", "label", F.lit(True).alias("__old")
        ).unionByName(prop.withColumn("__old", F.lit(False)))
        agg = tagged.groupBy("id").agg(
            F.min("label").alias("label"),
            F.min(F.when(F.col("__old"), F.col("label"))).alias("__prev"),
        )
        if it == 0:
            # No pointer jump in round 1: the fused seed already applied a
            # min-of-neighbors pass, so stars/cliques — the shape of real
            # near-dup groups — are converged HERE and the jump join would
            # be a wasted shuffle on the critical path. Chains start
            # jumping from round 2; the O(log diameter) bound just shifts
            # by one round.
            new_labels = agg
        else:
            # pointer jumping: label(id) := label(label(id)). Valid because
            # label(x) <= x always (min-propagation from self-label), so the
            # jump only ever lowers labels toward the component min.
            lab_of_lab = agg.select(
                F.col("id").alias("__lid"), F.col("label").alias("__llabel")
            )
            new_labels = agg.join(
                lab_of_lab, agg["label"] == lab_of_lab["__lid"], "left"
            ).select(
                "id",
                F.coalesce(F.col("__llabel"), F.col("label")).alias("label"),
                "__prev",
            )
        # eager localCheckpoint: fully materializes this round's labels AND
        # truncates lineage in one step. Without it each round re-executed
        # the entire upstream pair pipeline (lazy plans), and a lazy
        # checkpoint/partial persist left some partitions unmaterialized —
        # the convergence probe's limit(1).count() only computes a few
        # partitions, so downstream consumers silently recomputed the rest
        # through the full MinHash chain (d7: 140 s → ~15 s at sf0.1).
        new_labels = new_labels.localCheckpoint(eager=True)
        changed = (
            new_labels.filter(F.col("label") != F.col("__prev")).limit(1).count()
        )
        labels = new_labels.drop("__prev")
        if changed == 0:
            converged = True
            break
    if sym_owned:
        sym.unpersist()
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge within {max_iter} rounds; "
            "raise max_iter (labels would be silently wrong if returned)"
        )
    return labels.select(F.col("id"), F.col("label").alias("group_id"))


def canonical_per_group(
    df: DataFrame,
    groups: DataFrame,
    id_col: str,
    text_col: str,
    group_col: str = "group_id",
) -> DataFrame:
    """Pick the keeper per dup group: longest text, ties to the smallest id
    (the usual 'keep the most complete copy' dedup policy). One window over
    groups — group sizes are tiny, keys are many: perfectly parallel."""
    joined = groups.join(
        df.select(F.col(id_col).alias("id"), F.length(text_col).alias("__len")),
        on="id",
    )
    w = Window.partitionBy(group_col).orderBy(F.col("__len").desc(), F.col("id"))
    return (
        joined.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(F.col(group_col), F.col("id").alias("canonical_id"))
    )


# ---------------------------------------------------------------------------
# span-level (substring) dedup — Lee et al., "Deduplicating Training Data
# Makes Language Models Better": remove repeated token SPANS, not whole docs
# ---------------------------------------------------------------------------


def _span_intervals(df: DataFrame, id_col: str, text_col: str, n: int):
    """Front half of :func:`duplicated_span_stats`: tokenize, explode
    positional n-gram md5 prefixes, keep grams occurring >= 2 times
    corpus-wide, and merge touching/overlapping hits (pos == prev_end)
    into maximal intervals. Returns (toks, intervals) where toks = (id,
    __toks, n_tokens) and intervals = (id, __isl, s, e) with e
    exclusive."""
    toks = df.select(
        F.col(id_col).alias("id"),
        F.split(F.trim(F.col(text_col)), r"\s+").alias("__toks"),
    ).select("id", "__toks", F.size("__toks").alias("n_tokens"))
    grams = toks.filter(F.col("n_tokens") >= n).select(
        "id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.col("n_tokens") - n),
                lambda i: F.substring(
                    F.md5(F.concat_ws(" ", F.slice(F.col("__toks"), i + 1, n))), 1, 16
                ),
            )
        ).alias("pos", "g"),
    )
    # round-13 optimization: the positional-gram explode (tokenize +
    # per-window md5 — the dominant per-row CPU of the span family) feeds
    # BOTH the dup aggregate and the hit join below; without
    # materialization it computed twice per execution. One lazy
    # localCheckpoint makes it compute once (d10 2.69 → 1.78 s min-of-5
    # alternating A/B at sf0.1, identical output; the checkpoint lives
    # inside a single run). At scale the gram frame is O(total tokens) ×
    # ~28 B/row — the same order as the shuffle both consumers already
    # pay, and it spills to local disk like any shuffle write.
    grams = grams.localCheckpoint(eager=False)
    dup = (
        grams.groupBy("g")
        .agg(F.count(F.lit(1)).alias("__occ"))
        .filter(F.col("__occ") >= 2)
        .select("g")
    )
    hits = grams.join(dup, "g").select("id", "pos")
    w = Window.partitionBy("id").orderBy("pos")
    prev_end = F.max(F.col("pos") + n).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    intervals = (
        hits.withColumn(
            "__new", F.when(F.col("pos") > F.coalesce(prev_end, F.lit(-1)), 1).otherwise(0)
        )
        .withColumn(
            "__isl", F.sum("__new").over(w.rowsBetween(Window.unboundedPreceding, 0))
        )
        .groupBy("id", "__isl")
        .agg(F.min("pos").alias("s"), (F.max("pos") + n).alias("e"))
    )
    return toks, intervals


def duplicated_span_stats(
    df: DataFrame, id_col: str, text_col: str, n: int = 10
) -> DataFrame:
    """Span-level dedup statistics: for every document, find all length-``n``
    token windows whose exact content occurs >= 2 times ANYWHERE in the
    corpus (cross-doc boilerplate or within-doc repetition), merge the
    overlapping hits into maximal intervals, and report how much of the doc
    they cover. The word-level approximation of Lee et al.'s ExactSubstr —
    their suffix array is a single-node structure; positional n-grams +
    a gram-frequency join is the distributed shape of the same computation
    (reference scope: the dedup family in SURVEY.md §2; no counterpart in
    the reference pipeline — LLM-corpus extension).

    Policy: ALL occurrences of a duplicated span are flagged (including the
    'first' — electing one global keeper per span would serialize on a
    global order; Lee et al. note the choice barely moves the corpus).
    Docs shorter than ``n`` tokens contribute no windows and are untouched.
    Touching intervals (pos == prev_end) merge, so span counts are
    deterministic and removed-token counts are unaffected.

    Scale shape: the positional-gram explode is O(total tokens) rows — the
    inherent cost of substring-level comparison. Grams ship as their
    16-hex-char md5 prefix (64 bits), not the ~n·6-byte text, so the
    groupBy(gram) shuffle carries ~16 B/row; the corpus frequency pass is
    a partial-agg groupBy (Zipf head absorbed map-side), the hit join is
    an equi-join on the hash (AQE skew-split applies), and the interval
    merge is a per-doc window (rows per doc <= doc length). A 2^-64 hash
    collision merges two unrelated spans — same accepted convention as the
    md5 content fingerprints in exact_duplicate_groups.

    Output: (id, n_tokens, n_spans, n_removed_tokens, kept_frac) for EVERY
    input doc (zeros when clean); integer counts + one IEEE division, so
    engine-exact and oracle-checkable."""
    toks, intervals = _span_intervals(df, id_col, text_col, n)
    islands = (
        intervals.groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(F.col("e") - F.col("s")).alias("n_removed_tokens"),
        )
    )
    return (
        toks.select("id", "n_tokens")
        .join(islands, "id", "left")
        .select(
            F.col("id").alias(id_col),
            "n_tokens",
            F.coalesce("n_spans", F.lit(0)).cast("long").alias("n_spans"),
            F.coalesce("n_removed_tokens", F.lit(0))
            .cast("long")
            .alias("n_removed_tokens"),
            (
                (F.col("n_tokens") - F.coalesce("n_removed_tokens", F.lit(0)))
                / F.col("n_tokens")
            ).alias("kept_frac"),
        )
    )


# Vocab ordinals for prefix_filter_jaccard_pairs are assigned DRIVER-SIDE
# when the counted vocab is at most this many rows (a vocab table is not
# data — guide §5): one bounded collect replaces global_ordinal's
# count+sketch job, bucket-count aggregate and rank window. Python's
# (df, token) tuple sort equals Spark's (df_t asc, token asc) order (UTF-8
# byte order preserves codepoint order), so the mapping is identical to
# global_ordinal's; above the bound the distributed bucketed rank runs.
# Together with INT token ids and the single tokenize pass: d16 at sf0.1
# 4.29 -> 4.06-4.13 s (min over cold reps, alternating in one session).
_PF_DRIVER_VOCAB_ROWS: int = 65536


def prefix_filter_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold_x100: int = 60,
    ngram: int = 1,
) -> DataFrame:
    """EXACT Jaccard-threshold similarity join via PREFIX FILTERING
    (Chaudhuri/Ganti/Kaushik 2006; the SSJoin/PPJoin candidate rule) —
    the lossless alternative to MinHash-LSH banding (d3): candidates are
    generated, never sampled, so there are NO false negatives by
    construction, not with high probability.

    Rule: order each doc's distinct word tokens by GLOBAL rarity
    (document frequency asc, token asc — one tiny vocab aggregate,
    broadcast back). For Jaccard ≥ t, any qualifying pair must share a
    token inside BOTH docs' prefixes of length |x| − ⌈t·|x|⌉ + 1
    (pigeonhole on the smallest shared token in the global order), so
    joining exploded prefix tokens catches every pair; an exact integer
    verification (100·|A∩B| ≥ t_x100·|A∪B| — no float decides) keeps
    only true matches. Rarest-first ordering makes prefix tokens the
    LOW-df ones, so the token join fans out minimally — the same reason
    the algorithm scales: candidate count is Σ_token df_prefix(token)²
    over rare tokens, not |docs|².

    Output (id_a < id_b): intersection/union sizes + the ratio (single
    IEEE division). Engine-exact; the DuckDB oracle is the PLAIN
    quadratic join — algorithm differs, result is pinned identical.
    Prefix length uses integer arithmetic only: ⌈t·n⌉ =
    (t_x100·n + 99) div 100.

    The vocabulary is DICTIONARY-ENCODED before anything touches pairs:
    global_ordinal (the bucketed-rank primitive — no global window)
    assigns each token a dense id in (df asc, token asc) order (INT when
    the counted vocab fits 2^31 rows, else BIGINT — guide §2.3),
    so array_sort(collect_list(tid)) alone yields the rarest-first doc
    representation, candidate rows ship ints, and the per-pair
    verification intersects INT arrays instead of n-gram strings
    (measured 12.9 -> 5.5 s at sf0.1: string hashing in 1M
    array_intersect calls dominated). The two frames read more than
    once (vocab, ranked docs) are localCheckpointed — the explicit form
    of the 'persist the ranked frame' note, dictionary-sized and
    doc-sized respectively."""
    if not 1 <= threshold_x100 <= 100:
        raise ValueError("threshold_x100 must be in [1, 100]")
    if ngram < 1:
        raise ValueError("ngram must be >= 1")
    # The tokenization is BOUND to a real column before any higher-order
    # lambda touches it (the repo rule of text.word_ngrams_from_tokens:
    # Catalyst does not hoist subexpressions through HOF lambdas, so a raw
    # split() inlined into the gram transform re-runs once per gram —
    # O(words²) regex splits per document). Multi-use of a non-trivial
    # aliased expression keeps CollapseProject from re-inlining it.
    staged = _spread(df).select(
        F.col(id_col).alias("doc"),
        F.split(F.trim(F.col(text_col)), r"\s+").alias("__w"),
    )
    w = F.col("__w")
    if ngram == 1:
        gram_expr = F.array_distinct(w)
    else:
        # w-shingling (Broder 1997): tokens are the distinct sliding word
        # n-grams. On corpora whose WORD vocabulary is tiny (so every doc
        # contains almost every word and word-level Jaccard saturates),
        # n-grams restore the rarity the prefix filter prunes on —
        # vocab grows ~|V|^n while per-doc token count stays ~|doc|.
        # (Short-doc convention differs from word_ngrams_from_tokens —
        # docs shorter than n yield NO grams, not a whole-doc gram — so
        # the CASE is kept rather than reusing that helper.)
        gram_expr = F.array_distinct(
            F.when(F.size(w) < ngram, F.array().cast("array<string>")).otherwise(
                F.transform(
                    F.sequence(F.lit(1), F.size(w) - (ngram - 1)),
                    lambda i: F.concat_ws(" ", F.slice(w, i, ngram)),
                )
            )
        )
    toks = staged.select(
        "doc",
        F.explode(gram_expr).alias("token"),
    )
    from .ordinal import count_and_boundaries, global_ordinal

    # one tokenize+explode pass instead of two (dfreq + ranked both
    # consume toks) at the cost of materializing |corpus-token| rows of
    # (doc, token-string): 4.74 -> 4.44 s at sf0.1, alternating in one
    # session; at scale the saved work is a full corpus tokenize+shingle
    toks = toks.localCheckpoint(eager=False)
    dfreq = (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("df_t"))
        .localCheckpoint(eager=False)
    )
    # count + boundary sketch fused into ONE aggregate job
    # (ordinal.count_and_boundaries): the vocab row count decides the tid
    # WIDTH — a dense ordinal over n_vocab rows fits an int iff
    # n_vocab < 2^31, and the stoks arrays built from tids are the payload
    # of every verify-side shuffle, so halving the element width halves those
    # exchange bytes (guide §2.3 "narrower types", provably safe here
    # because the bound is checked, not assumed). At a corpus whose
    # n-gram vocabulary exceeds 2^31 the cast silently stays long.
    # One bounded probe decides the vocab regime: collect at most
    # bound+1 rows — when the whole vocab came back, the driver path
    # already HAS it (no count job, no sketch job); otherwise fall back
    # to the distributed bucketed rank with the fused count+sketch.
    vrows = dfreq.limit(_PF_DRIVER_VOCAB_ROWS + 1).collect()
    if len(vrows) <= _PF_DRIVER_VOCAB_ROWS:
        # vocab fits the driver bound: sort + enumerate locally and ship
        # the mapping as a LocalRelation — same (df_t asc, token asc)
        # ordinal as global_ordinal, without its bucket-count aggregate
        # and rank window in the broadcast build subtree
        vrows.sort(key=lambda r: (r["df_t"], r["token"]))
        vocab_ids = local_frame(
            df.sparkSession,
            [(r["token"], i) for i, r in enumerate(vrows)],
            "token string, tid int",
        )
    else:
        n_vocab, vocab_bnds = count_and_boundaries(dfreq, "df_t")
        tid_type = "int" if n_vocab <= 2**31 - 1 else "long"
        vocab_ids = global_ordinal(
            dfreq, "df_t", "token", out_col="tid", boundaries=vocab_bnds
        ).select("token", F.col("tid").cast(tid_type).alias("tid"))
    ranked = (
        toks.join(F.broadcast(vocab_ids), "token")
        .groupBy("doc")
        .agg(F.array_sort(F.collect_list("tid")).alias("stoks"))
        .select("doc", "stoks", F.size("stoks").cast("long").alias("sz"))
        .localCheckpoint(eager=False)
    )
    p_len = (
        F.col("sz")
        - F.expr(f"({threshold_x100} * sz + 99) div 100")
        + F.lit(1)
    )
    # candidate generation ships ONLY (id, size, token-id) rows — the
    # token arrays stay out of the fan-out join and its dedup shuffle (a
    # 6M-row candidate shuffle carrying two ~50-element string arrays
    # per row was the dominant cost of the first cut: 31 s at sf0.1 on
    # the bench session). The size-ratio filter is a lossless per-row
    # prune before the distinct: J >= t forces t·|B| <= |A| <= |B|/t.
    # (The PPJoin positional bound was measured and REMOVED: on this
    # corpus it pruned almost nothing while posexplode + two extra join
    # columns cost ~1.7 s — 7.2 vs 5.5 s.)
    prefixes = ranked.select(
        "doc",
        "sz",
        F.explode(F.slice(F.col("stoks"), 1, p_len.cast("int"))).alias("ptok"),
    )
    a = prefixes.select(F.col("doc").alias("id_a"), F.col("sz").alias("pa"), "ptok")
    b = prefixes.select(F.col("doc").alias("id_b"), F.col("sz").alias("pb"), "ptok")
    # The candidate self-join stays planner-default (sort-merge): a hash
    # build side would be the exploded prefix frame keyed by token id — a
    # skewable key at scale — and hinting it shuffled-hash too measured no
    # gain over hinting the verify joins alone (5.30/4.91 s vs 5.62/4.77 s
    # at sf0.1, two alternating A/Bs: within host scatter).
    # The dedup below keeps the planner's own shape too: map-side partial
    # dedup, then one exchange per verify key. Repartitioning the raw pairs
    # by id_a first (to reuse that exchange for the id_a verify join) drops
    # the partial aggregate, so the exchange carries ~1.26x raw rows and
    # measured slower: 7.48 vs 6.86 s at sf0.1, min of 5 alternating.
    cand_ids = (
        a.join(b, "ptok")
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (F.lit(100) * F.col("pa") >= F.lit(threshold_x100) * F.col("pb"))
            & (F.lit(100) * F.col("pb") >= F.lit(threshold_x100) * F.col("pa"))
        )
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    # verification joins the (|docs|-row) ranked frame back per side as a
    # SHUFFLED-HASH join (guide §3): the build side is keyed by the unique
    # doc id — a uniform hash key, so per-partition build bytes stay
    # |ranked|/numPartitions — and the stream side feeds a filter, not
    # another merge, so sort-merge would sort the candidate frame twice
    # (the second sort carries two token arrays per row) for nothing:
    # 6.76/5.67 s sort-merge vs 5.62/4.77 s shuffled-hash at sf0.1, two
    # alternating A/Bs. Two ~12 MB broadcast builds lost to the narrow-row
    # shuffle.
    r_a = ranked.select(
        F.col("doc").alias("id_a"),
        F.col("stoks").alias("toks_a"),
        F.col("sz").alias("sz_a"),
    ).hint("shuffle_hash")
    r_b = ranked.select(
        F.col("doc").alias("id_b"),
        F.col("stoks").alias("toks_b"),
        F.col("sz").alias("sz_b"),
    ).hint("shuffle_hash")
    cand = cand_ids.join(r_a, "id_a").join(r_b, "id_b")
    inter = F.size(F.array_intersect("toks_a", "toks_b")).cast("long")
    verified = cand.select(
        "id_a",
        "id_b",
        inter.alias("inter"),
        (F.col("sz_a") + F.col("sz_b") - inter).alias("union_sz"),
    ).filter(F.lit(100) * F.col("inter") >= F.lit(threshold_x100) * F.col("union_sz"))
    return verified.select(
        "id_a",
        "id_b",
        "inter",
        "union_sz",
        (F.col("inter").cast("double") / F.col("union_sz").cast("double")).alias(
            "jaccard"
        ),
    ).orderBy("id_a", "id_b")


def tile_dedup_rewrite(
    df: DataFrame, id_col: str, text_col: str, tile_words: int = 8
) -> DataFrame:
    """Exact-substring dedup at fixed tile granularity, WITH document
    rewrite — the Spark-shaped sibling of suffix-array exact-substring
    dedup (Lee et al. "Deduplicating Training Data Makes Language Models
    Better"; MassiveText/RefinedWeb run the same family): each document
    splits into consecutive NON-overlapping ``tile_words``-token tiles,
    every distinct tile keeps only its FIRST corpus occurrence (ordered
    by (doc_id, tile_idx) — deterministic, partition-independent), and
    each document is reassembled from its surviving tiles in original
    order. Dedup applies WITHIN documents as well as across them (a
    tile repeated inside one document keeps only its first copy — same
    rule, no special case). Unlike d10's span STATS (positional grams,
    overlap-aware detection), this is the destructive rewrite step a
    curation pipeline actually applies before training.

    Output: (doc_id, n_tiles_kept, rewritten_text), one row per document
    that keeps >= 1 tile (a document whose every tile already occurred
    earlier in corpus order disappears — by construction the earliest
    holder of each tile survives, so the corpus never loses a tile's
    last copy).

    Scale shape: tiles are built ROW-LOCALLY (transform over a sequence,
    slice + concat_ws — no token explode), so the only row growth is the
    bounded n_tokens/tile_words tile fan-out. One shuffle partitions by
    tile_text for the keep-first window; a boilerplate tile duplicated
    10^9 times is NOT a hot-key hazard because Spark pushes the rank-1
    limit below the exchange (WindowGroupLimit, counted for d17 in
    plans/SHAPES.json):
    each map partition forwards at most ONE row per tile, so the
    reducer-side hot tile sees <= #map-partitions rows regardless of
    duplication. One groupBy(doc) then reassembles via
    array_sort(collect_list(struct)) — tile_idx is unique per doc, so
    the sort is total and the rebuild deterministic. Both shuffles are
    on high-cardinality keys; nothing global, no driver state. DuckDB
    replays it exactly (string + integer ops only), so the query form is
    fully oracled."""
    tw = int(tile_words)
    if tw < 1:
        raise ValueError("tile_words must be >= 1")
    staged = df.select(
        F.col(id_col).alias("doc_id"),
        F.split(F.trim(F.col(text_col)), r"\s+").alias("__toks"),
    )
    # integer ceiling division (house discipline — no float on the path)
    n_tiles = F.expr(f"CAST((size(__toks) + {tw - 1}) div {tw} AS INT)")
    tile_structs = F.transform(
        F.sequence(F.lit(0), n_tiles - 1),
        lambda i: F.struct(
            i.cast("int").alias("tile_idx"),
            F.concat_ws(
                " ", F.slice(F.col("__toks"), i * tw + 1, tw)
            ).alias("tile_text"),
        ),
    )
    ex = staged.select(
        "doc_id", F.explode(tile_structs).alias("t")
    ).select("doc_id", F.col("t.tile_idx").alias("tile_idx"), F.col("t.tile_text").alias("tile_text"))
    w = Window.partitionBy("tile_text").orderBy("doc_id", "tile_idx")
    kept = ex.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1)
    rebuilt = F.concat_ws(
        " ",
        F.transform(
            F.array_sort(F.collect_list(F.struct("tile_idx", "tile_text"))),
            lambda s: s.tile_text,
        ),
    )
    return kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_tiles_kept"),
        rebuilt.alias("rewritten_text"),
    )
