"""Dataset split operators (reference §2.6: T1-T6, J2, A1).

Reference citations (relative to /root/reference/):
- T1 stratified random split  src/feature/utils/prep.py:148-224
- T2 time-based split         src/feature/utils/prep.py:227-305
- T3 orchestration + checks   src/feature/utils/prep.py:52-145
- J2 overlap (semi-join)      src/feature/utils/prep.py:112-133
- A1 class distribution       src/feature/utils/prep.py:135-145

Scale design: the stratified split is ONE window pass (shuffle on the label
column — tiny cardinality, so AQE coalesces), not a per-class loop. The
deterministic variant keys on a multiplicative hash of the PK so the split is
reproducible across engines and cluster sizes (no dependence on partition
layout), which is what makes it both test-stable and oracle-checkable.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from ..materialize import checkpoint_at_scale, persist
from ..sources.io import local_frame

# Knuth multiplicative hash; exact in int64 for keys < ~3.5e9, and computable
# identically by any SQL engine (pure integer arithmetic).
_HASH_MULT = 2654435761
_HASH_MOD = 1000000007


def uniform_draw(key_col, salt: str):
    """The module's ONE md5 uniform draw: u(key) = first-48-md5-bits of
    ``salt|key`` / 2^48 ∈ [0, 1). Every sampler below (and the oracles
    that replay them as ``('0x' || substr(md5(...), 1, 12))::BIGINT /
    281474976710656.0``) must share THIS definition — a drifted copy
    (different substring width, divisor, or salt join) silently breaks
    engine parity for just that sampler. concat_ws folds a NULL key to the
    bare salt, so null-keyed rows share one deterministic draw."""
    key = key_col if not isinstance(key_col, str) else F.col(key_col)
    return (
        F.conv(
            F.substring(
                F.md5(F.concat_ws("|", F.lit(salt), key.cast("string"))),
                1,
                12,
            ),
            16,
            10,
        ).cast("double")
        / F.lit(float(1 << 48))
    )


def deterministic_key(pk_col: str):
    """Pseudo-random but engine-independent ordering key derived from the PK."""
    return (F.col(pk_col).cast("long") * F.lit(_HASH_MULT)) % F.lit(_HASH_MOD)


def _check_stratify_args(df: DataFrame, class_col: str, train_size: float) -> None:
    """The reference's argument checks (prep.py:165-180); no Spark job."""
    if not 0.0 < train_size < 1.0:
        raise ValueError(f"train_size must be in (0, 1), got {train_size}")
    if class_col not in df.columns:
        raise ValueError(f"class column {class_col!r} not in DataFrame")


def _check_class_stats(class_col: str, nulls: int, k: int) -> None:
    """The reference's label checks (prep.py:181-192) over already-computed
    stats: ``nulls`` null labels, ``k`` distinct non-null classes."""
    if nulls:
        raise ValueError(f"{nulls} null labels in {class_col!r}")
    if k < 2:
        raise ValueError(f"need >=2 classes in {class_col!r}, found {k}")


def _validate_stratify(df: DataFrame, class_col: str, train_size: float) -> None:
    """Mirror the reference's ValueError contract (prep.py:165-192)."""
    _check_stratify_args(df, class_col, train_size)
    stats = df.agg(
        F.countDistinct(class_col).alias("k"),
        F.sum(F.col(class_col).isNull().cast("long")).alias("nulls"),
    ).collect()[0]
    _check_class_stats(class_col, stats["nulls"], stats["k"])


def _bucketed_rank(df: DataFrame, class_col: str, pk_col: str):
    """The SHARED per-class bucketed rank: hash key -> high-bit bucket
    (order-preserving, ~15k buckets) -> row_number within (class, bucket)
    -> per-bucket offsets from the tiny count frame. Global per-class
    rank of a row = __off + __r_in. stratified_split_column and
    carve_assignment both consume THIS helper — their fused-equals-
    chained row-identity guarantee requires one rank implementation,
    not two copies that could drift (round-7 review finding).

    Returns (ranked rows with __k/__b/__r_in, counts (class,__b,__cnt),
    offsets (class,__b,__off))."""
    keyed = df.withColumn("__k", deterministic_key(pk_col)).withColumn(
        "__b", F.shiftright(F.col("__k"), 16)
    )
    w_in = Window.partitionBy(class_col, "__b").orderBy("__k", pk_col)
    ranked = keyed.withColumn("__r_in", F.row_number().over(w_in))
    # counts is BOUNDED (|classes| x ~15k hash buckets) and consumed by
    # the offsets window AND every caller's per-class total — without a
    # checkpoint each reference re-derives the full input aggregate
    # (r14 census: t1 carried 3 input scans, j2 six). Scale-conditional
    # via the derived a18 decision: at sf0.1 the checkpoint's job
    # barrier loses to re-scanning a tiny parquet (measured t1
    # 1.25 -> 1.65 s unconditional), on a cluster each re-derivation is
    # a full distributed scan+window. ranked itself is data-sized and
    # deliberately NOT materialized (re-scan beats a full-data
    # checkpoint; house rule from temperature_sample).
    counts = checkpoint_at_scale(
        ranked.groupBy(class_col, "__b").agg(F.count(F.lit(1)).alias("__cnt")), df
    )
    w_off = (
        Window.partitionBy(class_col)
        .orderBy("__b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.withColumn(
        "__off", F.coalesce(F.sum("__cnt").over(w_off), F.lit(0))
    ).select(class_col, "__b", "__cnt", "__off")
    return ranked, counts, offsets


def stratified_split_column(
    df: DataFrame,
    class_col: str,
    pk_col: str,
    train_size: float = 0.8,
    split_col: str = "split",
) -> DataFrame:
    """T1 (deterministic form): add a 'train'/'test' column preserving class
    ratios exactly. Per-class percent_rank over the hashed PK gives exact
    per-class fractions — sklearn ``stratify=y`` semantics — deterministic
    for any partitioning/cluster size.

    Computed WITHOUT a one-partition-per-class window: rows bucket by the
    high bits of the hash key (order-preserving ranges: the key is in
    [0, 1e9+7), so ``>> 16`` yields ~15k ordered buckets), rank within
    (class, bucket) — thousands of distributed partitions per class — and
    per-bucket offsets come from the tiny (class × bucket) count frame.
    percent_rank = (global rank − 1)/(n_class − 1) in closed form,
    identical to the former single-window percent_rank (the PK tie-break
    makes rank ≡ row_number)."""
    _validate_stratify(df, class_col, train_size)
    ranked, counts, offsets = _bucketed_rank(df, class_col, pk_col)
    meta = offsets.join(
        counts.groupBy(class_col).agg(F.sum("__cnt").alias("__n")), class_col
    ).select(class_col, "__b", "__off", "__n")
    out = ranked.join(meta, on=[class_col, "__b"])
    pr = F.when(
        F.col("__n") > 1,
        (F.col("__off") + F.col("__r_in") - 1) / (F.col("__n") - 1),
    ).otherwise(F.lit(0.0))
    return out.withColumn(
        split_col,
        F.when(pr < F.lit(train_size), F.lit("train")).otherwise(F.lit("test")),
    ).select(*df.columns, split_col)


def stratified_split(
    df: DataFrame, class_col: str, pk_col: str, train_size: float = 0.8
) -> tuple[DataFrame, DataFrame]:
    """T1: materialized (train, test) pair."""
    tagged = stratified_split_column(df, class_col, pk_col, train_size)
    return (
        tagged.filter(F.col("split") == "train").drop("split"),
        tagged.filter(F.col("split") == "test").drop("split"),
    )


def time_split(
    df: DataFrame, ts_col: str, cutoff
) -> tuple[DataFrame, DataFrame]:
    """T2: rows < cutoff → train, >= cutoff → test. Validation aggregations
    mirror prep.py:249-274; the filters push down to the parquet scan
    (row-group pruning), so at 100 TB each side reads only its time range."""
    if ts_col not in df.columns:
        # distinct message for the missing-column branch — the reference
        # separates "doesn't exist" from "must be in datetime format"
        # (tests/test_feature/test_data_splitter.py:167-177)
        raise ValueError(f"{ts_col!r} doesn't exist in dataset")
    if dict(df.dtypes).get(ts_col) not in ("timestamp", "date", "timestamp_ntz"):
        raise ValueError(f"{ts_col!r} is not a timestamp/date column")
    stats = df.agg(
        F.min(ts_col).alias("lo"),
        F.max(ts_col).alias("hi"),
        F.sum(F.col(ts_col).isNull().cast("long")).alias("nulls"),
    ).collect()[0]
    if stats["nulls"]:
        raise ValueError(f"{stats['nulls']} null timestamps in {ts_col!r}")
    cutoff_lit = F.lit(cutoff).cast("timestamp")
    if not (stats["lo"] is not None and str(stats["lo"]) <= str(cutoff) <= str(stats["hi"])):
        raise ValueError(f"cutoff {cutoff} outside [{stats['lo']}, {stats['hi']}]")
    return df.filter(F.col(ts_col) < cutoff_lit), df.filter(F.col(ts_col) >= cutoff_lit)


def check_no_overlap(left: DataFrame, right: DataFrame, pk_cols: Sequence[str]) -> int:
    """J2: PK overlap between two splits as a left-semi join count. Raise-free;
    callers assert == 0. Broadcast kicks in automatically when one side is
    small; otherwise a shuffled semi-join — never a full materialized join."""
    return left.join(right, on=list(pk_cols), how="left_semi").count()


def validate_disjoint(splits: dict[str, DataFrame], pk_cols: Sequence[str]) -> None:
    """T3's disjointness discipline over any number of splits."""
    names = list(splits)
    for i, a in enumerate(names):
        for b in names[i + 1 :]:
            n = check_no_overlap(splits[a], splits[b], pk_cols)
            if n:
                raise ValueError(f"splits {a!r} and {b!r} overlap on {n} keys")


def class_distribution(df: DataFrame, class_col: str) -> DataFrame:
    """A1: per-class count + share of total, via a window sum (no second scan)."""
    counts = df.groupBy(class_col).agg(F.count(F.lit(1)).alias("n"))
    total = Window.partitionBy()
    return counts.select(
        class_col,
        "n",
        (F.col("n") / F.sum("n").over(total)).alias("fraction"),
    ).orderBy(class_col)


def train_valid_calib_test(
    df: DataFrame,
    class_col: str,
    pk_col: str,
    train_size: float = 0.8,
    valid_size: float = 0.8,
    calib_size: float = 0.8,
) -> dict[str, DataFrame]:
    """T3+T5+T6: the reference's full 4-way carve — dev→(train,test), then
    train→(train,valid), then train→(train,calib). Disjoint and exhaustive
    by construction; each frame has exactly ``df``'s columns.

    Built on :func:`carve_assignment` (one rank pass, row-identical to the
    three chained :func:`stratified_split` carves) and PERSISTED once at
    the default storage level: the four frames are filters over that one
    cached relation. A reference flow runs >= 10 actions on them (the
    estimator fits, the metric and threshold actions, the test-split
    write), and without the cache each would re-run the broadcast joins
    and the rank windows over the input. The persist is fault tolerant (a
    lost block recomputes from lineage, unlike a localCheckpoint); the
    cache lives until ``spark.catalog.clearCache()`` releases it.

    Evaluates the input plan more than once before the cache fills (the
    bounded count collect, then the assignment pass): a nondeterministic
    upstream must be persisted first; see carve_assignment."""
    assigned, _ = persist(carve_assignment(
        df, class_col, pk_col, train_size, valid_size, calib_size, "__subset"
    ))
    return {
        name: assigned.filter(F.col("__subset") == name).drop("__subset")
        for name in ("train", "validation", "calibration", "test")
    }


def _kept_count(m: int, frac: float) -> int:
    """Number of rows a stratified carve keeps from a class of size ``m``:
    #{r in [1..m] : (r-1)/(m-1) < frac}, replaying the operator's EXACT
    IEEE-double comparison (not a closed form — (r-1)/(m-1) can round
    across frac at the boundary). Monotone in r, so only the ~5-candidate
    neighborhood of frac*(m-1) needs the float check; property-tested
    against the O(m) brute force in tests/test_properties.py."""
    if m <= 1:
        return m  # a single row has pr 0.0 < frac
    start = max(1, int(frac * (m - 1)) - 2)
    c = start - 1
    for r in range(start, m + 1):
        if (r - 1) / (m - 1) < frac:
            c = r
        else:
            break
    return c


def carve_assignment(
    df: DataFrame,
    class_col: str,
    pk_col: str,
    train_size: float = 0.8,
    valid_size: float = 0.8,
    calib_size: float = 0.8,
    subset_col: str = "subset",
) -> DataFrame:
    """The full 4-way carve of :func:`train_valid_calib_test` as ONE
    assignment column in ONE rank pass. Key insight: every chained
    carve filters on ``percent_rank < frac`` under the SAME per-class
    (hash-key, pk) order, and filtering preserves that order — so each
    carve keeps a PREFIX of the class's ranked sequence, and the whole
    chain reduces to three integer rank cutoffs per class:
    subset = train if rank <= c3, calibration if <= c2, validation if
    <= c1, else test, with c1 = kept(n), c2 = kept(c1), c3 = kept(c2).

    kept(m) replays stratified_split's EXACT float comparison
    ``(r-1)/(m-1) < frac`` (IEEE double division, same result on driver
    and executor) over the 5-candidate neighborhood of the boundary, so
    the fused assignment is row-identical to three chained
    :func:`stratified_split` calls — pinned by
    tests/test_split.py::test_carve_assignment_matches_chain.

    Scale shape: one bucketed rank (the stratified_split machinery: rank
    within (class, high-bit bucket) + offsets from the tiny count frame
    — no one-partition-per-class window) + a BROADCAST of the per-class
    cutoff table (|classes| rows). Three chained stratified_split calls
    nest three rank passes, each with its own validation and count jobs,
    and an action on the innermost leaf runs all of them (~9 window
    passes + 4 scans); this is 1 pass, measured 3.6 -> ~1 s at sf0.1.
    The label checks (nulls, >= 2 classes) read the same collected
    counts, so validation costs no pass of its own.

    Evaluates the input plan twice (the count collect, then every action
    on the result) — nondeterministic upstreams must be persisted first;
    see the multi-evaluation caveat on global_ordinal."""
    kept = _kept_count
    for frac, label in (
        (train_size, "train_size"),
        (valid_size, "valid_size"),
        (calib_size, "calib_size"),
    ):
        if not 0.0 < frac < 1.0:
            raise ValueError(f"{label} must be in (0, 1), got {frac}")
    _check_stratify_args(df, class_col, train_size)

    ranked, counts, _offsets = _bucketed_rank(df, class_col, pk_col)
    # ONE bounded driver fold: collect the (class x bucket) COUNT frame
    # (<= |classes| * ~15k rows) and derive BOTH the per-class totals and
    # the per-bucket offsets from it in Python. Collecting totals with a
    # separate aggregation — and joining the lazily-derived offsets frame
    # — would each rescan the fact table (the offsets branch re-executed
    # inside the final job; round-7 review finding): this way the final
    # assignment plan scans df exactly once and joins two small
    # local_frame broadcasts (Arrow LocalRelations: no Python worker runs).
    count_rows = counts.collect()
    totals: dict = {}
    for r in count_rows:
        totals[r[class_col]] = totals.get(r[class_col], 0) + r["__cnt"]
    # label checks from the same counts: the None group holds the null
    # labels, and k counts the non-null classes as countDistinct would
    _check_class_stats(
        class_col, totals.get(None, 0), len(totals) - (None in totals)
    )
    off_rows = []
    by_class: dict = {}
    for r in sorted(count_rows, key=lambda r: (str(r[class_col]), r["__b"])):
        off = by_class.get(r[class_col], 0)
        off_rows.append((r[class_col], r["__b"], off))
        by_class[r[class_col]] = off + r["__cnt"]
    cut_rows = []
    for cls, n in totals.items():
        c1 = kept(n, train_size)
        c2 = kept(c1, valid_size)
        c3 = kept(c2, calib_size)
        cut_rows.append((cls, c1, c2, c3))
    spark = df.sparkSession

    def schema(*longs: str) -> StructType:
        # explicit, not inferred: inference walks every row in Python, and
        # the class field keeps the input's type so the joins are type-exact
        cls = StructField(class_col, df.schema[class_col].dataType)
        return StructType([cls] + [StructField(c, LongType()) for c in longs])

    offsets = local_frame(spark, off_rows, schema("__b", "__off"))
    cuts = local_frame(spark, cut_rows, schema("__c1", "__c2", "__c3"))
    rank = F.col("__off") + F.col("__r_in")
    subset = (
        F.when(rank <= F.col("__c3"), F.lit("train"))
        .when(rank <= F.col("__c2"), F.lit("calibration"))
        .when(rank <= F.col("__c1"), F.lit("validation"))
        .otherwise(F.lit("test"))
    )
    return (
        ranked.join(F.broadcast(offsets), on=[class_col, "__b"])
        .join(F.broadcast(cuts), on=class_col)
        .withColumn(subset_col, subset)
        .select(*df.columns, subset_col)
    )


def deterministic_sample(
    df: DataFrame,
    pk_col: str,
    fraction_hex2: str = "19",
    strata_col: str | None = None,
) -> DataFrame:
    """Reproducible subsampling for training-data pipelines: keep rows whose
    md5(pk) starts below a hex cutoff — ``fraction_hex2='19'`` keeps
    ~0x19/0x100 ≈ 9.8% of rows, identically on ANY engine, cluster size, or
    run (unlike ``sample()``/``sampleBy()``, whose rand() draws are
    partitioning-dependent). A narrow filter: no shuffle, no state; with
    ``strata_col`` the same cutoff applies within each stratum, giving a
    per-stratum expected fraction (exact determinism, approximate ratio —
    use :func:`stratified_split_column` when the ratio must be exact).

    md5 (not xxhash64) so relational oracles can replicate the predicate:
    every SQL engine ships md5; the first two hex chars compare
    lexicographically as the top 8 bits of a uniform hash."""
    key = F.md5(
        F.concat_ws(
            "|",
            F.col(pk_col).cast("string"),
            *( [F.col(strata_col).cast("string")] if strata_col else [] ),
        )
    )
    return df.filter(F.substring(key, 1, 2) < F.lit(fraction_hex2))


def kfold_assign(df: DataFrame, pk_col: str, k: int = 5) -> DataFrame:
    """Deterministic k-fold cross-validation assignment: fold =
    first-32-bits-of-md5(pk) mod k, appended as a ``fold`` column. Like
    :func:`deterministic_sample`, this is engine/partitioning/run
    independent (a narrow projection — no shuffle, no rand()), so CV folds
    are reproducible across retrains and replicable by any SQL engine
    (``('0x' || substr(md5(pk), 1, 8))::BIGINT % k``). Mod bias over 2^32
    values is O(k/2^32) — immaterial for any real k.

    Folds are hash-uniform, not exactly-equal-sized; use
    :func:`stratified_split_column` when exact per-class counts matter."""
    if k < 2:
        raise ValueError("k must be >= 2")
    h32 = F.conv(F.substring(F.md5(F.col(pk_col).cast("string")), 1, 8), 16, 10)
    return df.withColumn("fold", (h32.cast("long") % k).cast("int"))


def weighted_deterministic_sample(
    df: DataFrame, pk_col: str, weight_col, salt: str = "w1"
) -> DataFrame:
    """Per-row weighted Bernoulli sampling, deterministically: keep a row
    iff u(pk) < weight, where u(pk) = first-48-md5-bits / 2^48 is a fixed
    uniform draw per key. The importance-sampling primitive for corpus
    mixing (upsample high-quality docs, downsample boilerplate) with the
    same reproducibility contract as :func:`deterministic_sample`: no
    rand(), no partitioning dependence, identical keeps on any engine —
    and a pure narrow filter, so it fuses with the scan. ``salt`` decouples
    draws across pipeline stages (the same pk must not share fate between
    independent sampling steps). Weights are clamped to [0, 1]: this is
    the DOWNSAMPLING half — a weight above 1 silently caps at keep-all
    here; duplication-based upsampling is a different output shape
    (multiset) and lives in :func:`weighted_replicated_sample`."""
    w = weight_col if not isinstance(weight_col, str) else F.col(weight_col)
    u = uniform_draw(pk_col, salt)
    return df.filter(u < F.least(F.greatest(w, F.lit(0.0)), F.lit(1.0)))


def weighted_replicated_sample(
    df: DataFrame,
    pk_col: str,
    weight_col,
    salt: str = "w1",
    max_weight: float = 100.0,
) -> DataFrame:
    """Weighted sampling WITH replication — the upsampling half that
    :func:`weighted_deterministic_sample` deliberately clamps away: a row
    with weight w is emitted floor(w) times plus one more iff u(pk) <
    frac(w), so E[copies] = w exactly for any w ≥ 0. Output gains a
    ``copy_idx`` column (0..copies-1) so downstream shuffles and
    train-time dedup can tell replicas apart. The corpus-mixing primitive
    for epoch-weighting high-quality sources (w=2.5 → every doc twice,
    half the docs a third time, chosen deterministically per key).

    Same determinism contract as the Bernoulli path: u(pk) is md5-derived,
    so the exact multiset of copies is reproducible on any engine / any
    partitioning. ``max_weight`` caps the explode fan-out — a corrupt
    weight of 1e9 would otherwise materialize 1e9 rows from one input row;
    the cap keeps worst-case amplification bounded and loud in the plan.
    Scale shape: one narrow projection + an explode bounded by
    ceil(max_weight) — no shuffle, fuses with the scan."""
    w = weight_col if not isinstance(weight_col, str) else F.col(weight_col)
    w = F.least(F.greatest(w.cast("double"), F.lit(0.0)), F.lit(float(max_weight)))
    u = uniform_draw(pk_col, salt)
    copies = (
        F.floor(w) + F.when(u < w - F.floor(w), F.lit(1)).otherwise(F.lit(0))
    ).cast("bigint")
    return (
        df.withColumn("__copies", copies)
        .filter(F.col("__copies") > 0)
        .withColumn(
            "copy_idx", F.explode(F.sequence(F.lit(0).cast("bigint"), F.col("__copies") - 1))
        )
        .drop("__copies")
    )


def temperature_sample(
    df: DataFrame,
    pk_col: str,
    group_col: str,
    alpha: float = 0.5,
    salt: str = "temp1",
) -> DataFrame:
    """Temperature-scaled mixture resampling across groups (languages /
    sources): downsample each group so kept counts are ∝ N_g**alpha — the
    multilingual-pretraining rebalancing step (XLM / mBERT exponential
    smoothing; alpha=1 keeps the natural mixture, alpha=0 would equalize
    groups) that stops one dominant language/domain from drowning the tail.

    Keep fraction per group: f_g = (N_min / N_g) ** (1 - alpha), where
    N_min is the smallest group's count — the smallest group keeps
    everything (f=1) and larger groups shrink toward N_g**alpha, so no
    cross-group normalizing SUM is ever computed. That choice is what
    makes the operator engine-exact: counts are exact integers, N_min/N_g
    is one correctly-rounded double division, and for the default
    alpha=0.5 the exponent is evaluated as IEEE sqrt (correctly rounded on
    every engine), so a DuckDB oracle reproduces the exact keep set.
    Non-0.5 alphas fall back to pow(), which libm rounds within 1 ulp but
    does NOT guarantee cross-engine bit-equality — reproducible per
    engine, oracle-exact only at 0.5.

    Per-row keeps use the same md5 uniform draw as
    :func:`weighted_deterministic_sample` (u(pk) = first-48-md5-bits /
    2^48), so the result is independent of partitioning and run order.

    Scale shape: one tiny groupBy(group) count (map-side combined, |groups|
    rows), a 1-row global min, both broadcast back — the fact table sees
    one broadcast-hash-join plus a narrow filter; no fact-sized shuffle.
    Note the input plan is evaluated up to three times (counts, min,
    probe): free over a parquet scan with pushdown, and usually still
    cheaper re-run than cached for light filter/window chains (pipe7
    measured 0.48 s recomputed vs 1.21 s persisted at sf0.1) — persist
    only when the upstream is expensive relative to its materialized
    size (wide shuffles, UDF stages).
    """
    if not 0.0 <= alpha <= 1.0:
        raise ValueError("alpha must be in [0, 1]")
    # NULL groups are excluded up front (explicit contract): the inner
    # join below would drop their rows anyway, and counting them first
    # could make a null pseudo-group the N_min that inflates every other
    # group's keep fraction.
    df = df.filter(F.col(group_col).isNotNull())
    counts = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("__n"))
    nmin = counts.agg(F.min("__n").alias("__nmin"))
    ratio = F.col("__nmin").cast("double") / F.col("__n").cast("double")
    frac = F.sqrt(ratio) if alpha == 0.5 else F.pow(ratio, F.lit(1.0 - alpha))
    rates = (
        counts.crossJoin(F.broadcast(nmin))
        .select(F.col(group_col), frac.alias("__f"))
    )
    u = uniform_draw(pk_col, salt)
    return (
        df.join(F.broadcast(rates), group_col)
        .filter(u < F.col("__f"))
        .drop("__f")
    )


def token_budget_allocation(
    df: DataFrame,
    group_col: str,
    token_col: str,
    budget_tokens: int,
    max_epochs_x1024: int = 2048,
    alpha: float = 0.5,
) -> DataFrame:
    """Pretraining data-mixture planning: allocate a global token BUDGET
    across sources with temperature-weighted shares and a per-source
    repetition cap — the "how many epochs of each source" table every
    LLM data card publishes (LLaMA tab.1 / Gopher tab.2 shape).

    Per group g: tokens T_g (exact bigint sum of ``token_col``), weight
    w_g = floor(1024·T_g^alpha), share = budget·w_g div Σw, cap =
    max_epochs_x1024·T_g div 1024, alloc = min(share, cap), epochs_ppm =
    10^6·alloc div T_g. Engine-exact at the default alpha=0.5 by the same
    argument as :func:`temperature_sample`: T_g^0.5 is IEEE sqrt
    (correctly rounded everywhere), ·1024 is an exact power-of-two
    scaling, floor is exact, and every division after quantization is
    INTEGER division in decimal(38,0) (overflow-proof at any corpus
    size). Non-0.5 alphas fall back to pow(): reproducible per engine,
    oracle-exact only at 0.5.

    Clipped surplus is NOT redistributed (single-pass contract — the
    ``clipped`` flag says where budget was left on the table); the
    water-filling variant is a driver-side loop over this ≤|groups|-row
    frame, trivially cheap at any scale.

    Scale shape: one map-side-combined groupBy to |groups| rows, a 1-row
    total broadcast back — the fact table is scanned once; everything
    after is work on a handful of rows.
    """
    if not 0.0 <= alpha <= 1.0:
        raise ValueError("alpha must be in [0, 1]")
    if budget_tokens <= 0 or max_epochs_x1024 <= 0:
        raise ValueError("budget_tokens and max_epochs_x1024 must be positive")
    g = (
        df.filter(F.col(group_col).isNotNull())
        .groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col(token_col)).cast("long").alias("n_tokens"),
        )
        # n_tokens > 0 guards every later integer division (round-8
        # ADVICE: a zero-token group made `div n_tokens` NULL, and an
        # all-zero corpus made total_w=0 → every alloc_raw NULL). With
        # t ≥ 1 and alpha in [0,1], t^alpha ≥ 1 so weight_q ≥ 1024 —
        # total_w = 0 is impossible on a non-empty frame and the output
        # NEVER contains NULL allocations.
        .filter(F.col("n_tokens") > 0)
    )
    t = F.col("n_tokens").cast("double")
    wexpr = F.sqrt(t) if alpha == 0.5 else F.pow(t, F.lit(alpha))
    w = g.withColumn("weight_q", F.floor(F.lit(1024.0) * wexpr).cast("long"))
    # Σw by ONE global aggregate that gathers the ≤|groups| rows with their
    # total, exploded back out: the fact table stays at ONE scan (a second
    # full scan at 100 TB would double the operator's entire cost). A 1-row
    # .agg() + broadcast crossJoin scans it twice (column pruning drops
    # n_docs from that branch, so its exchange is not reused), and a global
    # window logs a WindowExec warning on every execution.
    a = (
        w.agg(
            F.collect_list(F.struct(*w.columns)).alias("__rows"),
            F.sum("weight_q").alias("total_w"),
        )
        .select(F.explode("__rows").alias("__r"), "total_w")
        .select("__r.*", "total_w")
    ).select(
        "*",
        F.expr(
            f"CAST((CAST({budget_tokens} AS DECIMAL(38,0)) * weight_q)"
            " div total_w AS BIGINT)"
        ).alias("alloc_raw"),
        F.expr(
            f"CAST((CAST({max_epochs_x1024} AS DECIMAL(38,0)) * n_tokens)"
            " div 1024 AS BIGINT)"
        ).alias("cap_tokens"),
    )
    return a.select(
        group_col,
        "n_docs",
        "n_tokens",
        "weight_q",
        F.least("alloc_raw", "cap_tokens").alias("alloc_tokens"),
        F.expr(
            "CAST((CAST(1000000 AS DECIMAL(38,0)) *"
            " least(alloc_raw, cap_tokens)) div n_tokens AS BIGINT)"
        ).alias("epochs_ppm"),
        (F.col("alloc_raw") > F.col("cap_tokens")).alias("clipped"),
    )


def waterfill_integer_loop(groups, budget_left: int, trace: list | None = None):
    """The exact-integer freeze loop at the heart of
    :func:`token_budget_waterfill`, factored out so the mix4 recursive-CTE
    oracle template can be property-tested against the PRODUCTION loop on
    arbitrary inputs (tests/test_properties.py), not just the three SF
    data points. ``groups``: dicts with keys g (key), w (weight_q > 0),
    cap (cap_tokens ≥ 0). Returns (alloc: dict g→tokens, frozen: set).

    Per round over the ACTIVE set: share_g = R·w_g div W, then the
    remainder R − Σ shares distributed one token each by LARGEST
    REMAINDER (R·w_g mod W desc, str(g) asc — deterministic); any group
    pushed past its cap is frozen AT the cap and the loop repeats with
    the residual budget. Terminates in ≤ |groups| rounds (each round
    freezes ≥ 1 group or finishes). Pass ``trace=[]`` to receive the
    per-round frozen-key lists (test/observability hook — mix4's
    docstring claims about WHICH round a bucket freezes in are pinned
    through it)."""
    alloc = {g["g"]: 0 for g in groups}
    frozen: set = set()
    active = [g for g in groups]
    while active and budget_left > 0:
        w_total = sum(g["w"] for g in active)
        if w_total == 0:  # unreachable: n_tokens>0 ⇒ weight_q ≥ 1024
            break
        shares = {g["g"]: (budget_left * g["w"]) // w_total for g in active}
        rem = budget_left - sum(shares.values())
        # largest-remainder: +1 token to `rem` groups, mod desc, name asc
        order = sorted(
            active,
            key=lambda g: (-((budget_left * g["w"]) % w_total), str(g["g"])),
        )
        for g in order[: int(rem)]:
            shares[g["g"]] += 1
        over = [g for g in active if shares[g["g"]] > g["cap"]]
        if trace is not None:
            trace.append(sorted(g["g"] for g in over))
        if not over:
            for g in active:
                alloc[g["g"]] = shares[g["g"]]
            budget_left = 0
        else:
            for g in over:
                alloc[g["g"]] = g["cap"]
                frozen.add(g["g"])
                budget_left -= g["cap"]
            active = [g for g in active if g["g"] not in frozen]
    return alloc, frozen


def token_budget_waterfill(
    df: DataFrame,
    group_col: str,
    token_col: str,
    budget_tokens: int,
    max_epochs_x1024: int = 2048,
    alpha: float = 0.5,
) -> DataFrame:
    """Water-filling variant of :func:`token_budget_allocation` (round-8
    verdict #7): clipped surplus IS redistributed — the LLaMA-style
    exact mixture where Σ alloc_tokens == budget whenever Σ caps ≥
    budget (otherwise every group sits at its cap and the budget is
    infeasible).

    Algorithm: collect the ≤|groups|-row (group, weight_q, cap) frame to
    the driver (the ONLY driver-side data — the fact table is scanned
    once inside token_budget_allocation's groupBy) and iterate in exact
    integer arithmetic: share_g = R·w_g div W over the uncapped set,
    remainder R − Σ shares distributed one token each by LARGEST
    REMAINDER (R·w_g mod W desc, group asc — deterministic), any group
    pushed past its cap is frozen at the cap and the loop repeats with
    the residual budget. Each round freezes ≥1 group or terminates, so
    ≤ |groups| rounds of O(|groups| log |groups|) driver work — trivial
    at any corpus size (|groups| = data sources, tens).

    Output schema matches token_budget_allocation (clipped == frozen at
    cap); epochs_ppm = 10^6·alloc div n_tokens as there."""
    base = token_budget_allocation(
        df, group_col, token_col, budget_tokens, max_epochs_x1024, alpha
    )
    rows = base.select(group_col, "n_docs", "n_tokens", "weight_q").collect()
    groups = [
        {
            "g": r[group_col],
            "n_docs": r["n_docs"],
            "n_tokens": r["n_tokens"],
            "w": r["weight_q"],
            "cap": (max_epochs_x1024 * r["n_tokens"]) // 1024,
        }
        for r in rows
    ]
    alloc, frozen = waterfill_integer_loop(groups, int(budget_tokens))
    spark = df.sparkSession
    out = [
        (
            g["g"],
            g["n_docs"],
            g["n_tokens"],
            g["w"],
            alloc[g["g"]],
            (1_000_000 * alloc[g["g"]]) // g["n_tokens"],
            g["g"] in frozen,
        )
        for g in groups
    ]
    return local_frame(spark, out, base.schema)


def group_split(
    df: DataFrame,
    group_col: str,
    test_frac: float = 0.2,
    salt: str = "g1",
) -> DataFrame:
    """Group-leakage-safe train/test assignment (sklearn GroupShuffleSplit
    analogue): the md5 uniform draw is keyed on the GROUP, not the row, so
    every row of a group shares fate by construction — the split that
    prevents the classic leakage where near-duplicate rows of one user /
    patient / domain straddle train and test and inflate eval scores.

    Same determinism contract as :func:`deterministic_sample` (md5 draw,
    partition-independent, engine-replayable); expected test share is
    ``test_frac`` of GROUPS, not of rows — heavy groups move whole.
    Scale shape: a pure narrow projection (the draw is a row-local
    expression of the group key), no shuffle, fuses with the scan."""
    if not 0.0 <= test_frac <= 1.0:
        raise ValueError("test_frac must be in [0, 1]")
    u = uniform_draw(group_col, salt)
    return df.withColumn(
        "split", F.when(u < F.lit(float(test_frac)), F.lit("test")).otherwise(F.lit("train"))
    )


def rolling_origin_assign(df: DataFrame, ts_col: str, n_slices: int = 5) -> DataFrame:
    """Rolling-origin (expanding-window) cross-validation slice assignment
    — the time-series counterpart of kfold_assign (cf. the reference's
    train/test temporal carving, /root/reference/src/feature_store/utils/
    prep.py split helpers): each row gets an integer time slice in
    [0, n_slices); CV fold k (k = 1..n_slices-1) trains on slices < k and
    validates on slice k, so every fold's validation data is strictly
    later than all of its training data (backtesting without leakage).

    Slices come from EXACT integer arithmetic over epoch seconds
    (``unix_micros div 1000000`` — engine-identical, never the
    round-vs-truncate unix_timestamp()): slice = (e - lo) * n_slices
    div (hi - lo + 1), with lo/hi the corpus min/max epoch obtained by a
    1-row aggregate broadcast back (the standard scalar-subquery plan —
    no driver collect, no global sort; assignment itself is a map-side
    projection)."""
    if n_slices < 2:
        raise ValueError("n_slices must be >= 2")
    sec = F.expr(f"unix_micros({ts_col}) div 1000000")
    bounds = df.agg(
        F.min(sec).alias("__lo"), F.max(sec).alias("__hi")
    )
    out = df.crossJoin(F.broadcast(bounds)).withColumn(
        "slice",
        F.expr(
            f"((unix_micros({ts_col}) div 1000000) - __lo) * {int(n_slices)}"
            " div (__hi - __lo + 1)"
        ).cast("long"),
    )
    return out.drop("__lo", "__hi")
