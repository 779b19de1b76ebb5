"""Point-in-time (as-of) join — the engine's replacement for the reference's
Feast offline retrieval (S3/J1: src/training/split_data.py:75-94, feature
views src/feature/feature_repo/define_feature.py:74-202, 30-day TTL at
define_feature.py:52).

Semantics: for each entity row (key, entity_ts), attach the LATEST feature row
with the same key and ``feature_ts <= entity_ts`` and
``feature_ts >= entity_ts - ttl``. Entities with no in-window feature row are
kept with NULL features (left as-of join) — Feast's behavior.

Physical strategy (the one nontrivial join of the reference):
- Ranged equi-join on the key + time predicates, then keep the
  newest feature row per entity via one window. Catalyst broadcasts the
  small side automatically; otherwise both sides shuffle once on the key.
  AQE's skew-join splitting covers hot keys.
- At 100 TB the TTL predicate is the critical pruning lever: it bounds the
  join fan-out per entity to one TTL window of feature history, and (with
  time-partitioned feature tables) prunes partitions before the shuffle.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def as_of_join(
    entity_df: DataFrame,
    feature_df: DataFrame,
    keys: Sequence[str],
    entity_ts: str,
    feature_ts: str,
    ttl_seconds: int | None = None,
    feature_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Left as-of join with optional TTL.

    Every entity row appears exactly once in the output — INCLUDING
    byte-identical duplicate entity rows (Feast scores each entity row
    independently): a per-row id is attached before the join and the
    keep-newest window partitions on it, so duplicates can't collapse.
    Ties on ``feature_ts`` break deterministically on the feature columns
    so results are stable across partitionings.
    """
    keys = list(keys)
    entity_df = entity_df.withColumn("__eid", F.monotonically_increasing_id())
    feat_cols = list(feature_cols) if feature_cols is not None else [
        c for c in feature_df.columns if c not in keys
    ]
    f_sel = feature_df.select(
        *[F.col(k).alias(f"__k_{k}") for k in keys],
        *[F.col(c).alias(c) for c in feat_cols],
    )

    cond = [entity_df[k] == f_sel[f"__k_{k}"] for k in keys]
    cond.append(f_sel[feature_ts] <= entity_df[entity_ts])
    if ttl_seconds is not None:
        cond.append(
            f_sel[feature_ts]
            >= entity_df[entity_ts] - F.expr(f"INTERVAL {int(ttl_seconds)} SECONDS")
        )

    joined = entity_df.join(f_sel, on=cond, how="left").drop(*[f"__k_{k}" for k in keys])

    # One row per entity ROW (not per distinct entity tuple): newest feature
    # wins, deterministic tie-break.
    order = [F.col(feature_ts).desc_nulls_last()] + [
        F.col(c).desc_nulls_last() for c in feat_cols if c != feature_ts
    ]
    w = Window.partitionBy("__eid").orderBy(*order)
    return (
        joined.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__eid")
    )
