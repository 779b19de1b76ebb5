"""Batch range (band) join via time-bucket candidate generation.

Spark's Catalyst has no range-join optimization (Databricks' range-join hint
is proprietary; open-source Spark plans an inequality join as a
BroadcastNestedLoopJoin or a cartesian product — both O(n·m)). The standard
open-source shape, used here, is BUCKETIZATION: quantize the time axis into
``window``-sized bins, equi-join on (key, bin) with the left side exploded to
the two bins a match could land in, then apply the exact inequality on the
(tiny) candidate set. The O(n·m) inequality becomes an O(candidates)
hash join — the same trick as LSH banding, on the time axis.

Scale shape: one explode (2× the left side), one shuffle on (key, bin) for
each side, no window functions. Bin size = the band width, so every true
pair shares a (key, bin) bucket with its candidate by construction: a later
event within ``window`` seconds of an earlier one sits in the same or the
next bin. Per-bucket candidate volume is bounded by the key's own event
rate per window — skewed keys fall out of AQE's skew-join splitting since
this is a plain equi-join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def time_window_pairs(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    id_col: str,
    window_sec: int,
    payload_cols: tuple[str, ...] = (),
) -> DataFrame:
    """All ordered pairs of rows sharing ``key_col`` whose timestamps are
    within ``window_sec`` seconds: (key, id_a, id_b, ts_a, ts_b,
    gap_seconds) with (ts_a, id_a) < (ts_b, id_b) lexicographically — the
    deterministic pair orientation (id tie-break on equal timestamps, so
    the pair set is engine-exact). gap_seconds is the exact integer
    difference of TRUNCATED (floor) epoch seconds — the window predicate
    uses the same truncated values, so "within window" means floor-second
    granularity on every engine identically (sub-second fractions never
    flip membership differently across engines).

    The sessionization/attribution primitive ("events within an hour of
    each other"), and the self-join form of a general band join."""
    if window_sec <= 0:
        raise ValueError("window_sec must be positive")
    base = df.select(
        F.col(key_col),
        F.col(id_col),
        F.col(ts_col),
        F.unix_timestamp(F.col(ts_col)).alias("__epoch"),
        *[F.col(c) for c in payload_cols],
    )
    binned = base.withColumn("__bin", F.floor(F.col("__epoch") / window_sec))
    # earlier side probes its own bin and the next one: any match at most
    # window_sec later lives in one of the two
    left = binned.select(
        F.col(key_col),
        F.col(id_col).alias("id_a"),
        F.col(ts_col).alias("ts_a"),
        F.col("__epoch").alias("__ea"),
        F.explode(F.array(F.col("__bin"), F.col("__bin") + 1)).alias("__bin"),
        *[F.col(c).alias(f"{c}_a") for c in payload_cols],
    )
    right = binned.select(
        F.col(key_col),
        F.col(id_col).alias("id_b"),
        F.col(ts_col).alias("ts_b"),
        F.col("__epoch").alias("__eb"),
        "__bin",
        *[F.col(c).alias(f"{c}_b") for c in payload_cols],
    )
    later = (F.col("ts_b") > F.col("ts_a")) | (
        (F.col("ts_b") == F.col("ts_a")) & (F.col("id_b") > F.col("id_a"))
    )
    return (
        left.join(right, on=[key_col, "__bin"])
        .filter(later & (F.col("__eb") - F.col("__ea") <= window_sec))
        # a pair in the same bin is found once via (bin, bin) and once via
        # the left row's (bin+1) probe meeting nothing — but a pair where
        # both rows share a bin IS also probed at bin+1 by the earlier row
        # without a match there; cross-bin pairs match exactly once. Same-
        # bin pairs match exactly once too (right side is never exploded).
        .select(
            key_col,
            "id_a",
            "id_b",
            "ts_a",
            "ts_b",
            (F.col("__eb") - F.col("__ea")).cast("long").alias("gap_seconds"),
            *[f"{c}_a" for c in payload_cols],
            *[f"{c}_b" for c in payload_cols],
        )
    )


def banded_interval_join(
    left: DataFrame,
    right: DataFrame,
    key_col: str,
    left_id: str,
    right_id: str,
    ts_col: str,
    window_sec: int,
    left_payload: tuple[str, ...] = (),
    right_payload: tuple[str, ...] = (),
) -> DataFrame:
    """Two-sided banded interval join: every (left, right) pair sharing
    ``key_col`` where the left row precedes the right row by at most
    ``window_sec`` seconds (0 <= right - left <= window, floor-epoch-second
    granularity like :func:`time_window_pairs`). The general form of the
    self-join above — "touch events preceding a conversion", "readings
    preceding an alert" — planned as an EQUI-join: rows land in bucket
    floor(epoch/window); the left side additionally probes bucket+1, so
    any in-window pair meets on exactly one (key, bucket) — the right
    row's own bucket. O(candidates) work, AQE skew-split applies; the
    open-source substitute for a range-join optimizer, two-frame edition.

    Output: (key, <left_id>, <right_id>, gap_seconds, *left_payload
    (suffixed _l), *right_payload (suffixed _r))."""
    if window_sec <= 0:
        raise ValueError("window_sec must be positive")
    lb = left.select(
        F.col(key_col),
        F.col(left_id),
        F.floor(F.unix_timestamp(F.col(ts_col))).cast("long").alias("__el"),
        *[F.col(c).alias(f"{c}_l") for c in left_payload],
    ).withColumn(
        "__bin",
        F.explode(
            F.array(
                F.floor(F.col("__el") / window_sec),
                F.floor(F.col("__el") / window_sec) + 1,
            )
        ),
    )
    rb = right.select(
        F.col(key_col),
        F.col(right_id),
        F.floor(F.unix_timestamp(F.col(ts_col))).cast("long").alias("__er"),
        *[F.col(c).alias(f"{c}_r") for c in right_payload],
    ).withColumn("__bin", F.floor(F.col("__er") / window_sec))
    return (
        lb.join(rb, on=[key_col, "__bin"])
        .filter(
            (F.col("__er") >= F.col("__el"))
            & (F.col("__er") - F.col("__el") <= window_sec)
        )
        .select(
            key_col,
            left_id,
            right_id,
            (F.col("__er") - F.col("__el")).alias("gap_seconds"),
            *[f"{c}_l" for c in left_payload],
            *[f"{c}_r" for c in right_payload],
        )
    )
