"""Registry of (Spark query, DuckDB oracle SQL) pairs — the driver's
correctness surface (CORRECTNESS_r{N}.json) and the engine's demo queries.

Cross-engine determinism rules used throughout (see SURVEY.md §2.4 notes):
- money/measure aggregates are summed as DECIMAL (exact, order-independent)
  and presented as DOUBLE;
- all other aggregates are integer counts, or single IEEE divisions of
  exact integers — bit-identical on any engine;
- synthetic labels/scores derive from ``event_id`` arithmetic with scores as
  exact multiples of 1/1024, so score sums/bins are exact in double;
- every ordering that feeds row_number/ntile carries a PK tie-break.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

import os

from ..functions import metrics as M
from ..operators import curate, dedup, multimodal, pit, prep, similarity, split, text
from ..plans import relational as R
from ..sources import io
from ..sources import load_table

# ---------------------------------------------------------------------------
# synthetic scored frame: deterministic label/score from the events table
# ---------------------------------------------------------------------------

SCORED_SQL = (
    "SELECT event_id, "
    "CASE WHEN event_id % 7 < 3 THEN 1 ELSE 0 END AS label, "
    "((event_id * 37) % 1024) / 1024.0 AS score "
    "FROM events"
)


def scored_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.when(F.col("event_id") % 7 < 3, 1).otherwise(0).alias("label"),
        (((F.col("event_id") * 37) % 1024) / F.lit(1024.0)).alias("score"),
    )


# continuous-score fixture: ~1e6 distinct values (multiplicative hash mod a
# prime) — near-unique like real model probabilities. The quantized metric
# queries below run over it with score_precision engaged, proving the
# "bounded distinct scores" invariant holds by construction, not by luck.
SCORED_CONT_SQL = (
    "SELECT event_id, "
    "CASE WHEN event_id % 7 < 3 THEN 1 ELSE 0 END AS label, "
    "((event_id * 2654435761) % 1000003) / 1000003.0 AS score "
    "FROM events"
)

# same IEEE arithmetic as metrics.quantize_score(p=4) — floor, not round():
# engine round() half-up/half-even semantics differ; floor(x·1e4+0.5) doesn't
_QUANT_CONT_SQL = (
    "SELECT label, floor(score * 10000 + 0.5) / 10000.0 AS score "
    f"FROM ({SCORED_CONT_SQL})"
)


def scored_events_continuous(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.when(F.col("event_id") % 7 < 3, 1).otherwise(0).alias("label"),
        (
            ((F.col("event_id") * 2654435761) % 1000003) / F.lit(1000003.0)
        ).alias("score"),
    )


def _scored_with_pred(spark, sf_dir):
    return M.apply_threshold(scored_events(spark, sf_dir), "score", 0.5)


PRED_SQL = (
    "SELECT *, CASE WHEN score >= 0.5 THEN 1 ELSE 0 END AS prediction "
    f"FROM ({SCORED_SQL})"
)

DEC_MONEY = "decimal(18,4)"
DEC_PCT = "decimal(8,4)"

# ---------------------------------------------------------------------------
# relational / TPC-H-style
# ---------------------------------------------------------------------------

Q1_SQL = """
SELECT l_returnflag, l_linestatus,
  CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(1 - CAST(l_discount AS DECIMAL(8,4)) AS DECIMAL(8,4))), 4) AS DOUBLE) AS sum_disc_price,
  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(1 - CAST(l_discount AS DECIMAL(8,4)) AS DECIMAL(8,4)) * CAST(1 + CAST(l_tax AS DECIMAL(8,4)) AS DECIMAL(8,4))), 4) AS DOUBLE) AS sum_charge,
  CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / count(*) AS avg_qty,
  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / count(*) AS avg_price,
  CAST(sum(CAST(l_discount AS DECIMAL(8,4))) AS DOUBLE) / count(*) AS avg_disc,
  count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""

Q3_SQL = """
SELECT l_orderkey, o_orderdate, o_orderpriority,
  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(1 - CAST(l_discount AS DECIMAL(8,4)) AS DECIMAL(8,4))), 4) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
  AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""

Q4_SQL = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""

Q5_SQL = """
SELECT r_name, n_name,
  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(1 - CAST(l_discount AS DECIMAL(8,4)) AS DECIMAL(8,4))), 4) AS DOUBLE) AS revenue
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
ORDER BY r_name, n_name
"""

TOP_PARTS_SQL = """
SELECT p_partkey, p_name, p_retailprice, CAST(price_rank AS BIGINT) AS price_rank
FROM (SELECT p_partkey, p_name, p_retailprice,
             rank() OVER (ORDER BY p_retailprice DESC) AS price_rank
      FROM part)
WHERE price_rank <= 10
ORDER BY price_rank, p_partkey
"""

RUNNING_TOTAL_SQL = """
SELECT o_custkey, o_orderkey, o_orderdate,
  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4)))
       OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total
FROM orders
ORDER BY o_custkey, o_orderdate, o_orderkey
"""

LATEST_ORDER_SQL = """
SELECT * FROM orders
QUALIFY row_number() OVER (PARTITION BY o_custkey
                           ORDER BY o_orderdate DESC, o_orderkey DESC) = 1
ORDER BY o_custkey
"""

# ---------------------------------------------------------------------------
# prep / split / pit
# ---------------------------------------------------------------------------


def p_clean_documents(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    cleaned = prep.normalize_missing_tokens(
        prep.blanks_to_null(docs, ["lang", "source"]), ["lang", "source"]
    )
    return cleaned.select("doc_id", "lang", "source")


_TOKENS = "'', '<NA>', 'null', '?', 'N/A', 'NAN', 'nan'"

CLEAN_DOCS_SQL = f"""
SELECT doc_id,
  CASE WHEN regexp_matches(COALESCE(lang, 'x'), '^\\s*$') THEN NULL
       WHEN lang IN ({_TOKENS}) THEN NULL ELSE lang END AS lang,
  CASE WHEN regexp_matches(COALESCE(source, 'x'), '^\\s*$') THEN NULL
       WHEN source IN ({_TOKENS}) THEN NULL ELSE source END AS source
FROM documents
"""


def p_null_audit(spark, sf_dir):
    return prep.null_fraction_audit(load_table(spark, sf_dir, "documents"))


NULL_AUDIT_SQL = """
WITH n AS (SELECT count(*) AS total FROM documents)
SELECT column_name, null_count / total AS null_fraction
FROM (
  SELECT 'doc_id' AS column_name, sum(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS null_count FROM documents
  UNION ALL SELECT 'text', sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) FROM documents
  UNION ALL SELECT 'lang', sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) FROM documents
  UNION ALL SELECT 'source', sum(CASE WHEN source IS NULL THEN 1 ELSE 0 END) FROM documents
  UNION ALL SELECT 'n_chars', sum(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END) FROM documents
), n
ORDER BY null_fraction DESC, column_name
"""


def p_dup_check(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    total = li.agg(F.count(F.lit(1)).alias("total"))
    distinct_rows = li.distinct().agg(F.count(F.lit(1)).alias("distinct_rows"))
    pk_dupes = (
        li.groupBy("l_orderkey", "l_linenumber")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") > 1)
        .agg(F.coalesce(F.sum(F.col("c") - 1), F.lit(0)).cast("long").alias("pk_dupes"))
    )
    return (
        total.crossJoin(distinct_rows)
        .crossJoin(pk_dupes)
        .select(
            (F.col("total") - F.col("distinct_rows")).alias("row_dupes"),
            "pk_dupes",
        )
    )


DUP_CHECK_SQL = """
SELECT
  (SELECT count(*) FROM lineitem) - (SELECT count(*) FROM (SELECT DISTINCT * FROM lineitem)) AS row_dupes,
  (SELECT CAST(COALESCE(sum(c - 1), 0) AS BIGINT)
   FROM (SELECT count(*) AS c FROM lineitem GROUP BY l_orderkey, l_linenumber) WHERE c > 1) AS pk_dupes
"""


def p_recode_status(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    recoded = prep.recode_values(
        orders, "o_orderstatus", {"O": "Open", "F": "Finalized", "P": "Pending"}
    )
    return (
        recoded.groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("o_orderstatus")
    )


RECODE_SQL = """
SELECT CASE o_orderstatus WHEN 'O' THEN 'Open' WHEN 'F' THEN 'Finalized'
            WHEN 'P' THEN 'Pending' ELSE o_orderstatus END AS o_orderstatus,
       count(*) AS n
FROM orders GROUP BY 1 ORDER BY 1
"""

_SPLIT_CTE = """
SELECT o_orderkey, o_orderstatus,
  CASE WHEN percent_rank() OVER (
         PARTITION BY o_orderstatus
         ORDER BY (o_orderkey * 2654435761) % 1000000007, o_orderkey) < 0.8
       THEN 'train' ELSE 'test' END AS split
FROM orders
"""


def q20_above_avg_orders(spark, sf_dir):
    """Correlated-subquery surface via the SQL API: orders strictly above
    their customer's average order value. Catalyst decorrelates both
    correlated aggregates into one groupBy + join — .explain shows no
    per-row re-execution. The predicate is written as
    price·count > sum (exact decimal/integer arithmetic) instead of
    price > avg (double division), so the boundary rows compare
    identically on any engine."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_v")
    return spark.sql(
        """
        SELECT o_custkey, o_orderkey,
               CAST(CAST(o_totalprice AS DECIMAL(18,4)) AS DOUBLE) AS total_price
        FROM orders_v o
        WHERE CAST(o_totalprice AS DECIMAL(18,4))
              * (SELECT count(*) FROM orders_v i WHERE i.o_custkey = o.o_custkey)
              > (SELECT sum(CAST(o_totalprice AS DECIMAL(18,4)))
                 FROM orders_v i WHERE i.o_custkey = o.o_custkey)
        ORDER BY o_custkey, o_orderkey
        """
    )


Q20_SQL = """
SELECT o_custkey, o_orderkey,
       CAST(CAST(o_totalprice AS DECIMAL(18,4)) AS DOUBLE) AS total_price
FROM orders o
WHERE CAST(o_totalprice AS DECIMAL(18,4))
      * (SELECT count(*) FROM orders i WHERE i.o_custkey = o.o_custkey)
      > (SELECT sum(CAST(o_totalprice AS DECIMAL(18,4)))
         FROM orders i WHERE i.o_custkey = o.o_custkey)
ORDER BY o_custkey, o_orderkey
"""


Q7_SQL = """
SELECT supp_nation, cust_nation, l_year,
       CAST(CAST(revenue AS DECIMAL(27,4)) AS DOUBLE) AS revenue
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         CAST(year(l_shipdate) AS INTEGER) AS l_year,
         sum(CAST(l_extendedprice AS DECIMAL(20,4))
             * (1 - CAST(l_discount AS DECIMAL(20,4)))) AS revenue
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
     OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
  GROUP BY 1, 2, 3
)
ORDER BY supp_nation, cust_nation, l_year
"""


def t7_deterministic_sample(spark, sf_dir):
    """Reproducible ~9.8% subsample (md5 prefix < 0x19) — engine-independent
    unlike sample()/sampleBy(), so it IS the oracle predicate."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        split.deterministic_sample(orders, "o_orderkey", "19")
        .select("o_orderkey", "o_orderstatus")
        .orderBy("o_orderkey")
    )


T7_SAMPLE_SQL = """
SELECT o_orderkey, o_orderstatus FROM orders
WHERE substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 2) < '19'
ORDER BY o_orderkey
"""


def t1_stratified_split(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    tagged = split.stratified_split_column(orders, "o_orderstatus", "o_orderkey", 0.8)
    return (
        tagged.groupBy("o_orderstatus", "split")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("o_orderstatus", "split")
    )


T1_SQL = f"""
WITH t AS ({_SPLIT_CTE})
SELECT o_orderstatus, split, count(*) AS n FROM t GROUP BY 1, 2 ORDER BY 1, 2
"""


def t1_overlap(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    train, test = split.stratified_split(orders, "o_orderstatus", "o_orderkey", 0.8)
    overlap = train.select("o_orderkey").join(
        test.select("o_orderkey"), "o_orderkey", "left_semi"
    )
    return overlap.agg(F.count(F.lit(1)).alias("overlap"))


T1_OVERLAP_SQL = f"""
WITH t AS ({_SPLIT_CTE})
SELECT count(*) AS overlap
FROM (SELECT o_orderkey FROM t WHERE split = 'train')
JOIN (SELECT o_orderkey FROM t WHERE split = 'test') USING (o_orderkey)
"""

_CUTOFF = "2024-01-16 00:00:00"


def t2_time_split(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    train, test = split.time_split(ev, "ts", _CUTOFF)
    return train.agg(F.count(F.lit(1)).alias("n")).select(
        F.lit("train").alias("split"), "n"
    ).unionByName(
        test.agg(F.count(F.lit(1)).alias("n")).select(F.lit("test").alias("split"), "n")
    )


T2_SQL = f"""
SELECT 'train' AS split, count(*) AS n FROM events WHERE ts < TIMESTAMP '{_CUTOFF}'
UNION ALL
SELECT 'test' AS split, count(*) AS n FROM events WHERE ts >= TIMESTAMP '{_CUTOFF}'
"""


def s3_pit_join(spark, sf_dir):
    """Feast-style PIT retrieval recast on the events table: for each
    purchase (entity), the latest click by the same user within a 1-day TTL."""
    ev = load_table(spark, sf_dir, "events")
    entities = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
    )
    features = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
        F.col("value").alias("click_value"),
    )
    return pit.as_of_join(
        entities,
        features,
        keys=["user_id"],
        entity_ts="purchase_ts",
        feature_ts="click_ts",
        ttl_seconds=86400,
    ).orderBy("purchase_id")


PIT_SQL = """
WITH p AS (SELECT event_id AS purchase_id, user_id, ts AS purchase_ts
           FROM events WHERE event_type = 'purchase'),
     c AS (SELECT user_id, event_id AS click_id, ts AS click_ts, value AS click_value
           FROM events WHERE event_type = 'click')
SELECT p.purchase_id, p.user_id, p.purchase_ts, c.click_id, c.click_ts, c.click_value
FROM p LEFT JOIN c
  ON p.user_id = c.user_id
 AND c.click_ts <= p.purchase_ts
 AND c.click_ts >= p.purchase_ts - INTERVAL 86400 SECONDS
QUALIFY row_number() OVER (PARTITION BY p.purchase_id
                           ORDER BY c.click_ts DESC, c.click_id DESC, c.click_value DESC) = 1
ORDER BY p.purchase_id
"""

# ---------------------------------------------------------------------------
# metrics
# ---------------------------------------------------------------------------


def m_confusion(spark, sf_dir):
    return M.confusion_matrix(_scored_with_pred(spark, sf_dir), "label", "prediction")


CONFUSION_SQL = f"""
SELECT label, prediction, count(*) AS n,
       count(*) / CAST(sum(count(*)) OVER (PARTITION BY label) AS BIGINT) AS row_fraction
FROM ({PRED_SQL})
GROUP BY label, prediction
ORDER BY label, prediction
"""


def m_binary_metrics(spark, sf_dir):
    return M.binary_metrics(_scored_with_pred(spark, sf_dir), "label", "prediction", beta=0.5)


BINARY_METRICS_SQL = f"""
WITH c AS (
  SELECT
    CAST(sum(CASE WHEN label = 1 AND prediction = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
    CAST(sum(CASE WHEN label = 0 AND prediction = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
    CAST(sum(CASE WHEN label = 1 AND prediction = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
    CAST(sum(CASE WHEN label = 0 AND prediction = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn
  FROM ({PRED_SQL})
)
SELECT tp, fp, fn, tn,
  (tp + tn) / (tp + fp + fn + tn) AS accuracy,
  tp / (tp + fp) AS precision,
  tp / (tp + fn) AS recall,
  2 * tp / (2 * tp + fp + fn) AS f1,
  1.25 * tp / (1.25 * tp + 0.25 * fn + fp) AS fbeta
FROM c
"""


def m_roc_auc(spark, sf_dir):
    return M.roc_auc(scored_events(spark, sf_dir), "label", "score")


ROC_AUC_SQL = f"""
WITH ranked AS (
  SELECT label AS y, score AS s, row_number() OVER (ORDER BY score) AS rn
  FROM ({SCORED_SQL})
), r2 AS (
  SELECT y, avg(rn) OVER (PARTITION BY s) AS rank FROM ranked
)
SELECT (sum(CASE WHEN y = 1 THEN rank END)
        - CAST(sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT)
          * (CAST(sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) + 1) / 2)
       / (CAST(sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT)
          * CAST(sum(CASE WHEN y = 0 THEN 1 ELSE 0 END) AS BIGINT)) AS roc_auc
FROM r2
"""


def m_ece_bins(spark, sf_dir):
    return M.ece_bins(scored_events(spark, sf_dir), "label", "score", n_bins=10)


ECE_SQL = f"""
SELECT LEAST(CAST(floor(score * 10) AS INTEGER), 9) AS bin,
       count(*) AS n,
       avg(CAST(label AS DOUBLE)) AS avg_label,
       avg(score) AS avg_confidence
FROM ({SCORED_SQL})
GROUP BY 1 ORDER BY 1
"""


def m_lift_gains(spark, sf_dir):
    return M.lift_gains(scored_events(spark, sf_dir), "label", "score", "event_id")


LIFT_SQL = f"""
WITH tiled AS (
  SELECT label AS y,
         CAST(ntile(10) OVER (ORDER BY score DESC, event_id) AS INTEGER) AS decile
  FROM ({SCORED_SQL})
), per AS (
  SELECT decile, count(*) AS n, CAST(sum(y) AS BIGINT) AS pos
  FROM tiled GROUP BY decile
)
SELECT decile, n, pos,
  CAST(sum(pos) OVER w AS BIGINT) / CAST(sum(pos) OVER () AS BIGINT) AS cum_gain,
  (CAST(sum(pos) OVER w AS BIGINT) / CAST(sum(pos) OVER () AS BIGINT))
    / (CAST(sum(n) OVER w AS BIGINT) / CAST(sum(n) OVER () AS BIGINT)) AS lift
FROM per
WINDOW w AS (ORDER BY decile ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
ORDER BY decile
"""


def m_roc_curve(spark, sf_dir):
    return M.roc_curve(scored_events(spark, sf_dir), "label", "score")


ROC_CURVE_SQL = f"""
WITH by_s AS (
  SELECT score AS threshold,
         CAST(sum(CASE WHEN label = 1 THEN 1 ELSE 0 END) AS BIGINT) AS pos,
         CAST(sum(CASE WHEN label = 0 THEN 1 ELSE 0 END) AS BIGINT) AS neg
  FROM ({SCORED_SQL}) GROUP BY score
)
SELECT threshold,
  CAST(sum(pos) OVER w AS BIGINT) AS cum_tp,
  CAST(sum(neg) OVER w AS BIGINT) AS cum_fp,
  CAST(sum(pos) OVER w AS BIGINT) / CAST(sum(pos) OVER () AS BIGINT) AS tpr,
  CAST(sum(neg) OVER w AS BIGINT) / CAST(sum(neg) OVER () AS BIGINT) AS fpr
FROM by_s
WINDOW w AS (ORDER BY threshold DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
ORDER BY threshold DESC
"""


def m_threshold_sweep(spark, sf_dir):
    return M.threshold_sweep(scored_events(spark, sf_dir), "label", "score", beta=0.5)


SWEEP_SQL = f"""
WITH by_s AS (
  SELECT score AS s,
         CAST(sum(CASE WHEN label = 1 THEN 1 ELSE 0 END) AS BIGINT) AS pos,
         CAST(sum(CASE WHEN label = 0 THEN 1 ELSE 0 END) AS BIGINT) AS neg
  FROM ({SCORED_SQL}) GROUP BY score
), th AS (SELECT i / 100 AS threshold FROM range(1, 100) t(i)),
agg AS (
  SELECT threshold,
    CAST(sum(CASE WHEN s >= threshold THEN pos ELSE 0 END) AS BIGINT) AS tp,
    CAST(sum(CASE WHEN s >= threshold THEN neg ELSE 0 END) AS BIGINT) AS fp,
    CAST(sum(CASE WHEN s < threshold THEN pos ELSE 0 END) AS BIGINT) AS fn
  FROM th CROSS JOIN by_s GROUP BY threshold
)
SELECT threshold, tp, fp, fn,
  1.25 * tp / (1.25 * tp + 0.25 * fn + fp) AS fbeta
FROM agg ORDER BY threshold
"""


# 3-class synthetic task: y = event_id % 3, pred = floor(score*3) (exact bins)
MC_SQL = (
    "SELECT CAST(event_id % 3 AS INTEGER) AS y, "
    "CAST(floor((((event_id * 37) % 1024) / 1024.0) * 3) AS INTEGER) AS p "
    "FROM events"
)


def _mc_frame(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        (F.col("event_id") % 3).cast("int").alias("y"),
        F.floor((((F.col("event_id") * 37) % 1024) / F.lit(1024.0)) * 3)
        .cast("int")
        .alias("p"),
    )


def a7_multiclass_per_class(spark, sf_dir):
    return M.multiclass_per_class_metrics(_mc_frame(spark, sf_dir), "y", "p", [0, 1, 2])


def _mc_cte() -> str:
    parts = []
    for c in (0, 1, 2):
        parts.append(
            f"CAST(sum(CASE WHEN y = {c} AND p = {c} THEN 1 ELSE 0 END) AS BIGINT) AS tp_{c}, "
            f"CAST(sum(CASE WHEN y != {c} AND p = {c} THEN 1 ELSE 0 END) AS BIGINT) AS fp_{c}, "
            f"CAST(sum(CASE WHEN y = {c} AND p != {c} THEN 1 ELSE 0 END) AS BIGINT) AS fn_{c}"
        )
    return (
        f"SELECT count(*) AS n, CAST(sum(CASE WHEN y = p THEN 1 ELSE 0 END) AS BIGINT) AS correct, "
        + ", ".join(parts)
        + f" FROM ({MC_SQL})"
    )


MC_PER_CLASS_SQL = "WITH c AS (" + _mc_cte() + ")\n" + "\nUNION ALL\n".join(
    f"SELECT {c} AS class, tp_{c} AS tp, tp_{c} + fn_{c} AS support, "
    f"tp_{c} / (tp_{c} + fp_{c}) AS precision, tp_{c} / (tp_{c} + fn_{c}) AS recall, "
    f"2 * tp_{c} / (2 * tp_{c} + fp_{c} + fn_{c}) AS f1 FROM c"
    for c in (0, 1, 2)
) + "\nORDER BY class"


def a7_multiclass_summary(spark, sf_dir):
    return M.multiclass_summary(_mc_frame(spark, sf_dir), "y", "p", [0, 1, 2])


def _m(expr_fmt: str, c: int) -> str:
    return expr_fmt.format(c=c)


_PREC = "tp_{c} / (tp_{c} + fp_{c})"
_REC = "tp_{c} / (tp_{c} + fn_{c})"
_F1 = "2 * tp_{c} / (2 * tp_{c} + fp_{c} + fn_{c})"
_SUP = "(tp_{c} + fn_{c})"

MC_SUMMARY_SQL = (
    "WITH c AS (" + _mc_cte() + ")\n"
    "SELECT correct / n AS accuracy, "
    f"(({_m(_PREC,0)} + {_m(_PREC,1)}) + {_m(_PREC,2)}) / 3 AS macro_precision, "
    f"(({_m(_REC,0)} + {_m(_REC,1)}) + {_m(_REC,2)}) / 3 AS macro_recall, "
    f"(({_m(_F1,0)} + {_m(_F1,1)}) + {_m(_F1,2)}) / 3 AS macro_f1, "
    f"(({_m(_F1,0)} * {_m(_SUP,0)} + {_m(_F1,1)} * {_m(_SUP,1)}) + {_m(_F1,2)} * {_m(_SUP,2)}) / n AS weighted_f1 "
    "FROM c"
)


def a10_pr_curve_ap(spark, sf_dir):
    return M.pr_curve_with_ap(scored_events(spark, sf_dir), "label", "score")


PR_AP_SQL = f"""
WITH by_s AS (
  SELECT score AS threshold,
         CAST(sum(CASE WHEN label = 1 THEN 1 ELSE 0 END) AS BIGINT) AS pos,
         CAST(sum(CASE WHEN label = 0 THEN 1 ELSE 0 END) AS BIGINT) AS neg
  FROM ({SCORED_SQL}) GROUP BY score
), curve AS (
  SELECT threshold,
    CAST(sum(pos) OVER w AS BIGINT) AS cum_tp,
    CAST(sum(neg) OVER w AS BIGINT) AS cum_fp,
    CAST(sum(pos) OVER w AS BIGINT) / CAST(sum(pos) OVER () AS BIGINT) AS recall
  FROM by_s
  WINDOW w AS (ORDER BY threshold DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), staged AS (
  SELECT threshold, recall,
    cum_tp / (cum_tp + cum_fp) AS precision,
    ((cum_tp - COALESCE(lag(cum_tp) OVER (ORDER BY threshold DESC), 0))
      / CAST(max(cum_tp) OVER () AS BIGINT)) * (cum_tp / (cum_tp + cum_fp)) AS contrib
  FROM curve
)
SELECT threshold, precision, recall,
  round(sum(contrib) OVER (ORDER BY threshold DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 9) AS ap_cum
FROM staged ORDER BY threshold DESC
"""


# --- quantized-knob variants over the continuous-score fixture -------------
# (VERDICT r1 #3: |distinct scores| must be bounded by construction when
# scores are near-unique; these prove the knob is oracle-exact)


def m_roc_auc_quant(spark, sf_dir):
    return M.roc_auc(
        scored_events_continuous(spark, sf_dir), "label", "score", score_precision=4
    )


ROC_AUC_QUANT_SQL = f"""
WITH ranked AS (
  SELECT label AS y, score AS s, row_number() OVER (ORDER BY score) AS rn
  FROM ({_QUANT_CONT_SQL})
), r2 AS (
  SELECT y, avg(rn) OVER (PARTITION BY s) AS rank FROM ranked
)
SELECT (sum(CASE WHEN y = 1 THEN rank END)
        - CAST(sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT)
          * (CAST(sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) + 1) / 2)
       / (CAST(sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT)
          * CAST(sum(CASE WHEN y = 0 THEN 1 ELSE 0 END) AS BIGINT)) AS roc_auc
FROM r2
"""


def m_roc_curve_quant(spark, sf_dir):
    return M.roc_curve(
        scored_events_continuous(spark, sf_dir), "label", "score", score_precision=4
    )


ROC_CURVE_QUANT_SQL = f"""
WITH by_s AS (
  SELECT score AS threshold,
         CAST(sum(CASE WHEN label = 1 THEN 1 ELSE 0 END) AS BIGINT) AS pos,
         CAST(sum(CASE WHEN label = 0 THEN 1 ELSE 0 END) AS BIGINT) AS neg
  FROM ({_QUANT_CONT_SQL}) GROUP BY score
)
SELECT threshold,
  CAST(sum(pos) OVER w AS BIGINT) AS cum_tp,
  CAST(sum(neg) OVER w AS BIGINT) AS cum_fp,
  CAST(sum(pos) OVER w AS BIGINT) / CAST(sum(pos) OVER () AS BIGINT) AS tpr,
  CAST(sum(neg) OVER w AS BIGINT) / CAST(sum(neg) OVER () AS BIGINT) AS fpr
FROM by_s
WINDOW w AS (ORDER BY threshold DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
ORDER BY threshold DESC
"""


def m_threshold_sweep_quant(spark, sf_dir):
    return M.threshold_sweep(
        scored_events_continuous(spark, sf_dir),
        "label",
        "score",
        beta=0.5,
        score_precision=4,
    )


SWEEP_QUANT_SQL = f"""
WITH by_s AS (
  SELECT score AS s,
         CAST(sum(CASE WHEN label = 1 THEN 1 ELSE 0 END) AS BIGINT) AS pos,
         CAST(sum(CASE WHEN label = 0 THEN 1 ELSE 0 END) AS BIGINT) AS neg
  FROM ({_QUANT_CONT_SQL}) GROUP BY score
), th AS (SELECT i / 100 AS threshold FROM range(1, 100) t(i)),
agg AS (
  SELECT threshold,
    CAST(sum(CASE WHEN s >= threshold THEN pos ELSE 0 END) AS BIGINT) AS tp,
    CAST(sum(CASE WHEN s >= threshold THEN neg ELSE 0 END) AS BIGINT) AS fp,
    CAST(sum(CASE WHEN s < threshold THEN pos ELSE 0 END) AS BIGINT) AS fn
  FROM th CROSS JOIN by_s GROUP BY threshold
)
SELECT threshold, tp, fp, fn,
  1.25 * tp / (1.25 * tp + 0.25 * fn + fp) AS fbeta
FROM agg ORDER BY threshold
"""


def m_pr_ap_quant(spark, sf_dir):
    return M.pr_curve_with_ap(
        scored_events_continuous(spark, sf_dir), "label", "score", score_precision=4
    )


PR_AP_QUANT_SQL = f"""
WITH by_s AS (
  SELECT score AS threshold,
         CAST(sum(CASE WHEN label = 1 THEN 1 ELSE 0 END) AS BIGINT) AS pos,
         CAST(sum(CASE WHEN label = 0 THEN 1 ELSE 0 END) AS BIGINT) AS neg
  FROM ({_QUANT_CONT_SQL}) GROUP BY score
), curve AS (
  SELECT threshold,
    CAST(sum(pos) OVER w AS BIGINT) AS cum_tp,
    CAST(sum(neg) OVER w AS BIGINT) AS cum_fp,
    CAST(sum(pos) OVER w AS BIGINT) / CAST(sum(pos) OVER () AS BIGINT) AS recall
  FROM by_s
  WINDOW w AS (ORDER BY threshold DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), staged AS (
  SELECT threshold, recall,
    cum_tp / (cum_tp + cum_fp) AS precision,
    ((cum_tp - COALESCE(lag(cum_tp) OVER (ORDER BY threshold DESC), 0))
      / CAST(max(cum_tp) OVER () AS BIGINT)) * (cum_tp / (cum_tp + cum_fp)) AS contrib
  FROM curve
)
SELECT threshold, precision, recall,
  round(sum(contrib) OVER (ORDER BY threshold DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 9) AS ap_cum
FROM staged ORDER BY threshold DESC
"""

ROLLUP_SQL = """
SELECT l_returnflag, l_linestatus, count(*) AS n,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
"""


def agg_rollup(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("l_quantity").cast("decimal(18,4)")).cast("double").alias("sum_qty"),
        )
        .orderBy(
            F.col("l_returnflag").asc_nulls_first(),
            F.col("l_linestatus").asc_nulls_first(),
        )
    )


DISTINCT_USERS_SQL = """
SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n_events
FROM events GROUP BY event_type ORDER BY event_type
"""


def agg_distinct_users(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("n_users"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("event_type")
    )


TOPK_PER_GROUP_SQL = """
SELECT o_custkey, o_orderkey, o_totalprice, CAST(rn AS INTEGER) AS rn
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders
) WHERE rn <= 3
ORDER BY o_custkey, rn
"""


def w5_topk_per_group(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
        .orderBy("o_custkey", "rn")
    )


def a1_class_distribution(spark, sf_dir):
    return split.class_distribution(load_table(spark, sf_dir, "orders"), "o_orderstatus")


CLASS_DIST_SQL = """
SELECT o_orderstatus, count(*) AS n,
       count(*) / CAST(sum(count(*)) OVER () AS BIGINT) AS fraction
FROM orders GROUP BY 1 ORDER BY 1
"""


def a14_variance(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    return M.column_variance(li, ["l_discount", "l_quantity", "l_tax"])


def _var_sql(col: str) -> str:
    d = f"CAST({col} AS DECIMAL(18,4))"
    return (
        f"SELECT '{col}' AS column_name, "
        f"(CAST(sum({d} * {d}) AS DOUBLE) - CAST(sum({d}) AS DOUBLE) * CAST(sum({d}) AS DOUBLE) / CAST(count(*) AS DOUBLE)) "
        f"/ (CAST(count(*) AS DOUBLE) - 1.0) AS variance FROM lineitem"
    )


VARIANCE_SQL = (
    _var_sql("l_discount")
    + " UNION ALL "
    + _var_sql("l_quantity")
    + " UNION ALL "
    + _var_sql("l_tax")
    + " ORDER BY column_name"
)

# ---------------------------------------------------------------------------
# windows over event time (streaming-compatible tumbling window, batch form)
# ---------------------------------------------------------------------------


def e_hourly_window(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("total_value"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "total_value")
        .orderBy("window_start", "event_type")
    )


HOURLY_SQL = """
SELECT date_trunc('hour', ts) AS window_start, event_type, count(*) AS n,
       CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
FROM events GROUP BY 1, 2 ORDER BY 1, 2
"""


def st_sessionize(spark, sf_dir):
    from ..streaming.events import sessionize_batch

    ev = load_table(spark, sf_dir, "events")
    return sessionize_batch(ev, gap_minutes=30)


SESSIONIZE_SQL = """
WITH g AS (
  SELECT user_id, event_id, ts, value,
    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
              OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
         THEN 1 ELSE 0 END AS ns
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), s AS (
  SELECT *, CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
  FROM g
)
SELECT user_id, session_seq,
  min(ts) AS session_start, max(ts) AS session_end,
  count(*) AS n_events,
  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
FROM s GROUP BY 1, 2 ORDER BY 1, 2
"""

# ---------------------------------------------------------------------------
# dedup / text analysis / similarity / multimodal (LLM-data extensions)
# ---------------------------------------------------------------------------


def d_exact_dup_groups(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return dedup.exact_duplicate_groups(docs, "text", "doc_id")


EXACT_DUP_SQL = """
SELECT md5(text) AS content_hash, CAST(min(doc_id) AS BIGINT) AS keeper_id,
       count(*) AS n_copies
FROM documents GROUP BY md5(text) HAVING count(*) > 1 ORDER BY keeper_id
"""

# 5-gram shingles: this corpus has a small shingle vocabulary, so 3-gram
# Jaccard between *random* doc pairs averages ~0.45 (near-dup threshold 0.5
# would mark 40% of all pairs); 5-grams separate random (~0.17 avg) from
# true near-dups cleanly AND keep LSH buckets small (no quadratic blowup).
_SHINGLE_SQL = (
    "list_distinct([substr(text, i, 5) FOR i IN range(1, greatest(length(text)-4, 1)+1)])"
)


def s9_online_export(spark, sf_dir):
    """S2-variant online-store export core (Feast materialize stand-in):
    latest event per (user_id, event_type) — the frame an online store is
    loaded from; the relational part is the oracle surface."""
    from ..sources.io import latest_per_key

    ev = load_table(spark, sf_dir, "events")
    return latest_per_key(
        ev,
        ["user_id", "event_type"],
        "ts",
        feature_cols=["event_id", "value"],
        tiebreak_cols=["event_id"],
    ).orderBy("user_id", "event_type")


S9_ONLINE_SQL = """
SELECT user_id, event_type, ts, event_id, value FROM (
  SELECT user_id, event_type, ts, event_id, value,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) WHERE rn = 1
ORDER BY user_id, event_type
"""


def d_ngram_jaccard(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return dedup.ngram_jaccard_pairs(
        docs, "doc_id", "text", n=5, threshold=0.6, block_cols=("lang",), length_band=50
    )


NGRAM_JACCARD_SQL = f"""
WITH sh AS (
  SELECT doc_id, lang, length(text) AS len, {_SHINGLE_SQL} AS s FROM documents
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       len(list_intersect(a.s, b.s)) / len(list_distinct(list_concat(a.s, b.s))) AS jaccard_sim
FROM sh a JOIN sh b
  ON a.lang = b.lang AND a.doc_id < b.doc_id AND abs(a.len - b.len) <= 50
WHERE len(list_intersect(a.s, b.s)) / len(list_distinct(list_concat(a.s, b.s))) >= 0.6
ORDER BY id_a, id_b
"""


def d_minhash_pairs(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return dedup.minhash_dedup_pairs(
        docs, "doc_id", "text", threshold=0.6, shingle_size=5
    )


# d3 IS oracle-checkable: its output is the exact-Jaccard-verified subset of
# the LSH candidates, and on this corpus every true pair has J >= 0.93 (the
# nearest exact pair sits far above the 0.6 threshold), where a 16-band/
# r=4 signature misses with P ~ (1-0.93^4)^16 < 1e-9 — so the emitted set
# equals the full exact pair set and the brute-force SQL below is its oracle.
MINHASH_EXACT_SQL = f"""
WITH sh AS (
  SELECT doc_id, {_SHINGLE_SQL} AS s FROM documents
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       len(list_intersect(a.s, b.s)) / len(list_distinct(list_concat(a.s, b.s))) AS jaccard_sim
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE len(list_intersect(a.s, b.s)) / len(list_distinct(list_concat(a.s, b.s))) >= 0.6
ORDER BY id_a, id_b
"""


def d_simhash_pairs(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return dedup.simhash_near_pairs(docs, "doc_id", "text", max_hamming=3)


def d7_near_dup_groups(spark, sf_dir):
    """Connected components over the (oracle-proven) MinHash near-dup pairs:
    (doc_id, group_id = min member). The deletion-list primitive."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.minhash_dedup_pairs(
        docs, "doc_id", "text", threshold=0.6, shingle_size=5, sort_result=False
    )
    return dedup.connected_components(pairs).orderBy("id").select(
        F.col("id").alias("doc_id"), "group_id"
    )


# recursive transitive closure over the same exact pair set d3 is checked
# against — DuckDB computes components exactly on the (small) dup graph
D7_GROUPS_SQL = f"""
WITH RECURSIVE pairs AS ({MINHASH_EXACT_SQL.replace("ORDER BY id_a, id_b", "")}),
edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION ALL
  SELECT id_b, id_a FROM pairs
),
reach(id, label) AS (
  SELECT a, a FROM edges
  UNION
  SELECT e.b, r.label FROM reach r JOIN edges e ON e.a = r.id
)
SELECT id AS doc_id, min(label) AS group_id FROM reach GROUP BY id ORDER BY doc_id
"""


def d8_canonical_docs(spark, sf_dir):
    """Keeper per near-dup group: longest text, ties to smallest doc id."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.minhash_dedup_pairs(
        docs, "doc_id", "text", threshold=0.6, shingle_size=5, sort_result=False
    )
    groups = dedup.connected_components(pairs)
    return dedup.canonical_per_group(docs, groups, "doc_id", "text").orderBy(
        "group_id"
    )


D8_CANONICAL_SQL = f"""
WITH comp AS ({D7_GROUPS_SQL.replace("ORDER BY doc_id", "")})
SELECT group_id, doc_id AS canonical_id FROM (
  SELECT c.group_id, c.doc_id,
         row_number() OVER (PARTITION BY c.group_id
                            ORDER BY length(d.text) DESC, c.doc_id) AS rn
  FROM comp c JOIN documents d ON d.doc_id = c.doc_id
) WHERE rn = 1 ORDER BY group_id
"""


def _pair_recall_summary(exact: DataFrame, approx: DataFrame, keys: list[str]) -> DataFrame:
    """One-row (n_exact, n_approx, n_common, recall_ppm) frame — fully lazy,
    deterministic given deterministic inputs (all our hashes are seeded).
    recall_ppm is an exact integer: floor(n_common * 1e6 / n_exact).

    Each input is read once: one full-outer join on the keys (a pair set
    holds each key once) and one global aggregate count both sets and
    their common keys. The join also drops the inputs' presentation
    sorts, which a union would keep as mid-plan global sorts."""
    both = exact.select(*keys, F.lit(1).alias("__e")).join(
        approx.select(*keys, F.lit(1).alias("__a")), on=keys, how="full_outer"
    )
    in_both = F.col("__e").isNotNull() & F.col("__a").isNotNull()
    return both.agg(
        F.count("__e").alias("n_exact"),
        F.count("__a").alias("n_approx"),
        F.count_if(in_both).alias("n_common"),
    ).select(
        "n_exact",
        "n_approx",
        "n_common",
        F.floor(F.col("n_common") * 1000000 / F.col("n_exact"))
        .cast("long")
        .alias("recall_ppm"),
    )


def d4r_simhash_recall(spark, sf_dir):
    """SimHash banding recall vs the brute-force popcount ground truth —
    1.0 BY CONSTRUCTION (pigeonhole: hamming<=3 over 4 chunks of 16 bits
    forces one exact chunk match); this query makes the invariant a
    driver-visible deterministic row."""
    docs = load_table(spark, sf_dir, "documents")
    banded = dedup.simhash_near_pairs(docs, "doc_id", "text", max_hamming=3)
    fps = dedup.simhash(docs, "doc_id", "text")
    a = fps.select(F.col("id").alias("id_a"), F.col("simhash").alias("fp_a"))
    b = fps.select(F.col("id").alias("id_b"), F.col("simhash").alias("fp_b"))
    brute = (
        a.join(b, a.id_a < b.id_b)
        .filter(F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b"))) <= 3)
        .select("id_a", "id_b")
    )
    return _pair_recall_summary(brute, banded, ["id_a", "id_b"])


def d6r_embedding_lsh_recall(spark, sf_dir):
    """Sign-LSH near-dup recall vs the exact cosine pair set (threshold 0.4
    sits in the random-cosine tail, so banding recall is well below 1 —
    the point of this row is that it is DETERMINISTIC and tracked)."""
    emb = load_table(spark, sf_dir, "embeddings")
    exact = dedup.embedding_near_dup_pairs(emb, "vec_id", "embedding", threshold=0.4)
    approx = dedup.embedding_near_dup_lsh(
        emb, "vec_id", "embedding", threshold=0.4, dim=64
    )
    return _pair_recall_summary(exact, approx, ["id_a", "id_b"])


def sim2r_lsh_topk_recall(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    exact = similarity.brute_force_topk(emb, "vec_id", "embedding", k=5)
    approx = similarity.lsh_topk(emb, "vec_id", "embedding", k=5, dim=64)
    return _pair_recall_summary(exact, approx, ["query_id", "neighbor_id"])


def sim3r_ivf_topk_recall(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    exact = similarity.brute_force_topk(emb, "vec_id", "embedding", k=5)
    approx = similarity.ivf_topk(
        emb, "vec_id", "embedding", k=5, n_centroids=16, n_probe=4
    )
    return _pair_recall_summary(exact, approx, ["query_id", "neighbor_id"])


def x_token_counts(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return text.token_counts(docs, "doc_id", "text")


TOKEN_COUNTS_SQL = r"""
SELECT doc_id,
  CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_ws_tokens,
  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_bpe_tokens
FROM documents
"""


def x_quality_scores(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return text.quality_scores(docs, "doc_id", "text")


_EN_STOP = "['the','and','of','to','a','in','is','that','it','for']"

QUALITY_SQL = rf"""
WITH base AS (
  SELECT doc_id,
    CAST(length(text) AS BIGINT) AS n_chars,
    regexp_split_to_array(trim(text), '\s+') AS toks,
    CAST(length(text) - length(regexp_replace(text, '[^A-Za-z0-9\s]', '', 'g')) AS BIGINT) AS n_punct,
    CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS BIGINT) AS n_alpha
  FROM documents
)
SELECT doc_id, n_chars,
  CAST(len(toks) AS BIGINT) AS n_words,
  n_punct / n_chars AS punct_ratio,
  n_alpha / n_chars AS alpha_ratio,
  (n_chars - (CAST(len(toks) AS BIGINT) - 1)) / CAST(len(toks) AS BIGINT) AS mean_word_len,
  CAST(len(list_filter(toks, x -> list_contains({_EN_STOP}, lower(x)))) AS BIGINT)
    / CAST(len(toks) AS BIGINT) AS stopword_ratio
FROM base
"""


def x_language_id(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return text.language_id(docs, "doc_id", "text")


_STOP_SQL = {
    "de": "['der','die','und','das','in','von','zu','mit','ist','den']",
    "en": "['the','and','of','to','a','in','is','that','it','for']",
    "es": "['el','la','de','que','y','en','un','es','no','por']",
    "fr": "['le','la','de','et','les','des','en','un','une','que']",
}

LANG_ID_SQL = r"""
WITH toks AS (
  SELECT doc_id,
    list_distinct(list_transform(regexp_split_to_array(trim(text), '\s+'), x -> lower(x))) AS t
  FROM documents
), scored AS (
  SELECT doc_id,
    CAST(len(list_intersect(t, {de})) AS INTEGER) AS score_de,
    CAST(len(list_intersect(t, {en})) AS INTEGER) AS score_en,
    CAST(len(list_intersect(t, {es})) AS INTEGER) AS score_es,
    CAST(len(list_intersect(t, {fr})) AS INTEGER) AS score_fr
  FROM toks
)
SELECT doc_id, score_de, score_en, score_es, score_fr,
  CASE WHEN greatest(score_de, score_en, score_es, score_fr) = 0 THEN 'und'
       WHEN score_de = greatest(score_de, score_en, score_es, score_fr) THEN 'de'
       WHEN score_en = greatest(score_de, score_en, score_es, score_fr) THEN 'en'
       WHEN score_es = greatest(score_de, score_en, score_es, score_fr) THEN 'es'
       ELSE 'fr' END AS predicted_lang
FROM scored
""".format(**_STOP_SQL)


def x_fingerprint(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return text.fingerprint(docs, "doc_id", "text")


FINGERPRINT_SQL = r"""
SELECT doc_id, md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fingerprint
FROM documents
"""


def x5_repetition_scores(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return text.repetition_scores(docs, "doc_id", "text")


# top-bigram count via group-count in SQL == the engine's sorted-run fold
# (equal grams are adjacent after sorting, so max run == max frequency)
X5_REPETITION_SQL = r"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents
),
big AS (
  SELECT doc_id,
         unnest(list_transform(
           range(1, greatest(len(t) - 2, 0) + 2),
           i -> array_to_string(t[i:i+1], ' '))) AS g
  FROM toks
),
bc AS (SELECT doc_id, g, count(*) AS c FROM big GROUP BY doc_id, g),
agg AS (
  SELECT doc_id, max(c) AS top_bigram_n, sum(c) AS n_bigrams
  FROM bc GROUP BY doc_id
)
SELECT t.doc_id,
       CAST(len(t.t) AS BIGINT) AS n_tokens,
       CAST(len(t.t) - len(list_distinct(t.t)) AS DOUBLE) / len(t.t) AS dup_word_frac,
       CAST(a.top_bigram_n AS BIGINT) AS top_bigram_n,
       CAST(a.n_bigrams AS BIGINT) AS n_bigrams,
       CAST(a.top_bigram_n AS DOUBLE) / a.n_bigrams AS top_bigram_frac
FROM toks t JOIN agg a USING (doc_id)
ORDER BY doc_id
"""


def d9_decontaminate(spark, sf_dir):
    """Benchmark decontamination demo: every 7th doc plays the held-out
    eval set; the rest of the corpus is scanned for 8-gram overlap
    (9 contaminated docs at sf0.01, 57 at sf0.1 — a selective, non-empty
    check)."""
    docs = load_table(spark, sf_dir, "documents")
    probes = docs.filter(F.col("doc_id") % 7 == 0)
    corpus = docs.filter(F.col("doc_id") % 7 != 0)
    return text.ngram_contamination(corpus, probes, "doc_id", "text", n=8)


D9_DECONTAM_SQL = r"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents
),
grams AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
           range(1, greatest(len(t) - 8, 0) + 2),
           i -> array_to_string(t[i:i+7], ' ')))) AS g
  FROM toks
),
probe AS (SELECT doc_id AS probe_id, g FROM grams WHERE doc_id % 7 = 0)
SELECT c.doc_id,
       count(DISTINCT c.g) AS n_matched_ngrams,
       count(DISTINCT p.probe_id) AS n_probes_hit
FROM grams c JOIN probe p ON c.g = p.g AND c.doc_id <> p.probe_id
WHERE c.doc_id % 7 <> 0
GROUP BY c.doc_id
ORDER BY c.doc_id
"""


def pipe1_clean_corpus(spark, sf_dir):
    """Flagship LLM-data composition: the canonical corpus-cleaning pass —
    normalized-fingerprint exact dedup (keep min id), quality gates
    (word count, punctuation ratio, alpha ratio), and a length band — as
    ONE declarative plan Catalyst optimizes end-to-end (the quality
    expressions and the dedup semi-join all stay JVM-side; the only
    shuffles are the fingerprint groupBy and the joins)."""
    docs = load_table(spark, sf_dir, "documents")
    q = text.quality_scores(docs, "doc_id", "text")
    keepers = (
        text.fingerprint(docs, "doc_id", "text")
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    return (
        docs.select("doc_id", "lang")  # docs has its own n_chars: use q's
        .join(q, "doc_id")
        .join(keepers, "doc_id", "left_semi")
        .filter(
            (F.col("n_words") >= 5)
            & (F.col("punct_ratio") <= 0.2)
            & (F.col("alpha_ratio") >= 0.5)
            & F.col("n_chars").between(50, 5000)
        )
        .select("doc_id", "lang", "n_chars", "n_words")
        .orderBy("doc_id")
    )


PIPE1_SQL = rf"""
WITH q AS ({QUALITY_SQL}),
fp AS (
  SELECT doc_id, md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp
  FROM documents
),
keep AS (SELECT min(doc_id) AS doc_id FROM fp GROUP BY fp)
SELECT d.doc_id, d.lang, q.n_chars, q.n_words
FROM documents d
JOIN q ON q.doc_id = d.doc_id
JOIN keep ON keep.doc_id = d.doc_id
WHERE q.n_words >= 5 AND q.punct_ratio <= 0.2 AND q.alpha_ratio >= 0.5
  AND q.n_chars BETWEEN 50 AND 5000
ORDER BY d.doc_id
"""


def mm_payload_metadata(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    payloads = multimodal.attach_binary_payload(docs, "text")
    return multimodal.payload_metadata(payloads, "doc_id", "payload")


PAYLOAD_META_SQL = """
SELECT doc_id, octet_length(encode(text)) AS n_bytes, 'unknown' AS format,
       md5(text) AS content_md5
FROM documents
"""


def sim_topk_bruteforce(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.brute_force_topk(emb, "vec_id", "embedding", k=5)


SIM_TOPK_SQL = """
WITH n AS (
  SELECT vec_id, embedding,
    sqrt(list_reduce(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                     (x, y) -> x + y)) AS nrm
  FROM embeddings
), pairs AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
    round(list_reduce(list_transform(list_zip(a.embedding, b.embedding),
                                     p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)),
                      (x, y) -> x + y) / (a.nrm * b.nrm), 6) AS cosine_sim
  FROM n a JOIN n b ON a.vec_id != b.vec_id
)
SELECT query_id, neighbor_id, cosine_sim FROM pairs
QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY cosine_sim DESC, neighbor_id) <= 5
ORDER BY query_id, cosine_sim DESC, neighbor_id
"""


def sim_topk_sharded(spark, sf_dir):
    """Same exact top-k as sim1, forced through the distributed block-
    nested-loop path (hash-sharded corpus + cogroup rerank + merge window)
    — shares sim1's oracle, proving the no-broadcast mode is result-
    identical."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.brute_force_topk(emb, "vec_id", "embedding", k=5, n_shards=4)


def sim_lsh_topk(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.lsh_topk(emb, "vec_id", "embedding", k=5, dim=64)


def sim_ivf_topk(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.ivf_topk(
        emb, "vec_id", "embedding", k=5, n_centroids=16, n_probe=4
    )


def ml1b_validation_leaderboard(spark, sf_dir):
    """ORACLE-EXACT replacement for the rows-only ml1 slot (round-8
    verdict #5, the a11 pattern): the flagship flow's REAL data path —
    orders⋈customer frame, boundary-exact high-value label
    (price·n > Σprice, cross-multiplied decimal so no float-avg boundary
    flip), the REAL md5-free stratified split on that computed label —
    feeding a champion leaderboard of three deterministic pseudo-models
    scored on the VALIDATION side only, with exact integer correct
    counts and argmax + lexicographic tie-break. Everything after the
    LBFGS fit is the flow's verifiable skeleton; the MLlib fit itself
    stays pytest-covered end-to-end
    (tests/test_workflow_e2e.py, tests/test_ml_pipeline_query.py)."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    df = orders.join(
        F.broadcast(cust), orders.o_custkey == cust.c_custkey
    ).select("o_orderkey", "o_totalprice")
    tot = df.agg(
        F.sum(F.col("o_totalprice").cast("decimal(20,4)")).alias("__s"),
        F.count(F.lit(1)).alias("__n"),
    )
    # round-13: the labeled frame is consumed by the split validator's
    # driver action AND by every subtree of the bucketed-rank split
    # (~5 recomputations of the join+total-agg lineage, 24 parquet scans
    # in one plan); one lazy localCheckpoint makes it compute once
    # (2.36 → 1.52 s min-of-5 alternating A/B at sf0.1, identical rows)
    labeled = df.join(F.broadcast(tot)).select(
        "o_orderkey",
        (
            F.col("o_totalprice").cast("decimal(20,4)") * F.col("__n")
            > F.col("__s")
        )
        .cast("int")
        .alias("y"),
    ).localCheckpoint(eager=False)
    valid = split.stratified_split_column(
        labeled, "y", "o_orderkey", 0.8
    ).filter(F.col("split") == "test")
    # ONE aggregation pass scores all three pseudo-models (the split
    # lineage — join + bucketed-rank window — is the expensive part, so
    # a per-model union would re-run it 3x); the 1-row wide aggregate
    # unpivots to the 3-row leaderboard via stack.
    def _correct(mult: int):
        pred = (((F.col("o_orderkey") * mult) % 1024) >= 512).cast("int")
        return F.sum((F.col("y") == pred).cast("long")).alias(f"nc_{mult}")

    wide = valid.agg(
        F.count(F.lit(1)).alias("n"), _correct(37), _correct(59), _correct(83)
    )
    rows = wide.selectExpr(
        "stack(3, 'm37', nc_37, 'm59', nc_59, 'm83', nc_83)"
        " AS (model, n_correct)",
        "n",
    ).select("model", "n", "n_correct")
    w = Window.orderBy(F.col("n_correct").desc(), "model")
    return (
        rows.withColumn(
            "is_champion", (F.row_number().over(w) == 1).cast("int")
        )
        .orderBy("model")
    )


ML1B_SQL = """
WITH base AS (
  SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(20,4)) AS price
  FROM orders JOIN customer ON o_custkey = c_custkey
),
tot AS (SELECT sum(price) AS s, count(*) AS n FROM base),
labeled AS (
  SELECT o_orderkey,
         CASE WHEN price * tot.n > tot.s THEN 1 ELSE 0 END AS y
  FROM base CROSS JOIN tot
),
valid AS (
  SELECT o_orderkey, y FROM (
    SELECT o_orderkey, y,
           percent_rank() OVER (
             PARTITION BY y
             ORDER BY (o_orderkey * 2654435761) % 1000000007, o_orderkey
           ) AS pr
    FROM labeled
  ) WHERE pr >= 0.8
),
m AS (
  SELECT 'm37' AS model, count(*) AS n,
         sum(CASE WHEN (CASE WHEN (o_orderkey * 37) % 1024 >= 512 THEN 1 ELSE 0 END) = y THEN 1 ELSE 0 END) AS n_correct
  FROM valid
  UNION ALL
  SELECT 'm59', count(*),
         sum(CASE WHEN (CASE WHEN (o_orderkey * 59) % 1024 >= 512 THEN 1 ELSE 0 END) = y THEN 1 ELSE 0 END)
  FROM valid
  UNION ALL
  SELECT 'm83', count(*),
         sum(CASE WHEN (CASE WHEN (o_orderkey * 83) % 1024 >= 512 THEN 1 ELSE 0 END) = y THEN 1 ELSE 0 END)
  FROM valid
)
SELECT model, CAST(n AS BIGINT) AS n, CAST(n_correct AS BIGINT) AS n_correct,
       CASE WHEN row_number() OVER (ORDER BY n_correct DESC, model) = 1
            THEN 1 ELSE 0 END AS is_champion
FROM m ORDER BY model
"""


# ---------------------------------------------------------------------------
# A8 one-vs-rest macro AUC; set ops; anti join; cube; Q10; embedding dedup
# ---------------------------------------------------------------------------

_OVR_MULT = (37, 59, 83)  # per-class pseudo-score multipliers (exact k/1024)


def a8_auc_ovr(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    df = ev.select(
        (F.col("event_id") % 3).cast("int").alias("y"),
        *[
            (((F.col("event_id") * m) % 1024) / F.lit(1024.0)).alias(f"s{i}")
            for i, m in enumerate(_OVR_MULT)
        ],
    )
    return M.roc_auc_ovr(df, "y", {0: "s0", 1: "s1", 2: "s2"})


AUC_OVR_SQL = """
WITH base AS (
  SELECT CAST(event_id % 3 AS INTEGER) AS y,
         ((event_id * 37) % 1024) / 1024.0 AS s0,
         ((event_id * 59) % 1024) / 1024.0 AS s1,
         ((event_id * 83) % 1024) / 1024.0 AS s2
  FROM events
), stacked AS (
  SELECT '0' AS class, CASE WHEN y = 0 THEN 1 ELSE 0 END AS yy, s0 AS s FROM base
  UNION ALL SELECT '1', CASE WHEN y = 1 THEN 1 ELSE 0 END, s1 FROM base
  UNION ALL SELECT '2', CASE WHEN y = 2 THEN 1 ELSE 0 END, s2 FROM base
), by_s AS (
  SELECT class, s, CAST(sum(yy) AS BIGINT) AS pos, CAST(sum(1 - yy) AS BIGINT) AS neg
  FROM stacked GROUP BY class, s
), contrib AS (
  SELECT class, pos, neg,
         COALESCE(sum(neg) OVER (PARTITION BY class ORDER BY s
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS neg_below
  FROM by_s
), per_class AS (
  SELECT class, sum(pos * (neg_below + neg / 2)) / (sum(pos) * sum(neg)) AS auc
  FROM contrib GROUP BY class
)
SELECT class, auc FROM per_class
UNION ALL
SELECT '__macro__' AS class,
       ((max(CASE WHEN class = '0' THEN auc END)
         + max(CASE WHEN class = '1' THEN auc END))
         + max(CASE WHEN class = '2' THEN auc END)) / 3 AS auc
FROM per_class
ORDER BY class
"""


def d5_embedding_near_dup(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    return dedup.embedding_near_dup_pairs(emb, "vec_id", "embedding", threshold=0.4)


D5_EMB_DUP_SQL = """
WITH n AS (
  SELECT vec_id, embedding,
    sqrt(list_reduce(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                     (x, y) -> x + y)) AS nrm
  FROM embeddings
), pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
    round(list_reduce(list_transform(list_zip(a.embedding, b.embedding),
                                     p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)),
                      (x, y) -> x + y) / (a.nrm * b.nrm), 6) AS cosine_sim
  FROM n a JOIN n b ON a.vec_id < b.vec_id
)
SELECT id_a, id_b, cosine_sim FROM pairs WHERE cosine_sim >= 0.4
ORDER BY id_a, id_b
"""


def d6_embedding_near_dup_lsh(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    return dedup.embedding_near_dup_lsh(
        emb, "vec_id", "embedding", threshold=0.4, dim=64
    )


CUBE_SQL = """
SELECT o_orderstatus, o_orderpriority, count(*) AS n,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
"""


def agg_cube(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,4)")).cast("double").alias("sum_price"),
        )
        .orderBy(
            F.col("o_orderstatus").asc_nulls_first(),
            F.col("o_orderpriority").asc_nulls_first(),
        )
    )


ANTI_JOIN_SQL = """
SELECT c_custkey, c_name, c_mktsegment FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND year(o.o_orderdate) = 1995)
ORDER BY c_custkey
"""


def j5_customers_without_orders(spark, sf_dir):
    """Left-anti join (customers with no 1995 order): both sides grow with
    SF, so this is a shuffled anti join on the customer key (no broadcast);
    the orders side is filtered + pre-projected to the join key only before
    the shuffle."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (
        cust.join(
            orders.filter(F.year("o_orderdate") == 1995).select("o_custkey"),
            cust.c_custkey == F.col("o_custkey"),
            "left_anti",
        )
        .select("c_custkey", "c_name", "c_mktsegment")
        .orderBy("c_custkey")
    )


INTERSECT_SQL = """
SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
INTERSECT
SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
ORDER BY o_custkey
"""


def set1_repeat_customers(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    y95 = orders.filter(F.year("o_orderdate") == 1995).select("o_custkey")
    y96 = orders.filter(F.year("o_orderdate") == 1996).select("o_custkey")
    return y95.intersect(y96).orderBy("o_custkey")


Q10_SQL = """
SELECT c_custkey, c_name, n_name,
  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(1 - CAST(l_discount AS DECIMAL(8,4)) AS DECIMAL(8,4))), 4) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1995-10-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


def f8_label_index(spark, sf_dir):
    """F8 parity: a real MLlib StringIndexer(alphabetAsc) fit+transform,
    whose output is SQL-checkable because alphabetical ordering makes the
    index a dense rank over sorted labels (the sklearn LabelEncoder
    contract, SURVEY §2.7 F8)."""
    from ..features.pipeline import fit_label_indexer

    docs = load_table(spark, sf_dir, "documents")
    model = fit_label_indexer(docs, "lang", "lang_idx")
    return (
        model.transform(docs)
        .select("doc_id", "lang", F.col("lang_idx").cast("int").alias("lang_idx"))
        .orderBy("doc_id")
    )


F8_SQL = """
SELECT doc_id, lang, CAST(dense_rank() OVER (ORDER BY lang) - 1 AS INTEGER) AS lang_idx
FROM documents ORDER BY doc_id
"""


def f4_infrequent_collapse(spark, sf_dir):
    """F4(a-b): fitted infrequent-category collapse (OneHotEncoder
    min_frequency semantics, data.py:109-119) — frequent iff
    count >= minFrequency·n."""
    from ..features.pipeline import InfrequentCollapser

    docs = load_table(spark, sf_dir, "documents")
    model = InfrequentCollapser(inputCols=["source"], minFrequency=0.05).fit(docs)
    return (
        model.transform(docs)
        .select("doc_id", F.col("source").alias("source_collapsed"))
        .orderBy("doc_id")
    )


F4_SQL = """
WITH n AS (SELECT count(*) AS total FROM documents),
freq AS (SELECT source, count(*) AS c FROM documents GROUP BY source)
SELECT doc_id,
  CASE WHEN c >= 0.05 * total THEN d.source ELSE '__infrequent__' END AS source_collapsed
FROM documents d JOIN freq USING (source), n
ORDER BY doc_id
"""


def f3_cat_impute(spark, sf_dir):
    """F3: constant-fill categorical imputer over deterministically-nulled
    input (the testdata has no natural nulls)."""
    from ..features.pipeline import CategoricalImputer

    docs = load_table(spark, sf_dir, "documents").withColumn(
        "source",
        F.when(F.col("doc_id") % 7 == 0, None).otherwise(F.col("source")),
    )
    return (
        CategoricalImputer(inputCols=["source"])
        .transform(docs)
        .select("doc_id", "source")
        .orderBy("doc_id")
    )


F3_SQL = """
SELECT doc_id, CASE WHEN doc_id % 7 = 0 THEN 'Unspecified' ELSE source END AS source
FROM documents ORDER BY doc_id
"""


def a3_imbalance(spark, sf_dir):
    sc = scored_events(spark, sf_dir)
    return sc.agg(
        (
            F.sum((F.col("label") == 0).cast("long"))
            / F.sum((F.col("label") == 1).cast("long"))
        ).alias("imbalance_ratio")
    )


A3_SQL = f"""
SELECT CAST(sum(CASE WHEN label = 0 THEN 1 ELSE 0 END) AS BIGINT)
     / CAST(sum(CASE WHEN label = 1 THEN 1 ELSE 0 END) AS BIGINT) AS imbalance_ratio
FROM ({SCORED_SQL})
"""


Q6_SQL = """
SELECT CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(l_discount AS DECIMAL(8,4))), 4) AS DOUBLE) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount >= 0.05 AND l_discount <= 0.07
  AND l_quantity < 24
"""

Q14_SQL = """
SELECT 100.0
  * CAST(round(sum(CASE WHEN p_type = 'PROMO'
             THEN CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(1 - CAST(l_discount AS DECIMAL(8,4)) AS DECIMAL(8,4))
             ELSE CAST(0 AS DECIMAL(18,4)) END), 4) AS DOUBLE)
  / CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(1 - CAST(l_discount AS DECIMAL(8,4)) AS DECIMAL(8,4))), 4) AS DOUBLE)
  AS promo_revenue_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
"""

Q18_SQL = """
WITH big AS (
  SELECT l_orderkey, CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING sum(CAST(l_quantity AS DECIMAL(18,4))) > 250
)
SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice, sum_qty
FROM big JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 20
"""


def p7_enforce_types(spark, sf_dir):
    """P7: the cast stage with coerce semantics — stringified timestamps
    (some deliberately mangled) parse back via try_to_timestamp → NULL on
    failure (pandas errors='coerce' parity, prep.py:500-556); stringified
    numerics cast to float."""
    ev = load_table(spark, sf_dir, "events")
    stringly = ev.select(
        "event_id",
        F.when(F.col("event_id") % 13 == 0, F.lit("not-a-date"))
        .otherwise(F.date_format("ts", "yyyy-MM-dd HH:mm:ss"))
        .alias("ts"),
        F.col("value").cast("string").alias("value"),
    )
    return prep.enforce_types(
        stringly, numeric_cols=["value"], datetime_cols=["ts"]
    ).select("event_id", "ts", F.col("value").cast("double").alias("value")).orderBy(
        "event_id"
    )


P7_SQL = """
SELECT event_id,
  try_strptime(
    CASE WHEN event_id % 13 = 0 THEN 'not-a-date'
         ELSE strftime(ts, '%Y-%m-%d %H:%M:%S') END,
    '%Y-%m-%d %H:%M:%S') AS ts,
  CAST(CAST(CAST(value AS VARCHAR) AS FLOAT) AS DOUBLE) AS value
FROM events
ORDER BY event_id
"""


EXCEPT_SQL = """
SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
EXCEPT
SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
ORDER BY o_custkey
"""


def set2_lapsed_customers(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    y95 = orders.filter(F.year("o_orderdate") == 1995).select("o_custkey")
    y96 = orders.filter(F.year("o_orderdate") == 1996).select("o_custkey")
    return y95.subtract(y96).orderBy("o_custkey")  # EXCEPT DISTINCT semantics


UNION_SQL = """
SELECT DISTINCT o_custkey AS custkey FROM orders WHERE o_totalprice > 400000
UNION
SELECT c_custkey FROM customer WHERE c_acctbal < 0
ORDER BY custkey
"""


def set3_union_targets(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    a = orders.filter(F.col("o_totalprice") > 400000).select(
        F.col("o_custkey").alias("custkey")
    )
    b = cust.filter(F.col("c_acctbal") < 0).select(F.col("c_custkey").alias("custkey"))
    return a.union(b).distinct().orderBy("custkey")


def agg_percentiles(spark, sf_dir):
    """Exact percentiles (Spark `percentile` ≡ DuckDB `quantile_cont`:
    linear interpolation, verified bit-identical). The approx path for
    100 TB is percentile_approx (mergeable sketches) — exact is the oracle
    surface."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.expr("percentile(value, 0.25)").alias("p25"),
            F.expr("percentile(value, 0.5)").alias("p50"),
            F.expr("percentile(value, 0.9)").alias("p90"),
        )
        .orderBy("event_type")
    )


PERCENTILES_SQL = """
SELECT event_type,
       quantile_cont(value, 0.25) AS p25,
       quantile_cont(value, 0.5) AS p50,
       quantile_cont(value, 0.9) AS p90
FROM events GROUP BY event_type ORDER BY event_type
"""


def fn_string_suite(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.upper("lang").alias("lang_uc"),
        F.substring("source", 1, 3).alias("src3"),
        F.length("text").alias("text_len"),
        F.levenshtein("lang", F.lit("en")).alias("lev_en"),
        F.concat_ws("|", "lang", "source").alias("lang_source"),
    ).orderBy("doc_id")


STRING_SUITE_SQL = """
SELECT doc_id, upper(lang) AS lang_uc, substr(source, 1, 3) AS src3,
       CAST(length(text) AS INTEGER) AS text_len,
       CAST(levenshtein(lang, 'en') AS INTEGER) AS lev_en,
       concat_ws('|', lang, source) AS lang_source
FROM documents ORDER BY doc_id
"""


def fn_date_suite(spark, sf_dir):
    """Temporal-function parity: trunc/extract/diff/add — all JVM
    expressions pushed through whole-stage codegen; every value integral or
    a timestamp so the compare is exact."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.date_trunc("day", "ts").alias("day"),
        F.year("ts").alias("yr"),
        F.month("ts").alias("mo"),
        F.dayofweek("ts").alias("dow"),
        F.hour("ts").alias("hr"),
        (F.col("ts") + F.expr("INTERVAL 90 MINUTES")).alias("ts_plus_90m"),
        F.datediff(F.lit("2024-06-01").cast("date"), F.col("ts").cast("date")).alias(
            "days_to_jun"
        ),
        F.unix_timestamp("ts").alias("epoch_s"),
    ).orderBy("event_id")


# DuckDB: dayofweek ISO differs from Spark (Spark: Sunday=1; DuckDB dow:
# Sunday=0) — align with +1. epoch from UTC-naive ts matches the UTC session.
DATE_SUITE_SQL = """
SELECT event_id,
       CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
       CAST(year(ts) AS INTEGER) AS yr,
       CAST(month(ts) AS INTEGER) AS mo,
       CAST(dayofweek(ts) + 1 AS INTEGER) AS dow,
       CAST(hour(ts) AS INTEGER) AS hr,
       ts + INTERVAL 90 MINUTE AS ts_plus_90m,
       CAST(date_diff('day', CAST(ts AS DATE), DATE '2024-06-01') AS INTEGER) AS days_to_jun,
       CAST(floor(epoch(ts)) AS BIGINT) AS epoch_s
FROM events ORDER BY event_id
"""


def fn_array_suite(spark, sf_dir):
    """Higher-order array-function parity over the embedding column:
    transform/filter/aggregate/slice/sort against DuckDB's list_* family.
    Values quantized (×1000, floor) to integers so the compare is exact."""
    emb = load_table(spark, sf_dir, "embeddings")
    ints = F.transform(
        "embedding", lambda x: F.floor(x.cast("double") * 1000).cast("long")
    )
    return emb.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.size(F.filter(ints, lambda v: v > 0)).alias("n_pos"),
        F.aggregate(ints, F.lit(0).cast("long"), lambda a, x: a + x).alias("sum_milli"),
        F.array_max(ints).alias("max_milli"),
        # array outputs flattened to a joined string: the driver's value
        # compare canonicalizes scalars only, so list-typed columns hash
        # differently between Spark rows and DuckDB->pandas rows (the r4
        # skew2 / r6 fn_array red class). Same flatten on the oracle side.
        F.array_join(F.slice(F.array_sort(ints), 1, 3).cast("array<string>"), ",").alias(
            "bottom3"
        ),
    ).orderBy("vec_id")


ARRAY_SUITE_SQL = """
WITH ints AS (
  SELECT vec_id, len(embedding) AS dim,
         list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS iv
  FROM embeddings
)
SELECT vec_id, CAST(dim AS INTEGER) AS dim,
       CAST(len(list_filter(iv, v -> v > 0)) AS INTEGER) AS n_pos,
       list_reduce(list_prepend(CAST(0 AS BIGINT), iv), (a, x) -> a + x) AS sum_milli,
       list_max(iv) AS max_milli,
       array_to_string(list_sort(iv)[1:3], ',') AS bottom3
FROM ints ORDER BY vec_id
"""


def ts1_hourly_downsample(spark, sf_dir):
    from ..operators import timeseries as TS

    ev = load_table(spark, sf_dir, "events")
    return TS.hourly_downsample(ev, "user_id", "ts", "value")


TS1_SQL = """
SELECT user_id, date_trunc('hour', ts) AS bucket, count(*) AS n,
       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
FROM events GROUP BY 1, 2 ORDER BY user_id, bucket
"""


def ts2_gap_fill(spark, sf_dir):
    from ..operators import timeseries as TS

    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") % 10 == 0)
    return TS.gap_fill_hourly(ev, "user_id", "ts", "value")


TS2_SQL = """
WITH obs AS (
  SELECT user_id AS k, date_trunc('hour', ts) AS bucket,
         CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) / count(*) AS hour_avg
  FROM events WHERE user_id % 10 = 0 GROUP BY 1, 2
), bounds AS (
  SELECT k, min(bucket) AS lo, max(bucket) AS hi FROM obs GROUP BY k
), grid AS (
  SELECT k, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket FROM bounds
)
SELECT g.k AS user_id, g.bucket AS bucket,
  obs.hour_avg IS NOT NULL AS observed,
  last_value(obs.hour_avg IGNORE NULLS) OVER (
    PARTITION BY g.k ORDER BY g.bucket
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_avg
FROM grid g LEFT JOIN obs ON g.k = obs.k AND g.bucket = obs.bucket
ORDER BY user_id, g.bucket
"""


def ts3_time_weighted_avg(spark, sf_dir):
    from ..operators import timeseries as TS

    ev = load_table(spark, sf_dir, "events")
    return TS.time_weighted_avg(ev, "user_id", "ts", "value", "event_id")


TS3_SQL = """
WITH s AS (
  SELECT user_id, CAST(value AS DECIMAL(18,4)) AS v,
    lead(epoch_us(ts) // 1000000) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      - epoch_us(ts) // 1000000 AS dur
  FROM events
)
SELECT user_id,
  CAST(sum(v * dur) AS DOUBLE) / CAST(sum(dur) AS DOUBLE) AS twa,
  CAST(sum(dur) AS BIGINT) AS total_seconds
FROM s WHERE dur IS NOT NULL GROUP BY user_id ORDER BY user_id
"""


GROUPING_SETS_SQL = """
SELECT o_orderstatus, o_orderpriority, count(*) AS n,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
"""


def agg_grouping_sets(spark, sf_dir):
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("__orders_gs")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority, count(*) AS n,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
        FROM __orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST
        """
    )


def a9_ece_multiclass(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    df = ev.select(
        (F.col("event_id") % 3).cast("int").alias("y"),
        *[
            (((F.col("event_id") * m) % 1024) / F.lit(1024.0)).alias(f"s{i}")
            for i, m in enumerate(_OVR_MULT)
        ],
    )
    return M.ece_bins_multiclass(df, "y", {0: "s0", 1: "s1", 2: "s2"}, n_bins=10)


ECE_MC_SQL = """
WITH base AS (
  SELECT CAST(event_id % 3 AS INTEGER) AS y,
         ((event_id * 37) % 1024) / 1024.0 AS s0,
         ((event_id * 59) % 1024) / 1024.0 AS s1,
         ((event_id * 83) % 1024) / 1024.0 AS s2
  FROM events
), scored AS (
  SELECT y, greatest(s0, s1, s2) AS conf,
    CASE WHEN s0 = greatest(s0, s1, s2) THEN 0
         WHEN s1 = greatest(s0, s1, s2) THEN 1
         ELSE 2 END AS pred
  FROM base
)
SELECT LEAST(CAST(floor(conf * 10) AS INTEGER), 9) AS bin,
       count(*) AS n,
       avg(CASE WHEN y = pred THEN 1.0 ELSE 0.0 END) AS accuracy,
       avg(conf) AS avg_confidence
FROM scored GROUP BY 1 ORDER BY 1
"""


def s5_json_props(spark, sf_dir):
    """S5: JSON payload-column ingest (reference api_server.py:150-158,
    pd.json_normalize) — ``from_json`` with an explicit schema, then typed
    aggregation. At scale the parse fuses into the scan stage (one pass,
    whole-stage codegen)."""
    ev = load_table(spark, sf_dir, "events")
    parsed = ev.withColumn("p", F.from_json("props", "k INT"))
    return (
        parsed.groupBy("event_type")
        .agg(
            F.sum(F.col("p.k")).cast("long").alias("sum_k"),
            (F.sum(F.col("p.k")) / F.count(F.lit(1))).alias("avg_k"),
            F.sum((F.col("p.k") > 50).cast("long")).alias("n_high"),
        )
        .orderBy("event_type")
    )


S5_JSON_SQL = """
SELECT event_type,
  CAST(sum(CAST(json_extract(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k,
  CAST(sum(CAST(json_extract(props, '$.k') AS INTEGER)) AS BIGINT) / count(*) AS avg_k,
  CAST(sum(CASE WHEN CAST(json_extract(props, '$.k') AS INTEGER) > 50 THEN 1 ELSE 0 END) AS BIGINT) AS n_high
FROM events GROUP BY event_type ORDER BY event_type
"""


def skew1_salted_join_agg(spark, sf_dir):
    """Salted fact⋈dim join on a 5-value (maximally hot) key — the salted
    plan must produce results bit-identical to the naive join, which is what
    the oracle checks."""
    from ..operators import skew

    ev = load_table(spark, sf_dir, "events")
    dim = ev.groupBy("event_type").agg(F.min("event_id").alias("type_first_id"))
    joined = skew.salted_join(
        ev.select("event_id", "event_type", "value"), dim, "event_type", salt_buckets=8
    )
    return (
        joined.groupBy("event_type", "type_first_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("sum_value"),
        )
        .orderBy("event_type")
    )


SKEW_JOIN_SQL = """
WITH dim AS (SELECT event_type, min(event_id) AS type_first_id FROM events GROUP BY event_type)
SELECT e.event_type, d.type_first_id, count(*) AS n,
       CAST(sum(CAST(e.value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
FROM events e JOIN dim d USING (event_type)
GROUP BY e.event_type, d.type_first_id
ORDER BY e.event_type
"""


def skew2_salted_collect(spark, sf_dir):
    """Two-stage salted collect_list (holistic agg under skew), sorted for
    determinism. The sorted array is emitted as a comma-joined string (plus
    its length) so the result is hashable by pandas-based comparators —
    array cells raise ``unhashable type: 'list'`` in naive canonicalizers."""
    from ..operators import skew

    ev = load_table(spark, sf_dir, "events")
    merged = skew.salted_collect_list(
        ev.select("event_type", "event_id"), ["event_type"], "event_id", 8
    )
    return (
        merged.select(
            "event_type",
            F.size("event_ids").cast("bigint").alias("n_events"),
            F.array_join(F.col("event_ids").cast("array<string>"), ",").alias(
                "event_ids_csv"
            ),
        )
        .orderBy("event_type")
    )


SKEW_COLLECT_SQL = """
SELECT event_type,
       count(*) AS n_events,
       array_to_string(list(CAST(event_id AS VARCHAR) ORDER BY event_id), ',') AS event_ids_csv
FROM events GROUP BY event_type ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

# name -> (spark_callable, oracle_sql or None), filled by query() below.
#
# ORDER MATTERS: the driver's correctness snapshot covers the FIRST 50
# entries only. Declaration order is the historical insertion order; the
# DRIVER_WINDOW block at the END of this module re-picks and reorders the
# first 50 each round (all-oracled, one per operator family — see its
# comment for the current rotation). Everything stays locally verified via
# tools/check_oracle.py regardless of position.
REGISTRY: dict[str, tuple] = {}


def query(name: str, fn, oracle: str | None = None) -> None:
    """Register ``fn(spark, sf_dir) -> DataFrame`` under ``name`` with its
    DuckDB oracle SQL (None = rows-only). Declaring a name twice raises:
    a plain dict assignment would silently replace the earlier entry."""
    if name in REGISTRY:
        raise ValueError(f"registry query {name!r} is already declared")
    REGISTRY[name] = (fn, oracle)


# flagship relational
query("q1_pricing_summary", R.q1_pricing_summary, Q1_SQL)
query("q3_top_orders", R.q3_top_unshipped_orders, Q3_SQL)
query("q5_supplier_volume", R.q5_supplier_volume, Q5_SQL)
query("q7_volume_shipping", R.q7_volume_shipping, Q7_SQL)
query("q10_returned_items", R.q10_returned_items, Q10_SQL)
query("q18_large_volume_customers", R.q18_large_volume_customers, Q18_SQL)
query("q20_above_avg_orders", q20_above_avg_orders, Q20_SQL)
# windows
query("w1_top_parts", R.top_parts_by_price, TOP_PARTS_SQL)
query("w4_running_total", R.customer_running_totals, RUNNING_TOTAL_SQL)
query("w5_topk_per_group", w5_topk_per_group, TOPK_PER_GROUP_SQL)
# prep
query("p3_p4_clean_documents", p_clean_documents, CLEAN_DOCS_SQL)
query("p5_dup_check", p_dup_check, DUP_CHECK_SQL)
query("p6_latest_order_per_customer", R.latest_order_per_customer, LATEST_ORDER_SQL)
query("p7_enforce_types", p7_enforce_types, P7_SQL)
query("p8_null_audit", p_null_audit, NULL_AUDIT_SQL)
# splits / sampling
query("t1_stratified_split", t1_stratified_split, T1_SQL)
query("t2_time_split", t2_time_split, T2_SQL)
query("t7_deterministic_sample", t7_deterministic_sample, T7_SAMPLE_SQL)
# sources / sinks
query("s3_pit_join", s3_pit_join, PIT_SQL)
query("s5_json_props", s5_json_props, S5_JSON_SQL)
query("s9_online_export", s9_online_export, S9_ONLINE_SQL)
# metrics
query("a5_binary_metrics", m_binary_metrics, BINARY_METRICS_SQL)
query("a6_roc_auc", m_roc_auc, ROC_AUC_SQL)
query("a7_multiclass_per_class", a7_multiclass_per_class, MC_PER_CLASS_SQL)
query("a8_auc_ovr_macro", a8_auc_ovr, AUC_OVR_SQL)
query("a9_ece_bins", m_ece_bins, ECE_SQL)
query("a12_roc_curve", m_roc_curve, ROC_CURVE_SQL)
query("a13_lift_gains", m_lift_gains, LIFT_SQL)
query("m8_threshold_sweep", m_threshold_sweep, SWEEP_SQL)
# multi-dimensional aggregates
query("agg_cube", agg_cube, CUBE_SQL)
query("agg_percentiles", agg_percentiles, PERCENTILES_SQL)
# skew handling
query("skew1_salted_join_agg", skew1_salted_join_agg, SKEW_JOIN_SQL)
query("skew2_salted_collect", skew2_salted_collect, SKEW_COLLECT_SQL)
# events / timeseries
query("st_hourly_window", e_hourly_window, HOURLY_SQL)
query("st_sessionize", st_sessionize, SESSIONIZE_SQL)
query("ts2_gap_fill", ts2_gap_fill, TS2_SQL)
query("ts3_time_weighted_avg", ts3_time_weighted_avg, TS3_SQL)
# dedup (LLM-data-pipeline)
query("d1_exact_dup_groups", d_exact_dup_groups, EXACT_DUP_SQL)
query("d2_ngram_jaccard_pairs", d_ngram_jaccard, NGRAM_JACCARD_SQL)
query("d3_minhash_lsh_pairs", d_minhash_pairs, MINHASH_EXACT_SQL)
query("d5_embedding_near_dup", d5_embedding_near_dup, D5_EMB_DUP_SQL)
query("d7_near_dup_groups", d7_near_dup_groups, D7_GROUPS_SQL)
# text analysis
query("x2_quality_scores", x_quality_scores, QUALITY_SQL)
query("x3_language_id", x_language_id, LANG_ID_SQL)
# pipeline / multimodal
query("pipe1_clean_corpus", pipe1_clean_corpus, PIPE1_SQL)
query("mm1_payload_metadata", mm_payload_metadata, PAYLOAD_META_SQL)
# similarity search
query("sim1_topk_bruteforce", sim_topk_bruteforce, SIM_TOPK_SQL)
query("sim1b_topk_sharded", sim_topk_sharded, SIM_TOPK_SQL)
# feature engineering
query("f4_infrequent_collapse", f4_infrequent_collapse, F4_SQL)
query("f8_label_index", f8_label_index, F8_SQL)
# --- beyond the driver window (still locally oracle-verified) ---
query("q4_order_priority", R.q4_order_priority, Q4_SQL)
query("q6_forecast_revenue", R.q6_forecast_revenue, Q6_SQL)
query("q14_promo_revenue", R.q14_promo_revenue, Q14_SQL)
query("j2_split_overlap", t1_overlap, T1_OVERLAP_SQL)
query("j5_customers_without_orders", j5_customers_without_orders, ANTI_JOIN_SQL)
query("p9_recode_status", p_recode_status, RECODE_SQL)
query("a1_class_distribution", a1_class_distribution, CLASS_DIST_SQL)
query("a3_imbalance_ratio", a3_imbalance, A3_SQL)
query("a4_confusion_matrix", m_confusion, CONFUSION_SQL)
query("a7_multiclass_summary", a7_multiclass_summary, MC_SUMMARY_SQL)
query("a9_ece_multiclass", a9_ece_multiclass, ECE_MC_SQL)
query("a10_pr_curve_ap", a10_pr_curve_ap, PR_AP_SQL)
query("a14_feature_variance", a14_variance, VARIANCE_SQL)
query("agg_rollup", agg_rollup, ROLLUP_SQL)
query("agg_grouping_sets", agg_grouping_sets, GROUPING_SETS_SQL)
query("agg_distinct_users", agg_distinct_users, DISTINCT_USERS_SQL)
query("ts1_hourly_downsample", ts1_hourly_downsample, TS1_SQL)
query("fn_string_suite", fn_string_suite, STRING_SUITE_SQL)
query("fn_date_suite", fn_date_suite, DATE_SUITE_SQL)
query("fn_array_suite", fn_array_suite, ARRAY_SUITE_SQL)
query("set1_repeat_customers", set1_repeat_customers, INTERSECT_SQL)
query("set2_lapsed_customers", set2_lapsed_customers, EXCEPT_SQL)
query("set3_union_targets", set3_union_targets, UNION_SQL)
query("x1_token_counts", x_token_counts, TOKEN_COUNTS_SQL)
query("x4_fingerprint", x_fingerprint, FINGERPRINT_SQL)
query("x5_repetition_scores", x5_repetition_scores, X5_REPETITION_SQL)
query("d9_decontaminate", d9_decontaminate, D9_DECONTAM_SQL)
query("d8_canonical_docs", d8_canonical_docs, D8_CANONICAL_SQL)
query("f3_cat_impute", f3_cat_impute, F3_SQL)
# quantized knob-duplicates (same operator, score_precision exercised)
query("a6q_roc_auc_quantized", m_roc_auc_quant, ROC_AUC_QUANT_SQL)
query("a12q_roc_curve_quantized", m_roc_curve_quant, ROC_CURVE_QUANT_SQL)
query("m8q_threshold_sweep_quantized", m_threshold_sweep_quant, SWEEP_QUANT_SQL)
query("a10q_pr_curve_ap_quantized", m_pr_ap_quant, PR_AP_QUANT_SQL)
# rows-only (no SQL-expressible oracle; each has a deterministic
# recall row or a dedicated pytest asserting its semantics)
query("d4_simhash_pairs", d_simhash_pairs)  # xxhash64 fp: no SQL oracle
query("d4r_simhash_recall", d4r_simhash_recall)  # deterministic; recall=1 by pigeonhole
query("d6_embedding_near_dup_lsh", d6_embedding_near_dup_lsh)  # LSH subset: recall test
query("d6r_embedding_lsh_recall", d6r_embedding_lsh_recall)  # deterministic recall row
query("sim2_lsh_topk", sim_lsh_topk)  # approximate: verified by recall test
query("sim2r_lsh_topk_recall", sim2r_lsh_topk_recall)  # deterministic recall row
query("sim3_ivf_topk", sim_ivf_topk)  # approximate: verified by recall test
query("sim3r_ivf_topk_recall", sim3r_ivf_topk_recall)  # deterministic recall row
# ml1_logreg_validation_scores RETIRED (round-9, r8 verdict #5): the
# raw-MLlib-scores row could only ever be rows-only; its slot is now
# ml1b_validation_leaderboard — the same flow's verifiable skeleton
# (real frame, exact label, real split, integer leaderboard), fully
# oracled. The LBFGS path stays pytest-covered end-to-end
# (tests/test_workflow_e2e.py, tests/test_ml_pipeline_query.py).
query("ml1b_validation_leaderboard", ml1b_validation_leaderboard, ML1B_SQL)


# --- round-4 relational additions (q12/q13/q17/q19/q22 style) --------------

Q12_SQL = """
SELECT o_orderpriority,
       count(*) AS n_lines,
       CAST(sum(CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
       CAST(sum(CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY
                      AND o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS n_late_high,
       CAST(sum(CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY
                      AND o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS n_late_low
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""

Q13_SQL = """
SELECT c_count, count(*) AS custdist FROM (
  SELECT c.c_custkey, count(o.o_orderkey) AS c_count
  FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
  GROUP BY c.c_custkey
)
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""

Q17_SQL = """
WITH pp AS (
  SELECT l_partkey, sum(CAST(l_quantity AS DECIMAL(20,4))) AS s, count(*) AS n
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_brand = 'Brand#23'
  GROUP BY l_partkey
)
SELECT CAST(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(20,4))) AS DECIMAL(27,4)) AS DOUBLE) / 7.0 AS avg_yearly
FROM lineitem l JOIN pp ON l.l_partkey = pp.l_partkey
WHERE 5 * CAST(l.l_quantity AS DECIMAL(20,4)) * pp.n < pp.s
"""

Q19_SQL = """
SELECT CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(20,4)) * (1 - CAST(l_discount AS DECIMAL(20,4)))) AS DECIMAL(27,4)) AS DOUBLE) AS revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5  AND l_quantity BETWEEN 1  AND 11)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30)
"""

Q22_SQL = """
WITH t AS (
  SELECT sum(CAST(c_acctbal AS DECIMAL(20,4))) AS s, count(*) AS n
  FROM customer WHERE c_acctbal > 0
)
SELECT c_nationkey,
       count(*) AS numcust,
       CAST(sum(CAST(c_acctbal AS DECIMAL(20,4))) AS DOUBLE) AS totacctbal
FROM customer, t
WHERE c_acctbal > 0
  AND CAST(c_acctbal AS DECIMAL(20,4)) * t.n > t.s
  AND c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '1998-01-01')
GROUP BY c_nationkey
ORDER BY c_nationkey
"""


# round-4 relational additions (insertion order lands them beyond the
# driver's 50-slot window, where new queries belong until a deliberate
# reorder)
query("q12_late_shipments", R.q12_late_shipments, Q12_SQL)
query("q13_order_distribution", R.q13_customer_order_distribution, Q13_SQL)
query("q17_small_qty_revenue", R.q17_small_quantity_revenue, Q17_SQL)
query("q19_disjunctive_revenue", R.q19_disjunctive_revenue, Q19_SQL)
query("q22_idle_balances", R.q22_idle_balances, Q22_SQL)


def pipe2_corpus_mix(spark, sf_dir):
    """LLM-pipeline composition #2: quality-stratified corpus mixing —
    band documents by integer word count (long/mid/short; integer
    thresholds are engine-exact), then keep each band at a different
    deterministic rate (all / ~50% / ~12.5%) via the md5-cutoff sampler.
    One narrow pass: banding + sampling fuse with the scan."""
    docs = load_table(spark, sf_dir, "documents")
    n_words = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    banded = docs.select(
        "doc_id",
        F.when(n_words >= 40, F.lit("long"))
        .when(n_words >= 20, F.lit("mid"))
        .otherwise(F.lit("short"))
        .alias("band"),
    )
    kept = text.stratified_corpus_sample(
        banded, "doc_id", "band", {"long": "g0", "mid": "80", "short": "20"}
    )
    return kept.orderBy("doc_id")


PIPE2_SQL = r"""
WITH banded AS (
  SELECT doc_id,
         CASE WHEN len(regexp_split_to_array(trim(text), '\s+')) >= 40 THEN 'long'
              WHEN len(regexp_split_to_array(trim(text), '\s+')) >= 20 THEN 'mid'
              ELSE 'short' END AS band
  FROM documents
)
SELECT doc_id, band FROM banded
WHERE substr(md5(CAST(doc_id AS VARCHAR) || '|' || band), 1, 2) <
      CASE band WHEN 'long' THEN 'g0' WHEN 'mid' THEN '80' ELSE '20' END
ORDER BY doc_id
"""

query("pipe2_corpus_mix", pipe2_corpus_mix, PIPE2_SQL)


def mm2_frame_sample(spark, sf_dir):
    """Frame-sampling plumbing over binary payloads (every 4th 64-byte
    frame, md5 per frame). The oracle slices the TEXT form — byte-exact
    here because the synthetic corpus is pure ASCII, so UTF-8 encoding is
    the identity on positions and md5 inputs."""
    docs = load_table(spark, sf_dir, "documents")
    payloads = multimodal.attach_binary_payload(docs, "text")
    return multimodal.sample_frames_stride(payloads, "doc_id", "payload")


MM2_FRAMES_SQL = """
WITH f AS (
  SELECT doc_id, text,
         unnest(generate_series(
           0, greatest(CAST(ceil(length(text) / 64.0) AS INT) - 1, 0), 4)) AS fi
  FROM documents
)
SELECT doc_id, CAST(fi AS INT) AS frame_idx,
       md5(substring(text, CAST(fi AS INT) * 64 + 1, 64)) AS frame_md5
FROM f
ORDER BY doc_id, frame_idx
"""

query("mm2_frame_sample", mm2_frame_sample, MM2_FRAMES_SQL)


# ts4_sketch_rollup RETIRED from the registry (round-9, r8 verdict #5):
# the native DataSketches-HLL rollup can never be SQL-oracled (opaque
# binaries), while its oracle-EXACT twin ts4b_hll_registers covers the
# identical hourly→daily mergeable-rollup semantics with a register
# sketch DuckDB rebuilds byte-for-byte. The native path stays fully
# covered by tests/test_timeseries.py::
# test_sketch_rollup_merge_equals_direct_and_tracks_exact (lossless
# mergeability + accuracy vs exact distinct at sf0.01 — a STRONGER check
# than the driver's rows-only row ever was).


Q8_SQL = """
WITH cust_region AS (
  SELECT c_custkey FROM customer
  JOIN nation ON c_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'AMERICA'
),
supp_nation AS (
  SELECT s_suppkey, n_name AS supp_nation FROM supplier
  JOIN nation ON s_nationkey = n_nationkey
)
SELECT CAST(year(o_orderdate) AS INT) AS o_year,
       CAST(CAST(sum(CASE WHEN supp_nation = 'BRAZIL'
                 THEN CAST(l_extendedprice AS DECIMAL(20,4)) * (1 - CAST(l_discount AS DECIMAL(20,4)))
                 ELSE CAST(0 AS DECIMAL(20,4)) END) AS DECIMAL(27,4)) AS DOUBLE)
       / CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(20,4)) * (1 - CAST(l_discount AS DECIMAL(20,4)))) AS DECIMAL(27,4)) AS DOUBLE)
       AS mkt_share
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN supp_nation ON l_suppkey = s_suppkey
WHERE o_custkey IN (SELECT c_custkey FROM cust_region)
GROUP BY year(o_orderdate)
ORDER BY o_year
"""

Q15_SQL = """
WITH per_supp AS (
  SELECT l_suppkey,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(20,4)) * (1 - CAST(l_discount AS DECIMAL(20,4)))) AS DECIMAL(27,4)) AS rev
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, CAST(rev AS DOUBLE) AS total_revenue
FROM per_supp JOIN supplier ON l_suppkey = s_suppkey
WHERE rev = (SELECT max(rev) FROM per_supp)
ORDER BY s_suppkey
"""

query("q8_market_share", R.q8_market_share, Q8_SQL)
query("q15_top_supplier", R.q15_top_supplier, Q15_SQL)


def fn_window_suite(spark, sf_dir):
    """Window-function breadth row: lag/lead, first/nth value with explicit
    ROWS frames, dense_rank and cume_dist — all over one per-customer
    window (single shuffle on o_custkey, PK-total-ordered so every value
    is engine-deterministic; pure row selections, no float arithmetic)."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w_rows = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        orders.filter(F.col("o_custkey") % 10 == 0)
        .select(
            "o_custkey",
            "o_orderkey",
            F.lag("o_totalprice").over(w).alias("prev_price"),
            F.lead("o_totalprice").over(w).alias("next_price"),
            F.first("o_totalprice").over(w_rows).alias("first_price"),
            F.nth_value("o_totalprice", 2).over(w_rows).alias("second_price"),
            F.dense_rank().over(w).alias("seq"),
            F.cume_dist().over(w).alias("cdist"),
        )
        .orderBy("o_custkey", "o_orderkey")
    )


FN_WINDOW_SQL = """
SELECT o_custkey, o_orderkey,
       lag(o_totalprice) OVER w AS prev_price,
       lead(o_totalprice) OVER w AS next_price,
       first_value(o_totalprice) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_price,
       nth_value(o_totalprice, 2) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS second_price,
       CAST(dense_rank() OVER w AS INT) AS seq,
       cume_dist() OVER w AS cdist
FROM orders
WHERE o_custkey % 10 = 0
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
ORDER BY o_custkey, o_orderkey
"""

query("fn_window_suite", fn_window_suite, FN_WINDOW_SQL)


Q2_SQL = """
WITH cost AS (
  SELECT l_partkey, l_suppkey, min(l_extendedprice) AS supply_cost
  FROM lineitem GROUP BY l_partkey, l_suppkey
)
SELECT s_acctbal, s_name, n_name, p_partkey, p_name, supply_cost
FROM cost
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE p_type = 'ECONOMY' AND p_size >= 25
  AND supply_cost = (SELECT min(c2.supply_cost) FROM cost c2
                     WHERE c2.l_partkey = cost.l_partkey)
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
LIMIT 100
"""

Q9_SQL = """
SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year,
       CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(20,4))
                     * (1 - CAST(l_discount AS DECIMAL(20,4)))) AS DECIMAL(27,4)) AS DOUBLE) AS sum_profit
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE p_name LIKE '%bolt%'
GROUP BY n_name, year(o_orderdate)
ORDER BY nation, o_year DESC
"""

Q11_SQL = """
WITH per_part AS (
  SELECT l_partkey,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(20,4))) AS DECIMAL(27,4)) AS v
  FROM lineitem
  WHERE l_suppkey IN (SELECT s_suppkey FROM supplier
                      JOIN nation ON s_nationkey = n_nationkey
                      WHERE n_name = 'NATION_3')
  GROUP BY l_partkey
)
SELECT l_partkey, CAST(v AS DOUBLE) AS value
FROM per_part
WHERE v * 10000 > (SELECT CAST(sum(v) AS DECIMAL(38,4)) FROM per_part) * 20
ORDER BY value DESC, l_partkey
"""

Q16_SQL = """
SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
      WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)) pairs
JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#9' AND p_size <= 25
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""

Q21_SQL = """
SELECT s_name, count(*) AS numwait
FROM lineitem l1
JOIN supplier ON l1.l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN orders ON o_orderkey = l1.l_orderkey
WHERE l1.l_returnflag = 'R' AND n_name = 'NATION_3' AND o_orderstatus = 'F'
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_returnflag = 'R')
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 50
"""

query("q2_min_cost_supplier", R.q2_min_cost_supplier, Q2_SQL)
query("q9_product_profit", R.q9_product_profit, Q9_SQL)
query("q11_important_parts", R.q11_important_parts, Q11_SQL)
query("q16_supplier_counts", R.q16_supplier_counts, Q16_SQL)
query("q21_sole_failing_supplier", R.q21_sole_failing_supplier, Q21_SQL)


def _augment_pii(docs):
    """Deterministically graft synthetic PII onto the word-soup corpus (the
    testdata has none) — the SAME arithmetic expression runs on both engines,
    so the scrub operator is exercised against known-positive rows."""
    did = F.col("doc_id")
    return docs.withColumn(
        "text2",
        F.concat(
            F.col("text"),
            F.when(
                did % 3 == 0,
                F.concat(F.lit(" contact user"), did.cast("string"), F.lit("@example.com")),
            ).otherwise(F.lit("")),
            F.when(
                did % 5 == 0,
                F.concat(F.lit(" call 555-010-"), F.lpad((did % 10000).cast("string"), 4, "0")),
            ).otherwise(F.lit("")),
            F.when(
                did % 7 == 0,
                F.concat(F.lit(" from 10.0."), (did % 256).cast("string"), F.lit(".17")),
            ).otherwise(F.lit("")),
        ),
    )


def x6_pii_scrub(spark, sf_dir):
    """PII redaction pass: mask emails/phones/IPv4s, count each per doc."""
    docs = load_table(spark, sf_dir, "documents")
    return text.pii_scrub(_augment_pii(docs), "doc_id", "text2").orderBy("doc_id")


X6_SQL = r"""
WITH aug AS (
  SELECT doc_id,
         text ||
         CASE WHEN doc_id % 3 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END ||
         CASE WHEN doc_id % 5 = 0 THEN ' call 555-010-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END ||
         CASE WHEN doc_id % 7 = 0 THEN ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.17' ELSE '' END AS text2
  FROM documents
)
SELECT doc_id,
  CAST(len(regexp_extract_all(text2, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
  CAST(len(regexp_extract_all(text2, '\b\d{3}-\d{3}-\d{4}\b')) AS BIGINT) AS n_phone,
  CAST(len(regexp_extract_all(text2, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ip,
  regexp_replace(regexp_replace(regexp_replace(text2,
      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
      '\b\d{3}-\d{3}-\d{4}\b', '[PHONE]', 'g'),
      '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '[IP]', 'g') AS clean_text
FROM aug
ORDER BY doc_id
"""


def _augment_urls(docs):
    did = F.col("doc_id")
    return docs.withColumn(
        "text2",
        F.concat(
            F.col("text"),
            F.when(
                did % 4 == 0,
                F.concat(
                    F.lit(" see https://site"),
                    (did % 10).cast("string"),
                    F.lit(".example.org/p/"),
                    did.cast("string"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                did % 6 == 0,
                F.concat(F.lit(" https://cdn.example.net/img"), did.cast("string")),
            ).otherwise(F.lit("")),
        ),
    )


def x7_domain_counts(spark, sf_dir):
    """URL provenance rollup: extract every URL, count occurrences and
    distinct docs per domain (blocklist-audit primitive)."""
    docs = load_table(spark, sf_dir, "documents")
    return text.domain_counts(_augment_urls(docs), "doc_id", "text2")


X7_SQL = r"""
WITH aug AS (
  SELECT doc_id,
         text ||
         CASE WHEN doc_id % 4 = 0 THEN ' see https://site' || CAST(doc_id % 10 AS VARCHAR) || '.example.org/p/' || CAST(doc_id AS VARCHAR) ELSE '' END ||
         CASE WHEN doc_id % 6 = 0 THEN ' https://cdn.example.net/img' || CAST(doc_id AS VARCHAR) ELSE '' END AS text2
  FROM documents
),
urls AS (
  SELECT doc_id,
         regexp_extract(u, 'https?://([A-Za-z0-9.-]+)', 1) AS domain
  FROM (SELECT doc_id,
               unnest(regexp_extract_all(text2, 'https?://[A-Za-z0-9.-]+(/[A-Za-z0-9._~/%-]*)?')) AS u
        FROM aug)
)
SELECT domain, count(*) AS n_urls, count(DISTINCT doc_id) AS n_docs
FROM urls GROUP BY domain
ORDER BY n_urls DESC, domain
"""

query("x6_pii_scrub", x6_pii_scrub, X6_SQL)
query("x7_domain_counts", x7_domain_counts, X7_SQL)


def x8_winnow_fingerprints(spark, sf_dir):
    """Rolling-hash (winnowing/MOSS) fingerprints per document."""
    docs = load_table(spark, sf_dir, "documents")
    return text.winnow_fingerprints(docs, "doc_id", "text").orderBy("doc_id", "fp")


X8_SQL = r"""
WITH kg AS (
  SELECT doc_id,
         list_transform(range(1, length(text) - 8 + 2),
                        i -> substr(md5(substr(text, CAST(i AS INT), 8)), 1, 16)) AS kgrams
  FROM documents
  WHERE length(text) >= 23
)
SELECT doc_id,
       unnest(list_distinct(
         list_transform(range(1, len(kgrams) - 16 + 2),
                        j -> list_min(list_slice(kgrams, j, j + 15))))) AS fp
FROM kg
ORDER BY doc_id, fp
"""

query("x8_winnow_fingerprints", x8_winnow_fingerprints, X8_SQL)


def ts5_rolling_distinct_users(spark, sf_dir):
    """Exact 7-day rolling distinct users per active day."""
    from ..operators import timeseries as TS

    events = load_table(spark, sf_dir, "events")
    return TS.rolling_distinct_users(events, "ts", "user_id", window_days=7)


TS5_SQL = """
WITH pairs AS (
  SELECT DISTINCT user_id AS u, CAST(date_trunc('day', ts) AS DATE) AS d
  FROM events
),
days AS (SELECT DISTINCT d FROM pairs)
SELECT days.d AS day,
       (SELECT count(DISTINCT p.u) FROM pairs p
        WHERE p.d >= days.d - 6 AND p.d <= days.d) AS n_users
FROM days
ORDER BY day
"""

query("ts5_rolling_distinct_users", ts5_rolling_distinct_users, TS5_SQL)


def mm3_resize_payloads(spark, sf_dir):
    """Binary resize/decimation stage over synthetic payloads (mapInPandas).

    Oracle trick: the test payloads are UTF-8 of pure-ASCII text, so byte
    stride == character stride and DuckDB can reproduce the decimation
    with substr/range over the text column."""
    docs = load_table(spark, sf_dir, "documents")
    with_payload = multimodal.attach_binary_payload(docs, "text")
    return multimodal.resize_payloads(with_payload, "doc_id", "payload").orderBy("doc_id")


MM3_SQL = """
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS in_bytes,
       CAST(length(strided) AS BIGINT) AS out_bytes,
       md5(strided) AS out_md5
FROM (
  SELECT doc_id, text,
         array_to_string(
           list_transform(range(1, length(text) + 1, 4),
                          i -> substr(text, CAST(i AS INT), 1)), '') AS strided
  FROM documents
)
ORDER BY doc_id
"""

query("mm3_resize_payloads", mm3_resize_payloads, MM3_SQL)


EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def agg_pivot_event_matrix(spark, sf_dir):
    """Pivot: per-user-bucket event-type count matrix. The explicit values
    list matters at scale — ``pivot(col)`` without values runs an extra
    distinct-scan job to discover columns AND risks an unbounded-width
    schema; pinning the vocabulary keeps it one pass, and the oracle is
    plain portable CASE-sum SQL."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.withColumn("bucket", (F.col("user_id") % 10).cast("int"))
        .groupBy("bucket")
        .pivot("event_type", EVENT_TYPES)
        .agg(F.count(F.lit(1)))
        .na.fill(0)
        .orderBy("bucket")
    )


AGG_PIVOT_SQL = """
SELECT CAST(user_id % 10 AS INT) AS bucket,
       count(*) FILTER (WHERE event_type = 'click')    AS click,
       count(*) FILTER (WHERE event_type = 'error')    AS error,
       count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
       count(*) FILTER (WHERE event_type = 'signup')   AS signup,
       count(*) FILTER (WHERE event_type = 'view')     AS view
FROM events GROUP BY 1 ORDER BY bucket
"""


def fn_unpivot_order_metrics(spark, sf_dir):
    """Unpivot/melt: wide numeric columns → long (key, metric, value) rows
    (``DataFrame.unpivot``, the Spark 3.4+ built-in — a narrow generator
    expression, no shuffle). Oracle: the portable UNION ALL form."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.filter(F.col("o_orderkey") % 100 == 0)
        .select(
            "o_orderkey",
            F.col("o_totalprice").cast("double").alias("totalprice"),
            F.col("o_custkey").cast("double").alias("custkey"),
        )
        .unpivot("o_orderkey", ["totalprice", "custkey"], "metric", "value")
        .orderBy("o_orderkey", "metric")
    )


FN_UNPIVOT_SQL = """
SELECT o_orderkey, 'totalprice' AS metric, CAST(o_totalprice AS DOUBLE) AS value
FROM orders WHERE o_orderkey % 100 = 0
UNION ALL
SELECT o_orderkey, 'custkey' AS metric, CAST(o_custkey AS DOUBLE) AS value
FROM orders WHERE o_orderkey % 100 = 0
ORDER BY o_orderkey, metric
"""

query("agg_pivot_event_matrix", agg_pivot_event_matrix, AGG_PIVOT_SQL)
query("fn_unpivot_order_metrics", fn_unpivot_order_metrics, FN_UNPIVOT_SQL)


def fn_udtf_word_rows(spark, sf_dir):
    """Python UDTF (lateral table function) — API-surface demo on a small
    slice; the hot-path equivalent is the JVM explode in operators/text."""
    from ..functions.udx import WordCounts

    spark.udtf.register("word_counts", WordCounts)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("__docs")
    return spark.sql(
        """
        SELECT d.doc_id, w.word, w.n
        FROM __docs d, LATERAL word_counts(d.text) w
        WHERE d.doc_id < 50
        """
    ).orderBy("doc_id", "word")


FN_UDTF_SQL = """
SELECT doc_id, w AS word, CAST(count(*) AS INT) AS n FROM (
  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
  FROM documents WHERE doc_id < 50
)
GROUP BY doc_id, w
ORDER BY doc_id, w
"""


def fn_grouped_agg_wmean(spark, sf_dir):
    """Grouped-aggregate pandas UDF (custom UDAF escape hatch) — exact
    milli-quantized mean per event type."""
    from ..functions.udx import milli_exact_mean

    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy("event_type")
        .agg(milli_exact_mean("value").alias("mean_value"))
        .orderBy("event_type")
    )


FN_GAGG_SQL = """
SELECT event_type,
       CAST(sum(CAST(round(value * 1000) AS BIGINT)) AS DOUBLE)
         / (1000.0 * count(value)) AS mean_value
FROM events GROUP BY event_type ORDER BY event_type
"""

query("fn_udtf_word_rows", fn_udtf_word_rows, FN_UDTF_SQL)
query("fn_grouped_agg_wmean", fn_grouped_agg_wmean, FN_GAGG_SQL)


def pipe3_pretrain_corpus(spark, sf_dir):
    """Flagship LLM pre-training data pipeline — the full hygiene chain as
    ONE declarative plan: PII-bearing ingest → exact dedup (normalized
    fingerprint, keep-min-id) → quality gates → benchmark decontamination
    (8-gram overlap vs the held-out probe slice, LEFT ANTI) → PII scrub →
    quality-band stratified sampling. Catalyst fuses the narrow stages
    (quality/scrub/band/sample are all scan-side expressions); shuffles:
    fingerprint groupBy, the corpus-gram groupBy under the broadcast
    contamination join, and the output joins on doc_id.

    Output per surviving doc: band, word count, PII found+masked count,
    md5 of the scrubbed text (evidence the masking ran ahead of the
    emit)."""
    docs = _augment_pii(load_table(spark, sf_dir, "documents")).select(
        "doc_id", "text2"
    )
    probes = docs.filter(F.col("doc_id") % 7 == 0)
    corpus = docs.filter(F.col("doc_id") % 7 != 0)
    # ONE fused scan computes fingerprint + quality + scrub (all narrow
    # row-wise expressions — the former per-branch frames cost 3 extra
    # corpus scans and 2 doc_id shuffle joins); clean_text reduces to its
    # md5 immediately so the fingerprint shuffle moves only narrow columns.
    enriched = corpus.select(
        "doc_id",
        text.fingerprint_column("text2").alias("fingerprint"),
        *text.quality_columns("text2"),
        *text.pii_scrub_columns("text2"),
    ).select(
        "doc_id",
        "fingerprint",
        "n_words",
        "punct_ratio",
        "alpha_ratio",
        (F.col("n_email") + F.col("n_phone") + F.col("n_ip")).alias("n_pii"),
        F.md5("clean_text").alias("clean_md5"),
    )
    # exact dedup keep-min-id: one shuffle on fingerprint (window), no
    # join back. row_number()==1 (not min(doc_id)+equality) so Spark's
    # InferWindowGroupLimit pushes a per-map-partition rank-1 limit BELOW
    # the exchange — a fingerprint duplicated 10^9 times forwards at most
    # one row per map partition to the reducer instead of funneling every
    # copy through one hot window partition (round-12; same argument as
    # tile_dedup_rewrite's hot-tile note; plans/SHAPES.json counts the
    # WindowGroupLimit for pipe3).
    w_fp = Window.partitionBy("fingerprint").orderBy("doc_id")
    keep = (
        enriched.withColumn("__rn", F.row_number().over(w_fp))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    # decontamination drop-list is benchmark-sized → broadcast LEFT ANTI:
    # the corpus side never shuffles for it
    contaminated = text.contaminated_doc_ids(corpus, probes, "doc_id", "text2", n=8)
    base = (
        keep.join(F.broadcast(contaminated), "doc_id", "left_anti")
        .filter(
            (F.col("n_words") >= 5)
            & (F.col("punct_ratio") <= 0.2)
            & (F.col("alpha_ratio") >= 0.5)
        )
        .select(
            "doc_id",
            F.when(F.col("n_words") >= 40, F.lit("long"))
            .when(F.col("n_words") >= 20, F.lit("mid"))
            .otherwise(F.lit("short"))
            .alias("band"),
            "n_words",
            "n_pii",
            "clean_md5",
        )
    )
    return text.stratified_corpus_sample(
        base, "doc_id", "band", {"long": "g0", "mid": "80", "short": "20"}
    ).orderBy("doc_id")


PIPE3_SQL = r"""
WITH aug AS (
  SELECT doc_id,
         text ||
         CASE WHEN doc_id % 3 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END ||
         CASE WHEN doc_id % 5 = 0 THEN ' call 555-010-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END ||
         CASE WHEN doc_id % 7 = 0 THEN ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.17' ELSE '' END AS text2
  FROM documents
),
corpus AS (SELECT * FROM aug WHERE doc_id % 7 <> 0),
keep_fp AS (
  SELECT min(doc_id) AS doc_id
  FROM (SELECT doc_id, md5(lower(regexp_replace(trim(text2), '\s+', ' ', 'g'))) AS fp FROM corpus)
  GROUP BY fp
),
toks AS (SELECT doc_id, regexp_split_to_array(trim(text2), '\s+') AS t FROM aug),
grams AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
           range(1, greatest(len(t) - 8, 0) + 2),
           i -> array_to_string(t[i:i+7], ' ')))) AS g
  FROM toks
),
contaminated AS (
  SELECT DISTINCT c.doc_id
  FROM grams c JOIN (SELECT doc_id AS probe_id, g FROM grams WHERE doc_id % 7 = 0) p
    ON c.g = p.g AND c.doc_id <> p.probe_id
  WHERE c.doc_id % 7 <> 0
),
q AS (
  SELECT doc_id,
         len(regexp_split_to_array(trim(text2), '\s+')) AS n_words,
         (length(text2) - length(regexp_replace(text2, '[^A-Za-z0-9\s]', '', 'g'))) * 1.0 / length(text2) AS punct_ratio,
         length(regexp_replace(text2, '[^A-Za-z]', '', 'g')) * 1.0 / length(text2) AS alpha_ratio
  FROM corpus
),
scrub AS (
  SELECT doc_id,
    CAST(len(regexp_extract_all(text2, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
      + CAST(len(regexp_extract_all(text2, '\b\d{3}-\d{3}-\d{4}\b')) AS BIGINT)
      + CAST(len(regexp_extract_all(text2, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_pii,
    md5(regexp_replace(regexp_replace(regexp_replace(text2,
        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
        '\b\d{3}-\d{3}-\d{4}\b', '[PHONE]', 'g'),
        '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '[IP]', 'g')) AS clean_md5
  FROM corpus
),
base AS (
  SELECT c.doc_id,
         CASE WHEN q.n_words >= 40 THEN 'long'
              WHEN q.n_words >= 20 THEN 'mid'
              ELSE 'short' END AS band,
         CAST(q.n_words AS BIGINT) AS n_words, scrub.n_pii, scrub.clean_md5
  FROM corpus c
  JOIN keep_fp ON keep_fp.doc_id = c.doc_id
  JOIN q ON q.doc_id = c.doc_id
  JOIN scrub ON scrub.doc_id = c.doc_id
  WHERE c.doc_id NOT IN (SELECT doc_id FROM contaminated)
    AND q.n_words >= 5 AND q.punct_ratio <= 0.2 AND q.alpha_ratio >= 0.5
)
SELECT * FROM base
WHERE substr(md5(CAST(doc_id AS VARCHAR) || '|' || band), 1, 2) <
      CASE band WHEN 'long' THEN 'g0' WHEN 'mid' THEN '80' ELSE '20' END
ORDER BY doc_id
"""

query("pipe3_pretrain_corpus", pipe3_pretrain_corpus, PIPE3_SQL)


def ev1_funnel_conversion(spark, sf_dir):
    """Funnel analysis: per user, earliest signup → earliest subsequent
    purchase; conversion counts per funnel stage. One groupBy pass
    computes both stage timestamps with conditional MIN aggregates (no
    self-join, no window): the standard product-analytics funnel at
    events scale."""
    events = load_table(spark, sf_dir, "events")
    stages = events.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias("signup_ts"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "purchase_ts"
        ),
    )
    return stages.select(
        F.count(F.lit(1)).alias("n_users"),
        F.count("signup_ts").alias("n_signed_up"),
        F.sum(
            F.when(
                F.col("purchase_ts") > F.col("signup_ts"), F.lit(1)
            ).otherwise(F.lit(0))
        ).alias("n_converted"),
    )


EV1_SQL = """
WITH stages AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'signup' THEN ts END) AS signup_ts,
         min(CASE WHEN event_type = 'purchase' THEN ts END) AS purchase_ts
  FROM events GROUP BY user_id
)
SELECT count(*) AS n_users,
       count(signup_ts) AS n_signed_up,
       CAST(sum(CASE WHEN purchase_ts > signup_ts THEN 1 ELSE 0 END) AS BIGINT) AS n_converted
FROM stages
"""


def ev2_retention_cohorts(spark, sf_dir):
    """Weekly retention cohorts: users grouped by first-activity week,
    counted by distinct activity in each subsequent week offset. Two
    shuffles total — (user, week) dedup reusing one partitioning, then
    the cohort rollup on tiny keys."""
    events = load_table(spark, sf_dir, "events")
    week = F.date_trunc("week", F.col("ts")).cast("date")
    user_weeks = events.select(
        F.col("user_id").alias("u"), week.alias("w")
    ).distinct()
    cohorts = user_weeks.groupBy("u").agg(F.min("w").alias("cohort_week"))
    return (
        user_weeks.join(cohorts, "u")
        .groupBy(
            "cohort_week",
            F.datediff(F.col("w"), F.col("cohort_week")).alias("week_offset"),
        )
        .agg(F.countDistinct("u").alias("n_users"))
        .filter(F.col("week_offset") % 7 == 0)
        .select(
            "cohort_week",
            (F.col("week_offset") / 7).cast("int").alias("week_offset"),
            "n_users",
        )
        .orderBy("cohort_week", "week_offset")
    )


EV2_SQL = """
WITH user_weeks AS (
  SELECT DISTINCT user_id AS u, CAST(date_trunc('week', ts) AS DATE) AS w
  FROM events
),
cohorts AS (SELECT u, min(w) AS cohort_week FROM user_weeks GROUP BY u)
SELECT c.cohort_week,
       CAST((uw.w - c.cohort_week) / 7 AS INT) AS week_offset,
       count(DISTINCT uw.u) AS n_users
FROM user_weeks uw JOIN cohorts c ON uw.u = c.u
GROUP BY c.cohort_week, (uw.w - c.cohort_week) / 7
ORDER BY cohort_week, week_offset
"""

query("ev1_funnel_conversion", ev1_funnel_conversion, EV1_SQL)
query("ev2_retention_cohorts", ev2_retention_cohorts, EV2_SQL)


def fn_range_frame_rolling_sum(spark, sf_dir):
    """RANGE-frame window: per event, the user's rolling 1-hour event count
    and exact decimal value sum (``RANGE BETWEEN INTERVAL 1 HOUR PRECEDING
    AND CURRENT ROW``) — the time-based frame the ROWS-frame suites can't
    express. One shuffle on user_id; frame bounds are resolved per row by
    the sort order, no self-join. Decimal sum keeps the oracle exact under
    any within-frame order."""
    events = load_table(spark, sf_dir, "events")
    events.filter(F.col("user_id") % 10 == 3).createOrReplaceTempView("__ev_rf")
    return spark.sql(
        """
        SELECT event_id, user_id, ts,
               count(*) OVER w AS n_1h,
               CAST(sum(CAST(value AS DECIMAL(18,4))) OVER w AS DOUBLE) AS sum_1h
        FROM __ev_rf
        WINDOW w AS (PARTITION BY user_id ORDER BY ts
                     RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
        ORDER BY user_id, ts, event_id
        """
    )


FN_RANGE_FRAME_SQL = """
SELECT event_id, user_id, ts,
       count(*) OVER w AS n_1h,
       CAST(sum(CAST(value AS DECIMAL(18,4))) OVER w AS DOUBLE) AS sum_1h
FROM events
WHERE user_id % 10 = 3
WINDOW w AS (PARTITION BY user_id ORDER BY ts
             RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
ORDER BY user_id, ts, event_id
"""

query("fn_range_frame_rolling_sum", fn_range_frame_rolling_sum, FN_RANGE_FRAME_SQL)


def a15_drift_bins(spark, sf_dir):
    """Feature-drift histogram: order totalprice distribution, pre-1998
    (reference) vs 1998+ (current), shared fixed bins, exact ppm."""
    orders = load_table(spark, sf_dir, "orders")
    ref = orders.filter(F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    cur = orders.filter(F.col("o_orderdate") >= F.lit("1998-01-01").cast("timestamp"))
    return M.drift_bins(ref, cur, "o_totalprice", lo=0.0, hi=500000.0, n_bins=10)


A15_SQL = """
WITH binned AS (
  SELECT CAST(least(greatest(floor((o_totalprice - 0.0) / 500000.0 * 10), 0), 9) AS INT) AS bin,
         CASE WHEN o_orderdate < TIMESTAMP '1998-01-01' THEN 1 ELSE 0 END AS is_ref
  FROM orders
),
r AS (SELECT bin, count(*) AS n_ref FROM binned WHERE is_ref = 1 GROUP BY bin),
c AS (SELECT bin, count(*) AS n_cur FROM binned WHERE is_ref = 0 GROUP BY bin),
j AS (
  SELECT COALESCE(r.bin, c.bin) AS bin,
         COALESCE(n_ref, 0) AS n_ref, COALESCE(n_cur, 0) AS n_cur
  FROM r FULL OUTER JOIN c ON r.bin = c.bin
)
SELECT bin, n_ref, n_cur,
       CAST(n_ref * 1000000 // (SELECT sum(n_ref) FROM j) AS BIGINT) AS ref_ppm,
       CAST(n_cur * 1000000 // (SELECT sum(n_cur) FROM j) AS BIGINT) AS cur_ppm
FROM j
ORDER BY bin
"""

query("a15_drift_bins", a15_drift_bins, A15_SQL)


def a16_ks_drift(spark, sf_dir):
    """Exact binned KS drift statistic (integer numerator + denominators)
    for order totalprice, pre-1998 vs 1998+. The operator carries the
    numerator as decimal(38,0) (overflow-safe past ~3e9 rows/side); this
    presentation row casts it to BIGINT for engine-comparable hashing —
    safe at any scale the driver runs, and a deliberate presentation-only
    bound."""
    orders = load_table(spark, sf_dir, "orders")
    # Binning stays in double arithmetic deliberately: o_totalprice is a
    # DOUBLE in the source parquet, so integer-cents binning would still
    # start from a double multiply (no float op removed), and both engines
    # evaluate the identical floor((x-lo)/range*n) expression in the same
    # IEEE order — bin assignment cannot diverge. The r5 driver red was
    # representation-level only (oracle ks_num stayed HUGEINT; now CAST).
    ref = orders.filter(F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    cur = orders.filter(F.col("o_orderdate") >= F.lit("1998-01-01").cast("timestamp"))
    ks = M.ks_stat_exact(ref, cur, "o_totalprice", lo=0.0, hi=500000.0, n_bins=100)
    return ks.select(
        F.col("ks_num").cast("bigint").alias("ks_num"),
        "n_ref_total",
        "n_cur_total",
    )


A16_SQL = """
WITH binned AS (
  SELECT CAST(least(greatest(floor((o_totalprice - 0.0) / 500000.0 * 100), 0), 99) AS INT) AS bin,
         CASE WHEN o_orderdate < TIMESTAMP '1998-01-01' THEN 1 ELSE 0 END AS is_ref
  FROM orders
),
counts AS (
  SELECT bin,
         CAST(sum(is_ref) AS BIGINT) AS n_ref,
         CAST(sum(1 - is_ref) AS BIGINT) AS n_cur
  FROM binned GROUP BY bin
),
cum AS (
  SELECT bin,
         sum(n_ref) OVER (ORDER BY bin) AS cum_ref,
         sum(n_cur) OVER (ORDER BY bin) AS cum_cur
  FROM counts
)
SELECT CAST(max(abs(cum_ref * (SELECT sum(n_cur) FROM counts)
              - cum_cur * (SELECT sum(n_ref) FROM counts))) AS BIGINT) AS ks_num,
       (SELECT CAST(sum(n_ref) AS BIGINT) FROM counts) AS n_ref_total,
       (SELECT CAST(sum(n_cur) AS BIGINT) FROM counts) AS n_cur_total
FROM cum
"""

query("a16_ks_drift", a16_ks_drift, A16_SQL)


def set4_multiset_ops(spark, sf_dir):
    """Multiset (bag) set operations — EXCEPT ALL / INTERSECT ALL keep
    duplicate multiplicity, unlike the distinct-set forms in set1-set3
    (Spark: exceptAll/intersectAll, planned as hash aggregations over
    (row, count) with count arithmetic — no row explosion). Probe: per-
    customer order-priority bags from two halves of the order history."""
    orders = load_table(spark, sf_dir, "orders")
    # r14 census: exceptAll + intersectAll each re-scanned BOTH halves (4
    # input scans). Both are pure count arithmetic over the same
    # (custkey, priority) multiplicity table — |EXCEPT ALL| per value is
    # max(ce-cl, 0) and |INTERSECT ALL| is min(ce, cl) — so compute that
    # table once from ONE scan and fold per priority. A priority appears
    # in the output iff it has >= 1 surplus or common row, exactly the
    # former full-outer-of-two-groupbys membership (oracle-pinned).
    cutoff = F.lit("1998-01-01").cast("timestamp")
    counts = orders.groupBy("o_custkey", "o_orderpriority").agg(
        # when/otherwise, not a bare cast: a NULL date must contribute 0
        # to BOTH halves (the former filters dropped such rows outright)
        F.sum(F.when(F.col("o_orderdate") < cutoff, 1).otherwise(0))
        .cast("long")
        .alias("__ce"),
        F.sum(F.when(F.col("o_orderdate") >= cutoff, 1).otherwise(0))
        .cast("long")
        .alias("__cl"),
    )
    return (
        counts.groupBy("o_orderpriority")
        .agg(
            F.sum(F.greatest(F.col("__ce") - F.col("__cl"), F.lit(0))).alias(
                "n_surplus"
            ),
            F.sum(F.least("__ce", "__cl")).alias("n_common"),
        )
        .filter((F.col("n_surplus") > 0) | (F.col("n_common") > 0))
        .orderBy("o_orderpriority")
    )


SET4_SQL = """
WITH early AS (
  SELECT o_custkey, o_orderpriority FROM orders
  WHERE o_orderdate < TIMESTAMP '1998-01-01'
),
late AS (
  SELECT o_custkey, o_orderpriority FROM orders
  WHERE o_orderdate >= TIMESTAMP '1998-01-01'
),
surplus AS (SELECT * FROM early EXCEPT ALL SELECT * FROM late),
common  AS (SELECT * FROM early INTERSECT ALL SELECT * FROM late),
s AS (SELECT o_orderpriority, count(*) AS n_surplus FROM surplus GROUP BY 1),
c AS (SELECT o_orderpriority, count(*) AS n_common FROM common GROUP BY 1)
SELECT COALESCE(s.o_orderpriority, c.o_orderpriority) AS o_orderpriority,
       COALESCE(n_surplus, 0) AS n_surplus,
       COALESCE(n_common, 0) AS n_common
FROM s FULL OUTER JOIN c ON s.o_orderpriority = c.o_orderpriority
ORDER BY o_orderpriority
"""

query("set4_multiset_ops", set4_multiset_ops, SET4_SQL)


# --- round-5: partitioned sink → pruned-read round trip (S2 driver row) -----


def s2_partitioned_roundtrip(spark, sf_dir):
    """Sink path as an oracled flow (reference S2,
    src/feature/generate_initial_data.py:126-129): write events partitioned
    by event day, read ONE day back through the partition-pruned scan, and
    aggregate it. The scan only lists/reads the selected day's directory —
    at 100 TB a day-partitioned events table makes this a ~1/365 read.
    Oracle = DuckDB filtering the source table directly: if pruning dropped
    or duplicated rows the hashes diverge."""
    import tempfile

    ev = load_table(spark, sf_dir, "events").withColumn(
        "event_day", F.to_date("ts")
    )
    target = os.path.join(
        tempfile.gettempdir(), f"s2_roundtrip_{os.path.basename(sf_dir.rstrip('/'))}"
    )
    io.write_parquet(ev, target, partition_by=["event_day"])
    day = "2024-01-03"
    back = spark.read.parquet(target).filter(F.col("event_day") == F.lit(day))
    return (
        back.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("user_id").alias("n_users"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("sum_value"),
        )
        .orderBy("event_type")
    )


S2_ROUNDTRIP_SQL = """
SELECT event_type, count(*) AS n,
       count(DISTINCT user_id) AS n_users,
       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
FROM events
WHERE CAST(ts AS DATE) = DATE '2024-01-03'
GROUP BY event_type ORDER BY event_type
"""

query("s2_partitioned_roundtrip", s2_partitioned_roundtrip, S2_ROUNDTRIP_SQL)




# --- round-5: CDC merge, table profiler, shard export ----------------------


def s10_merge_upsert(spark, sf_dir):
    """SCD-1 CDC merge (operators/merge.py): base snapshot = latest event
    per user before 2024-01-04; changes = events from that day on;
    tombstone = latest change is an 'error' event. Next snapshot has one
    row per surviving user with change-over-base values. One key-window
    per side + one co-partitioned full-outer join — the incremental
    alternative to rewriting a 100 TB snapshot."""
    from ..operators import merge as mg

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type", "value"
    )
    cutoff = F.lit("2024-01-04").cast("timestamp")
    pre = ev.filter(F.col("ts") < cutoff)
    base = mg.latest_changes(pre, ["user_id"], "ts", tiebreak_cols=["event_id"])
    changes = ev.filter(F.col("ts") >= cutoff)
    snap = mg.merge_upsert(
        base,
        changes,
        ["user_id"],
        "ts",
        delete_predicate=F.col("event_type") == "error",
        tiebreak_cols=["event_id"],
    )
    return snap.select(
        "user_id",
        "event_id",
        "event_type",
        F.col("value").cast("decimal(18,6)").cast("double").alias("value"),
    ).orderBy("user_id")


S10_MERGE_SQL = """
WITH ev AS (
  SELECT user_id, ts, event_id, event_type, value FROM events
),
base AS (
  SELECT user_id, ts, event_id, event_type, value FROM (
    SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
    FROM ev WHERE ts < TIMESTAMP '2024-01-04'
  ) WHERE rn = 1
),
latest_chg AS (
  SELECT user_id, ts, event_id, event_type, value,
         (event_type = 'error') AS tombstone FROM (
    SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
    FROM ev WHERE ts >= TIMESTAMP '2024-01-04'
  ) WHERE rn = 1
)
SELECT COALESCE(c.user_id, b.user_id) AS user_id,
       COALESCE(c.event_id, b.event_id) AS event_id,
       COALESCE(c.event_type, b.event_type) AS event_type,
       CAST(CAST(COALESCE(c.value, b.value) AS DECIMAL(18,6)) AS DOUBLE) AS value
FROM base b FULL OUTER JOIN latest_chg c ON b.user_id = c.user_id
WHERE NOT COALESCE(c.tombstone, FALSE)
ORDER BY user_id
"""

query("s10_merge_upsert", s10_merge_upsert, S10_MERGE_SQL)


def prof1_column_profile(spark, sf_dir):
    """One-pass column profiler over orders: count/nulls/exact distinct/
    min/max per column from a single aggregate (multi-DISTINCT via Spark's
    Expand), exploded to one row per column — p15's profile_columns with
    the null count named n_null."""
    orders = load_table(spark, sf_dir, "orders")
    return prep.profile_columns(
        orders, ["o_custkey", "o_orderdate", "o_orderpriority", "o_orderstatus"]
    ).withColumnRenamed("n_nulls", "n_null")


PROF1_SQL = """
SELECT 'o_custkey' AS "column", count(*) AS n_rows,
       CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
       count(DISTINCT o_custkey) AS n_distinct,
       CAST(min(o_custkey) AS VARCHAR) AS min_value,
       CAST(max(o_custkey) AS VARCHAR) AS max_value
FROM orders
UNION ALL
SELECT 'o_orderdate', count(*),
       CAST(sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       count(DISTINCT o_orderdate),
       CAST(min(o_orderdate) AS VARCHAR), CAST(max(o_orderdate) AS VARCHAR)
FROM orders
UNION ALL
SELECT 'o_orderpriority', count(*),
       CAST(sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       count(DISTINCT o_orderpriority),
       min(o_orderpriority), max(o_orderpriority)
FROM orders
UNION ALL
SELECT 'o_orderstatus', count(*),
       CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       count(DISTINCT o_orderstatus),
       min(o_orderstatus), max(o_orderstatus)
FROM orders
ORDER BY "column"
"""

query("prof1_column_profile", prof1_column_profile, PROF1_SQL)


def pipe4_shard_stats(spark, sf_dir):
    """Deterministic training-shard assignment (md5 hex-nibble — an
    engine-independent shard key to partition training shards by):
    per-shard doc count, char volume, id range. Verifies shard membership
    is reproducible cross-engine — stable shard membership is what lets a
    resumed training job re-read identical batches."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.withColumn("shard", io.deterministic_shard("doc_id", 1))
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
        .orderBy("shard")
    )


PIPE4_SHARD_SQL = """
SELECT substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS shard,
       count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       min(doc_id) AS min_doc_id,
       max(doc_id) AS max_doc_id
FROM documents GROUP BY shard ORDER BY shard
"""

query("pipe4_shard_stats", pipe4_shard_stats, PIPE4_SHARD_SQL)


# ---------------------------------------------------------------------------
# round-5 additions: chunking, vocabulary, rarity scoring, sequence packing,
# SCD2 change history. New queries land beyond the driver's 50-slot window
# (house rule: rotate deliberately, not by insertion order).
# ---------------------------------------------------------------------------


def x9_chunk_documents(spark, sf_dir):
    """Token-window chunking (size 32, overlap 8) — the retrieval/embedding
    context-window prep. ~2.4 chunks/doc on this corpus."""
    docs = load_table(spark, sf_dir, "documents")
    return text.chunk_documents(docs, "doc_id", "text", size=32, overlap=8).orderBy(
        "doc_id", "chunk_id"
    )


X9_CHUNK_SQL = r"""
WITH toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
c AS (SELECT doc_id, t,
             CASE WHEN len(t) <= 32 THEN 1
                  ELSE CAST(ceil((len(t) - 32) / 24.0) AS INT) + 1 END AS nc
      FROM toks),
e AS (SELECT doc_id, t, unnest(range(0, nc)) AS chunk_id FROM c)
SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
       CAST(len(t[chunk_id*24+1 : chunk_id*24+32]) AS BIGINT) AS n_chunk_tokens,
       array_to_string(t[chunk_id*24+1 : chunk_id*24+32], ' ') AS chunk_text
FROM e ORDER BY doc_id, chunk_id
"""


def x10_vocabulary(spark, sf_dir):
    """Corpus vocabulary head: top-200 tokens by term frequency with doc
    frequency — tokenizer-training / WIMBD-style corpus audit."""
    docs = load_table(spark, sf_dir, "documents")
    return text.vocabulary(docs, "doc_id", "text", top_k=200)


X10_VOCAB_SQL = r"""
SELECT lower(tok) AS token, count(*) AS tf, count(DISTINCT doc_id) AS df
FROM (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
      FROM documents)
GROUP BY token ORDER BY tf DESC, token LIMIT 200
"""


def x11_token_rarity(spark, sf_dir):
    """Per-doc corpus-frequency stats (mean token tf, rare-token fraction) —
    the model-free perplexity-filter stand-in. All-integer aggregates +
    single IEEE divisions: engine-exact."""
    docs = load_table(spark, sf_dir, "documents")
    return text.token_rarity_scores(docs, "doc_id", "text", rare_max_tf=2).orderBy(
        "doc_id"
    )


X11_RARITY_SQL = r"""
WITH tok AS (
  SELECT doc_id, lower(tok) AS token
  FROM (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
        FROM documents)
),
v AS (SELECT token, count(*) AS tf FROM tok GROUP BY token)
SELECT doc_id, count(*) AS n_tokens, CAST(sum(tf) AS BIGINT) AS tf_sum,
       CAST(sum(tf) AS DOUBLE) / count(*) AS mean_token_tf,
       CAST(sum(CASE WHEN tf <= 2 THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS rare_frac
FROM tok JOIN v USING (token)
GROUP BY doc_id ORDER BY doc_id
"""


def _docs_with_token_counts(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", F.size(text.tokens("text")).cast("long").alias("n_tokens")
    )


def pack1_sequence_packing(spark, sf_dir):
    """Greedy sequence packing (budget 256 tokens, 8 deterministic shards):
    per-doc (shard, bin_id) assignment. applyInPandas per shard; the DuckDB
    oracle replays the identical greedy scan as a recursive CTE."""
    from ..operators import pack

    staged = _docs_with_token_counts(spark, sf_dir)
    return pack.pack_greedy(staged, "doc_id", "n_tokens", budget=256, n_shards=8).orderBy(
        "shard", "doc_id"
    )


PACK1_SQL = r"""
WITH RECURSIVE toks AS (
  SELECT doc_id, doc_id % 8 AS shard,
         len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens
  FROM documents
),
ord AS (
  SELECT *, row_number() OVER (PARTITION BY shard ORDER BY doc_id) AS rn FROM toks
),
acc AS (
  SELECT shard, rn, doc_id, n_tokens, CAST(0 AS BIGINT) AS bin_id, n_tokens AS fill
  FROM ord WHERE rn = 1
  UNION ALL
  SELECT o.shard, o.rn, o.doc_id, o.n_tokens,
         CASE WHEN a.fill + o.n_tokens > 256 THEN a.bin_id + 1 ELSE a.bin_id END,
         CASE WHEN a.fill + o.n_tokens > 256 THEN o.n_tokens ELSE a.fill + o.n_tokens END
  FROM acc a JOIN ord o ON o.shard = a.shard AND o.rn = a.rn + 1
)
SELECT doc_id, CAST(shard AS BIGINT) AS shard, bin_id, CAST(n_tokens AS BIGINT) AS n_tokens
FROM acc ORDER BY shard, doc_id
"""


def pack2_bin_summary(spark, sf_dir):
    """Packing-efficiency audit: per-bin doc count, token total, fill ppm."""
    from ..operators import pack

    staged = _docs_with_token_counts(spark, sf_dir)
    packed = pack.pack_greedy(staged, "doc_id", "n_tokens", budget=256, n_shards=8)
    return pack.pack_bin_summary(packed, budget=256).orderBy("shard", "bin_id")


PACK2_SQL = (
    "WITH packed AS ("
    + PACK1_SQL.replace("ORDER BY shard, doc_id", "")
    + """)
SELECT shard, bin_id, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       CAST(floor(sum(n_tokens) * 1000000 / 256) AS BIGINT) AS fill_ppm
FROM packed GROUP BY shard, bin_id ORDER BY shard, bin_id
"""
)


def ev3_scd2_history(spark, sf_dir):
    """Type-2 SCD change history: collapse each user's consecutive runs of
    equal event_type (gaps-and-islands) into validity intervals — the
    CDC-to-dimension builder a point-in-time join consumes."""
    from ..operators import timeseries as TS

    ev = load_table(spark, sf_dir, "events")
    return TS.change_history(ev, "user_id", "event_type", "ts", "event_id").orderBy(
        "user_id", "valid_from"
    )


EV3_SCD2_SQL = """
WITH flagged AS (
  SELECT user_id, event_type, ts, event_id,
         CASE WHEN row_number() OVER w = 1
                   OR event_type IS DISTINCT FROM lag(event_type) OVER w THEN 1 ELSE 0 END AS new_island
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
isl AS (
  SELECT *, sum(new_island) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) AS island
  FROM flagged
),
g AS (
  SELECT user_id, island, min(event_type) AS event_type, min(ts) AS valid_from,
         count(*) AS n_events
  FROM isl GROUP BY user_id, island
)
SELECT user_id, event_type, valid_from,
       lead(valid_from) OVER wi AS valid_to,
       n_events,
       (lead(valid_from) OVER wi IS NULL) AS is_current
FROM g
WINDOW wi AS (PARTITION BY user_id ORDER BY island)
ORDER BY user_id, valid_from
"""


query("x9_chunk_documents", x9_chunk_documents, X9_CHUNK_SQL)
query("x10_vocabulary", x10_vocabulary, X10_VOCAB_SQL)
query("x11_token_rarity", x11_token_rarity, X11_RARITY_SQL)
query("pack1_sequence_packing", pack1_sequence_packing, PACK1_SQL)
query("pack2_bin_summary", pack2_bin_summary, PACK2_SQL)
query("ev3_scd2_history", ev3_scd2_history, EV3_SCD2_SQL)


def rj1_event_pairs(spark, sf_dir):
    """Batch band join: all same-user event pairs within 3600 s, via
    time-bucket candidate generation (operators/rangejoin.py) — the
    open-source substitute for a range-join optimizer. The oracle is the
    plain inequality join (DuckDB's IEJoin runs it exactly)."""
    from ..operators.rangejoin import time_window_pairs

    ev = load_table(spark, sf_dir, "events")
    return time_window_pairs(
        ev, "user_id", "ts", "event_id", window_sec=3600
    ).orderBy("user_id", "id_a", "id_b")


RJ1_PAIRS_SQL = """
SELECT a.user_id, a.event_id AS id_a, b.event_id AS id_b,
       a.ts AS ts_a, b.ts AS ts_b,
       CAST(floor(epoch(b.ts)) - floor(epoch(a.ts)) AS BIGINT) AS gap_seconds
FROM events a JOIN events b
  ON a.user_id = b.user_id
 AND (b.ts > a.ts OR (b.ts = a.ts AND b.event_id > a.event_id))
 AND floor(epoch(b.ts)) - floor(epoch(a.ts)) <= 3600
ORDER BY a.user_id, id_a, id_b
"""


def t8_kfold_audit(spark, sf_dir):
    """Deterministic k-fold CV assignment balance: fold × label counts over
    the scored-events fixture. Folds from the first 32 md5 bits mod k —
    reproducible on any engine/partitioning."""
    assigned = split.kfold_assign(scored_events(spark, sf_dir), "event_id", k=5)
    return (
        assigned.groupBy("fold", "label")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("fold", "label")
    )


T8_KFOLD_SQL = """
SELECT CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8))::BIGINT % 5 AS INT) AS fold,
       CASE WHEN event_id % 7 < 3 THEN 1 ELSE 0 END AS label,
       count(*) AS n
FROM events GROUP BY fold, label ORDER BY fold, label
"""


# sign matrix shared between the Spark plan and the oracle SQL — both sides
# compile the SAME ±1 constants, so the projection is engine-identical
_RP_SIGNS = similarity._rp_signs(64, 8, 13)

_Q_MILLI_DUCK = (
    "list_transform(embedding, x -> CASE WHEN CAST(x AS DOUBLE) < 0 "
    "THEN -CAST(floor(abs(CAST(x AS DOUBLE)) * 1000 + 0.5) AS BIGINT) "
    "ELSE CAST(floor(abs(CAST(x AS DOUBLE)) * 1000 + 0.5) AS BIGINT) END)"
)


def _rp_proj_sql(j: int) -> str:
    arr = "[" + ",".join(str(s) for s in _RP_SIGNS[j]) + "]"
    return (
        f"CAST(list_sum(list_transform(range(1, 65), i -> qv[i] * ({arr})[i])) "
        f"AS BIGINT) AS p{j}"
    )


def emb1_random_projection(spark, sf_dir):
    """JL random projection 64→8 dims with a ±1 sign matrix over
    milli-quantized vectors — exact integer arithmetic, engine-identical."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.random_projection(
        emb, "vec_id", "embedding", n_out=8, dim=64, seed=13
    ).orderBy("vec_id")


EMB1_PROJ_SQL = (
    f"WITH qe AS (SELECT vec_id, {_Q_MILLI_DUCK} AS qv FROM embeddings)\n"
    "SELECT vec_id, "
    + ", ".join(_rp_proj_sql(j) for j in range(8))
    + "\nFROM qe ORDER BY vec_id"
)


def emb2_label_centroids(spark, sf_dir):
    """Per-label centroid in the projected space: exact integer sums, one
    IEEE division — the embedding-space class-separation audit."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.label_centroids_projected(
        emb, "vec_id", "embedding", "label", n_out=8, dim=64, seed=13
    ).orderBy("label")


EMB2_CENTROID_SQL = (
    f"WITH qe AS (SELECT vec_id, {_Q_MILLI_DUCK} AS qv FROM embeddings),\n"
    "p AS (SELECT vec_id, "
    + ", ".join(_rp_proj_sql(j) for j in range(8))
    + " FROM qe)\n"
    "SELECT label, count(*) AS n_vecs, "
    + ", ".join(
        f"CAST(sum(p{j}) AS DOUBLE) / count(*) AS c{j}" for j in range(8)
    )
    + "\nFROM p JOIN embeddings USING (vec_id) GROUP BY label ORDER BY label"
)


query("rj1_event_pairs", rj1_event_pairs, RJ1_PAIRS_SQL)
query("t8_kfold_audit", t8_kfold_audit, T8_KFOLD_SQL)
query("emb1_random_projection", emb1_random_projection, EMB1_PROJ_SQL)
query("emb2_label_centroids", emb2_label_centroids, EMB2_CENTROID_SQL)




def x12_dup_ngram_fraction(spark, sf_dir):
    """Cross-document duplicated 8-gram fraction — the between-docs
    boilerplate signal complementing x5's within-doc repetition."""
    docs = load_table(spark, sf_dir, "documents")
    return text.duplicated_ngram_fraction(docs, "doc_id", "text", n=8).orderBy(
        "doc_id"
    )


X12_DUP_NGRAM_SQL = r"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents
),
grams AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
           range(1, greatest(len(t) - 8, 0) + 2),
           i -> array_to_string(t[i:i+7], ' ')))) AS g
  FROM toks
),
gd AS (SELECT g, count(*) AS nd FROM grams GROUP BY g)
SELECT doc_id, count(*) AS n_grams,
       CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_grams,
       CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS dup_gram_frac
FROM grams JOIN gd USING (g)
GROUP BY doc_id ORDER BY doc_id
"""

query("x12_dup_ngram_fraction", x12_dup_ngram_fraction, X12_DUP_NGRAM_SQL)


def s13_incremental_agg(spark, sf_dir):
    """Incremental aggregate maintenance: the events table split at
    2024-01-15 into a base snapshot + a delta; the merged snapshot
    (operators/merge.py agg_snapshot + merge_agg_snapshots — base facts
    never re-read) must equal the one-shot full aggregate, which is the
    DuckDB oracle. count/sum add, min/max fold; sum over event_id so the
    merge algebra is exact-integer."""
    from ..operators.merge import agg_snapshot, merge_agg_snapshots

    ev = load_table(spark, sf_dir, "events")
    cutoff = F.lit("2024-01-15").cast("timestamp")
    specs = {
        "n_events": ("count", "event_id"),
        "sum_ids": ("sum", "event_id"),
        "min_ts": ("min", "ts"),
        "max_ts": ("max", "ts"),
    }
    base = agg_snapshot(ev.filter(F.col("ts") < cutoff), ["user_id"], specs)
    delta = agg_snapshot(ev.filter(F.col("ts") >= cutoff), ["user_id"], specs)
    return merge_agg_snapshots(base, delta, ["user_id"], specs).orderBy("user_id")


S13_INCR_AGG_SQL = """
SELECT user_id, count(*) AS n_events, CAST(sum(event_id) AS BIGINT) AS sum_ids,
       min(ts) AS min_ts, max(ts) AS max_ts
FROM events GROUP BY user_id ORDER BY user_id
"""

query("s13_incremental_agg", s13_incremental_agg, S13_INCR_AGG_SQL)


def dq1_expectations(spark, sf_dir):
    """One-pass declarative data-quality gate over orders (operators/
    expect.py): volume, key uniqueness, price range, status domain,
    null budget — k expectations, ONE scan."""
    from ..operators.expect import Check

    orders = load_table(spark, sf_dir, "orders")
    return (
        Check()
        .row_count_min(100)
        .unique_key("o_orderkey")
        .null_frac_max("o_custkey", 0.0)
        .value_min("o_totalprice", 0)
        .value_max("o_totalprice", 1000000)
        .accepted_values("o_orderstatus", ["F", "O", "P"])
        .run(orders)
    )


DQ1_EXPECT_SQL = """
SELECT 'row_count>=100' AS expectation, CAST(count(*) AS DOUBLE) AS measured,
       count(*) >= 100 AS passed FROM orders
UNION ALL
SELECT 'unique(o_orderkey)', CAST(count(*) - count(DISTINCT o_orderkey) AS DOUBLE),
       count(*) - count(DISTINCT o_orderkey) = 0 FROM orders
UNION ALL
SELECT 'null_frac(o_custkey)<=0.0',
       CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS DOUBLE) / count(*),
       CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS DOUBLE) / count(*) <= 0.0
FROM orders
UNION ALL
SELECT 'min(o_totalprice)>=0', CAST(min(o_totalprice) AS DOUBLE),
       min(o_totalprice) >= 0 FROM orders
UNION ALL
SELECT 'max(o_totalprice)<=1000000', CAST(max(o_totalprice) AS DOUBLE),
       max(o_totalprice) <= 1000000 FROM orders
UNION ALL
SELECT 'accepted_values(o_orderstatus)',
       CAST(sum(CASE WHEN o_orderstatus IN ('F','O','P') OR o_orderstatus IS NULL
                THEN 0 ELSE 1 END) AS DOUBLE),
       sum(CASE WHEN o_orderstatus IN ('F','O','P') OR o_orderstatus IS NULL
           THEN 0 ELSE 1 END) = 0
FROM orders
"""

query("dq1_expectations", dq1_expectations, DQ1_EXPECT_SQL)


def ev4_top_session_paths(spark, sf_dir):
    """Top session paths (sequence-mining lite): per session, the ordered
    event_type path (first 10 events, '>'-joined); rank paths by session
    count. Session tagging reuses the lag+cumsum shuffle; the path is an
    array_sort(collect_list(struct(ts, event_id, type))) — struct order =
    (ts, event_id), so the path string is engine-exact. Path agg shuffles
    only (path, counts) pairs."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.lag(F.unix_micros(F.col("ts"))).over(w)
    new_session = (
        F.when(gap.isNull(), 1)
        .when(F.unix_micros(F.col("ts")) - gap > 30 * 60 * 1_000_000, 1)
        .otherwise(0)
    )
    tagged = ev.withColumn(
        "session_seq",
        F.sum(new_session).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    # cap BEFORE collecting: row_number over the same (user, ts, event_id)
    # sort limits every session to its first 10 events up front, so a
    # pathological session (a bot with millions of events) contributes 10
    # rows to the group, not millions — collect_list state is bounded by
    # construction. The extra window reuses the existing shuffle+sort.
    w_sess = Window.partitionBy("user_id", "session_seq").orderBy("ts", "event_id")
    capped = tagged.withColumn("__rn", F.row_number().over(w_sess)).filter(
        F.col("__rn") <= 10
    )
    paths = capped.groupBy("user_id", "session_seq").agg(
        F.concat_ws(
            ">",
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("ts", "event_id", "event_type"))
                ),
                lambda s: s["event_type"],
            ),
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy(F.col("n_sessions").desc(), "path")
        .limit(20)
    )


EV4_PATHS_SQL = """
WITH g AS (
  SELECT user_id, event_id, ts, event_type,
    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
              OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
         THEN 1 ELSE 0 END AS ns
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), s AS (
  SELECT *, sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
  FROM g
), p AS (
  SELECT user_id, session_seq,
         array_to_string(list_slice(list(event_type ORDER BY ts, event_id), 1, 10), '>') AS path
  FROM s GROUP BY user_id, session_seq
)
SELECT path, count(*) AS n_sessions, count(DISTINCT user_id) AS n_users
FROM p GROUP BY path ORDER BY n_sessions DESC, path LIMIT 20
"""

query("ev4_top_session_paths", ev4_top_session_paths, EV4_PATHS_SQL)


def ev5_daily_state_snapshot(spark, sf_dir):
    """Temporal (versioned-dimension) enrichment: for each (user, day)
    the event_type run in effect at the day boundary, read from the ev3
    SCD2 history via the point-in-time as-of join — the dimension built
    by change_history consumed the way a feature store consumes it.
    Probe = distinct user-days; left as-of keeps pre-history days with a
    NULL state."""
    from ..operators import timeseries as TS
    from ..operators.pit import as_of_join

    ev = load_table(spark, sf_dir, "events")
    hist = TS.change_history(ev, "user_id", "event_type", "ts", "event_id")
    probe = ev.select(
        "user_id", F.date_trunc("day", F.col("ts")).alias("day_ts")
    ).distinct()
    return (
        as_of_join(
            probe,
            hist.select("user_id", "valid_from", F.col("event_type").alias("state")),
            keys=["user_id"],
            entity_ts="day_ts",
            feature_ts="valid_from",
            feature_cols=["valid_from", "state"],
        )
        .select("user_id", "day_ts", "state", "valid_from")
        .orderBy("user_id", "day_ts")
    )


EV5_SNAPSHOT_SQL = """
WITH flagged AS (
  SELECT user_id, event_type, ts, event_id,
         CASE WHEN row_number() OVER w = 1
                   OR event_type IS DISTINCT FROM lag(event_type) OVER w THEN 1 ELSE 0 END AS new_island
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
isl AS (
  SELECT *, sum(new_island) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) AS island
  FROM flagged
),
hist AS (
  SELECT user_id, island, min(event_type) AS state, min(ts) AS valid_from
  FROM isl GROUP BY user_id, island
),
probe AS (SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day_ts FROM events)
SELECT p.user_id, p.day_ts, h.state, h.valid_from
FROM probe p LEFT JOIN hist h
  ON h.user_id = p.user_id AND h.valid_from <= p.day_ts
QUALIFY row_number() OVER (PARTITION BY p.user_id, p.day_ts
                           ORDER BY h.valid_from DESC, h.state DESC) = 1
ORDER BY p.user_id, p.day_ts
"""

query("ev5_daily_state_snapshot", ev5_daily_state_snapshot, EV5_SNAPSHOT_SQL)


def fn_map_suite(spark, sf_dir):
    """MAP-function parity: per-user (event_type -> count) built with
    map_from_entries, transformed with transform_values, pruned with
    map_filter, then exploded back to rows so the compare is scalar. The
    relational oracle is the HAVING form of the same computation — the MAP
    round-trip must be a semantic no-op. map_keys/element_at are exercised
    via the n_types / click_count columns."""
    ev = load_table(spark, sf_dir, "events")
    per_type = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    mapped = per_type.groupBy("user_id").agg(
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("event_type", "n")))
        ).alias("m")
    )
    doubled = mapped.select(
        "user_id",
        F.size(F.map_keys(F.col("m"))).alias("n_types"),
        F.coalesce(F.element_at(F.col("m"), "click"), F.lit(0)).alias("click_count"),
        F.map_filter(
            F.transform_values(F.col("m"), lambda k, v: v * 2),
            lambda k, v: v >= 20,
        ).alias("m2"),
    )
    return (
        doubled.select(
            "user_id", "n_types", "click_count", F.explode("m2").alias("event_type", "doubled")
        )
        .orderBy("user_id", "event_type")
    )


FN_MAP_SQL = """
WITH per_type AS (
  SELECT user_id, event_type, count(*) AS n FROM events GROUP BY user_id, event_type
),
u AS (
  SELECT user_id, count(*) AS n_types,
         CAST(coalesce(sum(CASE WHEN event_type = 'click' THEN n END), 0) AS BIGINT) AS click_count
  FROM per_type GROUP BY user_id
)
SELECT p.user_id, CAST(u.n_types AS INTEGER) AS n_types, u.click_count,
       p.event_type, p.n * 2 AS doubled
FROM per_type p JOIN u USING (user_id)
WHERE p.n * 2 >= 20
ORDER BY p.user_id, p.event_type
"""

query("fn_map_suite", fn_map_suite, FN_MAP_SQL)


def dq2_corpus_expectations(spark, sf_dir):
    """Corpus-ingest gate: the documents table checked for volume, PK
    uniqueness, text null budget, char-length bounds, and language domain
    — one scan (operators/expect.py)."""
    from ..operators.expect import Check

    docs = load_table(spark, sf_dir, "documents")
    return (
        Check()
        .row_count_min(100)
        .unique_key("doc_id")
        .null_frac_max("text", 0.0)
        .value_min("n_chars", 1)
        .value_max("n_chars", 100000)
        .accepted_values("lang", ["en", "es", "de", "fr"])
        .run(docs)
    )


DQ2_CORPUS_SQL = """
SELECT 'row_count>=100' AS expectation, CAST(count(*) AS DOUBLE) AS measured,
       count(*) >= 100 AS passed FROM documents
UNION ALL
SELECT 'unique(doc_id)', CAST(count(*) - count(DISTINCT doc_id) AS DOUBLE),
       count(*) - count(DISTINCT doc_id) = 0 FROM documents
UNION ALL
SELECT 'null_frac(text)<=0.0',
       CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS DOUBLE) / count(*),
       CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS DOUBLE) / count(*) <= 0.0
FROM documents
UNION ALL
SELECT 'min(n_chars)>=1', CAST(min(n_chars) AS DOUBLE), min(n_chars) >= 1 FROM documents
UNION ALL
SELECT 'max(n_chars)<=100000', CAST(max(n_chars) AS DOUBLE),
       max(n_chars) <= 100000 FROM documents
UNION ALL
SELECT 'accepted_values(lang)',
       CAST(sum(CASE WHEN lang IN ('en','es','de','fr') OR lang IS NULL
                THEN 0 ELSE 1 END) AS DOUBLE),
       sum(CASE WHEN lang IN ('en','es','de','fr') OR lang IS NULL
           THEN 0 ELSE 1 END) = 0
FROM documents
"""

query("dq2_corpus_expectations", dq2_corpus_expectations, DQ2_CORPUS_SQL)


def s14_snapshot_diff(spark, sf_dir):
    """Dataset-version diff: the latest-event-per-user snapshot before vs
    after 2024-01-20 — which users appeared, disappeared, or changed
    state between the two materializations (operators/merge.py
    diff_snapshots; summary counts keep the result scalar)."""
    from ..operators.merge import diff_snapshots
    from ..sources.io import latest_per_key

    ev = load_table(spark, sf_dir, "events")
    cutoff = F.lit("2024-01-20").cast("timestamp")
    snap = lambda d: latest_per_key(  # noqa: E731
        d, ["user_id"], "ts", feature_cols=["event_type", "event_id"],
        tiebreak_cols=["event_id"],
    ).select("user_id", "event_type")
    # deterministic churn so every diff class is exercised: users
    # user_id%17==0 onboard late (absent from old), users user_id%13==0
    # churn out (absent from new)
    old = snap(ev.filter((F.col("ts") < cutoff) & (F.col("user_id") % 17 != 0)))
    new = snap(ev.filter(F.col("user_id") % 13 != 0))
    d = diff_snapshots(old, new, ["user_id"], compare_cols=["event_type"])
    return (
        d.groupBy("change").agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("change")
    )


S14_DIFF_SQL = """
WITH old_snap AS (
  SELECT user_id, event_type FROM (
    SELECT user_id, event_type,
           row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) rn
    FROM events WHERE ts < TIMESTAMP '2024-01-20' AND user_id % 17 <> 0) WHERE rn = 1
),
new_snap AS (
  SELECT user_id, event_type FROM (
    SELECT user_id, event_type,
           row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) rn
    FROM events WHERE user_id % 13 <> 0) WHERE rn = 1
),
d AS (
  SELECT coalesce(o.user_id, n.user_id) AS user_id,
         CASE WHEN o.user_id IS NULL THEN 'added'
              WHEN n.user_id IS NULL THEN 'removed'
              WHEN o.event_type <> n.event_type THEN 'changed' END AS change
  FROM old_snap o FULL OUTER JOIN new_snap n USING (user_id)
)
SELECT change, count(*) AS n_users FROM d WHERE change IS NOT NULL
GROUP BY change ORDER BY change
"""

query("s14_snapshot_diff", s14_snapshot_diff, S14_DIFF_SQL)


def _basket_pairs_expr(parts_col: str):
    """All (a, b) combinations with a < b from a SORTED DISTINCT array —
    the in-array form of the basket self-join: element i pairs with every
    later element via slice(parts, i+2, size) (1-based start; start past
    the end yields an empty slice, so the last element contributes no
    pairs). Sorted-distinct input makes a < b strict by construction —
    the same pair set the l_orderkey self-join + (part_a < part_b) filter
    produces, without the join: fan-out stays basket-size², but no
    exchange of two join sides and no pair-dedup machinery."""
    parts = F.col(parts_col)
    return F.flatten(
        F.transform(
            parts,
            lambda x, i: F.transform(
                F.slice(parts, i + F.lit(2), F.size(parts)),
                lambda y: F.struct(x.alias("part_a"), y.alias("part_b")),
            ),
        )
    )


def q23_copurchase_pairs(spark, sf_dir):
    """Market-basket co-occurrence: the 20 part pairs most often bought in
    the same order. One groupBy collects each order's SORTED DISTINCT
    part array (two lineitems of one part are one basket membership),
    then pairs are generated INSIDE the array (combinations with
    part_a < part_b — fan-out is bounded by basket size squared, ≤13
    items here; for retail-scale baskets cap items per order first, the
    ev4 trick) and the pair aggregate shuffles only (part_a, part_b,
    count) partials. Replaces the former distinct + self-join shape: the
    distinct exchange, both join-side exchanges and the join itself
    collapse into one l_orderkey aggregation (4 exchanges → 2, no join,
    no checkpoint). Top-20 is a TakeOrdered, no global sort
    materialization."""
    li = load_table(spark, sf_dir, "lineitem")
    baskets = (
        li.select("l_orderkey", "l_partkey")
        .groupBy("l_orderkey")
        .agg(F.array_sort(F.array_distinct(F.collect_list("l_partkey"))).alias("parts"))
    )
    return (
        baskets.select(F.explode(_basket_pairs_expr("parts")).alias("pr"))
        .groupBy(F.col("pr.part_a").alias("part_a"), F.col("pr.part_b").alias("part_b"))
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy(F.col("n_orders").desc(), "part_a", "part_b")
        .limit(20)
    )


Q23_COPURCHASE_SQL = """
WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, count(*) AS n_orders
FROM items a JOIN items b
  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
GROUP BY part_a, part_b
ORDER BY n_orders DESC, part_a, part_b LIMIT 20
"""

query("q23_copurchase_pairs", q23_copurchase_pairs, Q23_COPURCHASE_SQL)


def q24_association_rules(spark, sf_dir):
    """Association rules over order baskets: for the top co-purchase
    pairs, support counts and LIFT = (n_ab · N) / (n_a · n_b) — the
    numerator/denominator stay exact integers (one IEEE division at the
    end), so the statistic is engine-exact. Per-part counts broadcast
    back onto the pair aggregate; N is a scalar broadcast, not a driver
    round-trip per row."""
    li = load_table(spark, sf_dir, "lineitem")
    # three consumers of the per-order basket table (total count, per-part
    # counts, the pair explode) — ONE l_orderkey aggregation builds the
    # sorted-distinct part arrays, a lazy localCheckpoint materializes it
    # under the scalar-count job, and every later consumer reads the
    # checkpointed rows. Replaces the former distinct + self-join shape
    # (8 lineitem scans / distinct-orderkey job / two join-side exchanges
    # collapse into the basket aggregate; pairs come from in-array
    # combinations, see _basket_pairs_expr).
    baskets = (
        li.select("l_orderkey", "l_partkey")
        .groupBy("l_orderkey")
        .agg(F.array_sort(F.array_distinct(F.collect_list("l_partkey"))).alias("parts"))
        .localCheckpoint(eager=False)
    )
    n_orders_total = baskets.count()  # scalar: one row per distinct order
    part_counts = baskets.select(
        F.explode("parts").alias("l_partkey")
    ).groupBy("l_partkey").agg(F.count(F.lit(1)).alias("n_part"))
    pairs = (
        baskets.select(F.explode(_basket_pairs_expr("parts")).alias("pr"))
        .groupBy(
            F.col("pr.part_a").alias("part_a"), F.col("pr.part_b").alias("part_b")
        )
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= 3)
    )
    enriched = (
        pairs.join(
            F.broadcast(part_counts.select(F.col("l_partkey").alias("part_a"),
                                           F.col("n_part").alias("n_a"))),
            "part_a",
        )
        .join(
            F.broadcast(part_counts.select(F.col("l_partkey").alias("part_b"),
                                           F.col("n_part").alias("n_b"))),
            "part_b",
        )
    )
    return (
        enriched.select(
            "part_a", "part_b", "n_ab", "n_a", "n_b",
            (
                (F.col("n_ab") * F.lit(n_orders_total))
                / (F.col("n_a") * F.col("n_b"))
            ).alias("lift"),
        )
        .orderBy(F.col("lift").desc(), "part_a", "part_b")
        .limit(20)
    )


Q24_ASSOC_SQL = """
WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
tot AS (SELECT count(DISTINCT l_orderkey) AS n FROM items),
pc AS (SELECT l_partkey, count(*) AS n_part FROM items GROUP BY l_partkey),
pairs AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, count(*) AS n_ab
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY part_a, part_b HAVING count(*) >= 3
)
SELECT part_a, part_b, n_ab, pa.n_part AS n_a, pb.n_part AS n_b,
       CAST(n_ab * tot.n AS DOUBLE) / (pa.n_part * pb.n_part) AS lift
FROM pairs
JOIN pc pa ON pa.l_partkey = part_a
JOIN pc pb ON pb.l_partkey = part_b
CROSS JOIN tot
ORDER BY lift DESC, part_a, part_b LIMIT 20
"""

query("q24_association_rules", q24_association_rules, Q24_ASSOC_SQL)


def t9_weighted_sample(spark, sf_dir):
    """Deterministic weighted (importance) sampling over documents: keep
    probability ∝ doc length (n_chars / max within the corpus band,
    deterministic arithmetic) — the corpus-mixing primitive that
    upsamples long/high-quality docs reproducibly. The per-key uniform
    draw is md5-derived, so DuckDB replicates the exact keep set."""
    docs = load_table(spark, sf_dir, "documents")
    weighted = docs.withColumn("w", F.col("n_chars") / F.lit(1000.0))
    kept = split.weighted_deterministic_sample(weighted, "doc_id", "w")
    return kept.select("doc_id", "lang", "n_chars").orderBy("doc_id")


T9_WEIGHTED_SQL = """
SELECT doc_id, lang, n_chars FROM documents
WHERE CAST(('0x' || substr(md5('w1|' || CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT AS DOUBLE)
      / 281474976710656.0
      < least(greatest(n_chars / 1000.0, 0.0), 1.0)
ORDER BY doc_id
"""

query("t9_weighted_sample", t9_weighted_sample, T9_WEIGHTED_SQL)


def t9b_replicated_sample(spark, sf_dir):
    """Weighted sampling WITH replication (epoch-weighting): w = n_chars /
    400 caps around ~5 for the longest docs, so long documents repeat up
    to 5x per epoch while short ones keep fractionally — floor(w) copies
    + one more iff the md5 draw lands under frac(w). copy_idx
    disambiguates replicas; DuckDB replays the exact multiset via
    unnest(range(copies))."""
    docs = load_table(spark, sf_dir, "documents")
    weighted = docs.withColumn("w", F.col("n_chars") / F.lit(400.0))
    kept = split.weighted_replicated_sample(weighted, "doc_id", "w", max_weight=5.0)
    return kept.select("doc_id", "lang", "n_chars", "copy_idx").orderBy(
        "doc_id", "copy_idx"
    )


T9B_REPLICATED_SQL = """
WITH w AS (
  SELECT doc_id, lang, n_chars,
         least(greatest(n_chars / 400.0, 0.0), 5.0) AS w,
         CAST(('0x' || substr(md5('w1|' || CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT AS DOUBLE)
           / 281474976710656.0 AS u
  FROM documents
),
c AS (
  SELECT doc_id, lang, n_chars,
         CAST(floor(w) + CASE WHEN u < w - floor(w) THEN 1 ELSE 0 END AS BIGINT) AS copies
  FROM w
)
SELECT doc_id, lang, n_chars, CAST(unnest(range(copies)) AS BIGINT) AS copy_idx
FROM c WHERE copies > 0
ORDER BY doc_id, copy_idx
"""

query("t9b_replicated_sample", t9b_replicated_sample, T9B_REPLICATED_SQL)


def ts6_ewma(spark, sf_dir):
    """Per-user EWMA of event values (α=0.5 — dyadic, so the recursion is
    IEEE-exact cross-engine); the DuckDB oracle replays it as a recursive
    CTE, like pack1's greedy scan."""
    from ..operators import timeseries as TS

    ev = load_table(spark, sf_dir, "events")
    return TS.ewma(ev, "user_id", "ts", "value", "event_id", alpha=0.5).orderBy(
        "user_id", "ts", "event_id"
    )


TS6_EWMA_SQL = """
WITH RECURSIVE ord AS (
  SELECT user_id, ts, event_id, CAST(value AS DOUBLE) AS value,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
),
acc AS (
  SELECT user_id, ts, event_id, value, rn, value AS ewma FROM ord WHERE rn = 1
  UNION ALL
  SELECT o.user_id, o.ts, o.event_id, o.value, o.rn,
         0.5 * o.value + 0.5 * a.ewma
  FROM acc a JOIN ord o ON o.user_id = a.user_id AND o.rn = a.rn + 1
)
SELECT user_id, ts, event_id, value, ewma FROM acc
ORDER BY user_id, ts, event_id
"""

query("ts6_ewma", ts6_ewma, TS6_EWMA_SQL)


def x13_lexical_stats(spark, sf_dir):
    """Per-language lexical audit: type-token ratio and hapax-legomenon
    fraction — the corpus-health numbers a tokenizer/mixing decision reads
    first. Two integer-counting aggregations over the exploded tokens
    (explode is narrow; both groupBys partially aggregate), one IEEE
    division each at the end."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "lang", F.explode(text.tokens("text")).alias("__t")
    ).select("lang", F.lower(F.col("__t")).alias("token"))
    per_type = toks.groupBy("lang", "token").agg(F.count(F.lit(1)).alias("n"))
    return (
        per_type.groupBy("lang")
        .agg(
            F.sum("n").alias("n_tokens"),
            F.count(F.lit(1)).alias("n_types"),
            F.sum(F.when(F.col("n") == 1, 1).otherwise(0)).alias("n_hapax"),
        )
        .select(
            "lang",
            "n_tokens",
            "n_types",
            (F.col("n_types") / F.col("n_tokens")).alias("type_token_ratio"),
            (F.col("n_hapax") / F.col("n_types")).alias("hapax_frac"),
        )
        .orderBy("lang")
    )


X13_LEXICAL_SQL = r"""
WITH tok AS (
  SELECT lang, lower(t) AS token
  FROM (SELECT lang, unnest(regexp_split_to_array(trim(text), '\s+')) AS t
        FROM documents)
),
pt AS (SELECT lang, token, count(*) AS n FROM tok GROUP BY lang, token)
SELECT lang, CAST(sum(n) AS BIGINT) AS n_tokens, count(*) AS n_types,
       CAST(count(*) AS DOUBLE) / sum(n) AS type_token_ratio,
       CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS hapax_frac
FROM pt GROUP BY lang ORDER BY lang
"""


def t10_fixed_count_sample(spark, sf_dir):
    """Exact-size per-stratum sample: the first 40 documents of every
    language in md5-of-pk order — deterministic balanced eval-set
    construction (row_number over the hash order; per-stratum windows
    parallelize across strata). Unlike fraction-based t7/t9, the output
    SIZE per stratum is exact."""
    docs = load_table(spark, sf_dir, "documents")
    h = F.md5(F.col("doc_id").cast("string"))
    w = Window.partitionBy("lang").orderBy(h, "doc_id")
    return (
        docs.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= 40)
        .select("doc_id", "lang")
        .orderBy("lang", "doc_id")
    )


T10_FIXED_SQL = """
SELECT doc_id, lang FROM (
  SELECT doc_id, lang,
         row_number() OVER (PARTITION BY lang
                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
  FROM documents
) WHERE rn <= 40 ORDER BY lang, doc_id
"""

query("x13_lexical_stats", x13_lexical_stats, X13_LEXICAL_SQL)
query("t10_fixed_count_sample", t10_fixed_count_sample, T10_FIXED_SQL)


def pipe5_eval_set(spark, sf_dir):
    """Balanced held-out eval-set builder, one Catalyst plan: quality-gate
    the corpus (length + repetition bounds), drop anything sharing an
    8-gram with the training side (broadcast LEFT ANTI — eval must not
    leak into train), then take an EXACT 25-doc md5-ordered sample per
    language. The t10/d9 composition a real benchmark pipeline runs; the
    train side here is doc_id % 3 != 0, the eval candidates the rest."""
    docs = load_table(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") % 3 != 0)
    cands = docs.filter(F.col("doc_id") % 3 == 0)
    # tokenize the candidate side ONCE: the quality gate (token count) and
    # the contamination grams both consume the same token arrays — the
    # composed form re-split the candidate text per consumer (two scans).
    # The gram construction below is contaminated_doc_ids verbatim over
    # the bound __toks column (same tokens/word_ngrams_from_tokens
    # helpers), so the membership set — and the oracle — are unchanged.
    staged = cands.select(
        "doc_id", "lang", "n_chars", text.tokens("text").alias("__toks")
    ).localCheckpoint(eager=False)
    q = staged.select(
        "doc_id", "lang", "n_chars", F.size("__toks").alias("__ntok")
    ).filter((F.col("__ntok") >= 10) & (F.col("n_chars") >= 50))
    # No .distinct() on either broadcast side: LEFT SEMI/ANTI probe
    # semantics are set-based already, so deduplicating the build side
    # only costs an exchange + two aggregate passes (8-grams are nearly
    # all unique — the distinct removed almost nothing) while the
    # broadcast hash relation dedups keys by construction. Removing both
    # drops two exchanges from the plan; the membership sets — and the
    # oracle — are unchanged.
    probe_grams = train.select(text.tokens("text").alias("__toks")).select(
        F.explode(text.word_ngrams_from_tokens("__toks", 8)).alias("g")
    )
    contaminated = (
        staged.select(
            "doc_id", F.explode(text.word_ngrams_from_tokens("__toks", 8)).alias("g")
        )
        .join(F.broadcast(probe_grams), "g", "left_semi")
        .select("doc_id")
    )
    clean = q.join(F.broadcast(contaminated), "doc_id", "left_anti")
    h = F.md5(F.col("doc_id").cast("string"))
    w = Window.partitionBy("lang").orderBy(h, "doc_id")
    return (
        clean.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= 25)
        .select("doc_id", "lang", "n_chars")
        .orderBy("lang", "doc_id")
    )


PIPE5_EVAL_SQL = r"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents
),
grams AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
           range(1, greatest(len(t) - 8, 0) + 2),
           i -> array_to_string(t[i:i+7], ' ')))) AS g
  FROM toks
),
train_grams AS (SELECT DISTINCT g FROM grams WHERE doc_id % 3 <> 0),
contaminated AS (
  SELECT DISTINCT c.doc_id FROM grams c JOIN train_grams tg ON c.g = tg.g
  WHERE c.doc_id % 3 = 0
),
cand AS (
  SELECT d.doc_id, d.lang, d.n_chars
  FROM documents d JOIN toks USING (doc_id)
  WHERE d.doc_id % 3 = 0 AND len(toks.t) >= 10 AND d.n_chars >= 50
    AND d.doc_id NOT IN (SELECT doc_id FROM contaminated)
)
SELECT doc_id, lang, n_chars FROM (
  SELECT doc_id, lang, n_chars,
         row_number() OVER (PARTITION BY lang
                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
  FROM cand
) WHERE rn <= 25 ORDER BY lang, doc_id
"""

query("pipe5_eval_set", pipe5_eval_set, PIPE5_EVAL_SQL)


def x14_data_card(spark, sf_dir):
    """Corpus data-card rollup: docs, whitespace tokens, and chars per
    (lang, source) with share-of-corpus in exact ppm — the budget table a
    dataset card leads with. One scan, one partial-aggregated groupBy;
    the ppm is integer arithmetic over a scalar total (windowless:
    the total broadcasts as a literal-free cross join of a 1-row agg)."""
    docs = load_table(spark, sf_dir, "documents")
    per = docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(text.tokens("text")).cast("long")).alias("n_tokens"),
        F.sum("n_chars").alias("n_chars"),
    )
    total = per.agg(F.sum("n_tokens").alias("__tot"))
    return (
        per.crossJoin(total)
        .select(
            "lang",
            "source",
            "n_docs",
            "n_tokens",
            "n_chars",
            F.floor(F.col("n_tokens") * 1000000 / F.col("__tot"))
            .cast("long")
            .alias("token_share_ppm"),
        )
        .orderBy("lang", "source")
    )


X14_DATA_CARD_SQL = r"""
WITH per AS (
  SELECT lang, source, count(*) AS n_docs,
         sum(len(regexp_split_to_array(trim(text), '\s+'))) AS n_tokens,
         sum(n_chars) AS n_chars
  FROM documents GROUP BY lang, source
),
tot AS (SELECT sum(n_tokens) AS t FROM per)
SELECT lang, source, n_docs, CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(n_chars AS BIGINT) AS n_chars,
       CAST(floor(n_tokens * 1000000 / tot.t) AS BIGINT) AS token_share_ppm
FROM per CROSS JOIN tot
ORDER BY lang, source
"""

query("x14_data_card", x14_data_card, X14_DATA_CARD_SQL)




def d10_span_dedup(spark, sf_dir):
    """Span-level (substring) dedup stats — the Lee-et-al ExactSubstr
    approximation: per document, merged intervals of 10-token windows
    whose content occurs >= 2 times anywhere in the corpus, with removed-
    token accounting. Positional-gram explode + corpus-frequency join +
    per-doc interval merge; all-integer counts + one division."""
    from ..operators import dedup as D

    docs = load_table(spark, sf_dir, "documents")
    return D.duplicated_span_stats(docs, "doc_id", "text", n=10).select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        "n_spans",
        "n_removed_tokens",
        "kept_frac",
    ).orderBy("doc_id")


D10_SPAN_SQL = """
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents
),
sized AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens, t FROM toks),
grams AS (
  SELECT doc_id, CAST(i AS BIGINT) AS pos,
         substr(md5(array_to_string(list_slice(t, i + 1, i + 10), ' ')), 1, 16) AS g
  FROM sized, UNNEST(range(n_tokens - 10 + 1)) AS u(i)
  WHERE n_tokens >= 10
),
dup AS (SELECT g FROM grams GROUP BY g HAVING count(*) >= 2),
hits AS (SELECT doc_id, pos FROM grams JOIN dup USING (g)),
flagged AS (
  SELECT doc_id, pos,
         CASE WHEN pos > coalesce(max(pos + 10) OVER (
                PARTITION BY doc_id ORDER BY pos
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
              THEN 1 ELSE 0 END AS newi
  FROM hits
),
isl AS (
  SELECT doc_id, pos, sum(newi) OVER (
           PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl_id
  FROM flagged
),
spans AS (
  SELECT doc_id, isl_id, max(pos) + 10 - min(pos) AS removed
  FROM isl GROUP BY doc_id, isl_id
),
per_doc AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
         CAST(sum(removed) AS BIGINT) AS n_removed_tokens
  FROM spans GROUP BY doc_id
)
SELECT s.doc_id, s.n_tokens,
       coalesce(p.n_spans, 0) AS n_spans,
       coalesce(p.n_removed_tokens, 0) AS n_removed_tokens,
       (s.n_tokens - coalesce(p.n_removed_tokens, 0)) / s.n_tokens AS kept_frac
FROM sized s LEFT JOIN per_doc p USING (doc_id)
ORDER BY s.doc_id
"""

query("d10_span_dedup", d10_span_dedup, D10_SPAN_SQL)


def fn_higher_order_text_suite(spark, sf_dir):
    """Higher-order ARRAY-function parity (transform / filter / exists /
    forall / aggregate / sort_array / slice): per-document token-array
    analytics computed entirely inside array lambdas, checked against the
    relational (unnest) formulation in DuckDB — the lambda pipeline must
    be a semantic no-op vs row-space SQL. All-integer outputs + booleans;
    sort order is binary UTF8 in both engines."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("t")
    )
    return toks.select(
        "doc_id",
        F.size("t").cast("long").alias("n_tokens"),
        F.size(F.filter(F.col("t"), lambda x: F.length(x) >= 6))
        .cast("long")
        .alias("n_long_tokens"),
        F.aggregate(
            F.col("t"), F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
        ).alias("total_chars"),
        F.exists(F.col("t"), lambda x: x.rlike("[0-9]")).alias("has_digit"),
        F.forall(F.col("t"), lambda x: F.length(x) < 20).alias("all_short"),
        F.concat_ws(" ", F.slice(F.array_sort(F.col("t")), 1, 5)).alias("first5_sorted"),
    ).orderBy("doc_id")


FN_ARRAY_SQL = """
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents
)
SELECT doc_id,
       CAST(len(t) AS BIGINT) AS n_tokens,
       CAST(len(list_filter(t, x -> length(x) >= 6)) AS BIGINT) AS n_long_tokens,
       CAST(coalesce(list_sum(list_transform(t, x -> length(x))), 0) AS BIGINT) AS total_chars,
       len(list_filter(t, x -> regexp_matches(x, '[0-9]'))) > 0 AS has_digit,
       len(list_filter(t, x -> length(x) >= 20)) = 0 AS all_short,
       array_to_string(list_slice(list_sort(t), 1, 5), ' ') AS first5_sorted
FROM toks
ORDER BY doc_id
"""

query("fn_higher_order_text_suite", fn_higher_order_text_suite, FN_ARRAY_SQL)


def x15_charset_audit(spark, sf_dir):
    """Encoding-health audit over a deterministically 'corrupted' corpus:
    docs get grafted non-ASCII words (doc_id%11), U+FFFD replacement chars
    (doc_id%13), and a C0 control byte (doc_id%17), then charset_audit
    counts them back — the mojibake/binary-junk pre-tokenization filter."""
    docs = load_table(spark, sf_dir, "documents")
    aug = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 11 == 0, F.lit(" caf\u00e9 r\u00e9sum\u00e9")).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 13 == 0, F.lit(" bad\ufffd\ufffddecode")).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 17 == 0, F.lit(" ctl\x07byte")).otherwise(F.lit("")),
        ).alias("text2"),
    )
    return text.charset_audit(aug, "doc_id", "text2").orderBy("doc_id")


X15_CHARSET_SQL = """
WITH aug AS (
  SELECT doc_id,
         text ||
         CASE WHEN doc_id % 11 = 0 THEN ' caf' || chr(233) || ' r' || chr(233) || 'sum' || chr(233) ELSE '' END ||
         CASE WHEN doc_id % 13 = 0 THEN ' bad' || chr(65533) || chr(65533) || 'decode' ELSE '' END ||
         CASE WHEN doc_id % 17 = 0 THEN ' ctl' || chr(7) || 'byte' ELSE '' END AS t
  FROM documents
)
SELECT doc_id,
       CAST(length(t) AS BIGINT) AS n_chars,
       CAST(length(t) - length(regexp_replace(t, '[^\\x00-\\x7F]', '', 'g')) AS BIGINT) AS n_non_ascii,
       CAST(length(t) - length(regexp_replace(t, chr(65533), '', 'g')) AS BIGINT) AS n_replacement,
       CAST(length(t) - length(regexp_replace(t, '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]', '', 'g')) AS BIGINT) AS n_control,
       (length(t) - (length(t) - length(regexp_replace(t, '[^\\x00-\\x7F]', '', 'g')))) / length(t) AS ascii_frac
FROM aug
ORDER BY doc_id
"""

query("x15_charset_audit", x15_charset_audit, X15_CHARSET_SQL)


def emb3_int8_quantization(spark, sf_dir):
    """Symmetric int8 quantization audit over the embedding store — scale,
    code checksum/range, saturation counts; the compression gate before
    ANN serving (operators/similarity.py quantize_embeddings_int8). All
    integer outputs, IEEE-order-identical divide/round chain."""
    from ..operators import similarity as S

    emb = load_table(spark, sf_dir, "embeddings")
    return S.quantize_embeddings_int8(emb, "vec_id").orderBy("vec_id")


EMB3_INT8_SQL = """
WITH s AS (
  SELECT vec_id, embedding,
         CAST(len(embedding) AS BIGINT) AS n_dims,
         list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS scale
  FROM embeddings
),
c AS (
  SELECT vec_id, n_dims, scale,
         list_transform(embedding, x ->
           CASE WHEN scale = 0 THEN CAST(0 AS BIGINT)
                WHEN CAST(x AS DOUBLE) < 0
                THEN -least(CAST(floor(abs(CAST(x AS DOUBLE)) / scale * 127 + 0.5) AS BIGINT), 127)
                ELSE  least(CAST(floor(abs(CAST(x AS DOUBLE)) / scale * 127 + 0.5) AS BIGINT), 127) END) AS q
  FROM s
)
SELECT vec_id, n_dims,
       CAST(floor(abs(scale) * 1000 + 0.5) AS BIGINT) AS scale_milli,
       CAST(coalesce(list_sum(q), 0) AS BIGINT) AS sum_q,
       list_min(q) AS min_q,
       list_max(q) AS max_q,
       CAST(len(list_filter(q, y -> abs(y) = 127)) AS BIGINT) AS n_saturated
FROM c
ORDER BY vec_id
"""

query("emb3_int8_quantization", emb3_int8_quantization, EMB3_INT8_SQL)


def ev6_linear_attribution(spark, sf_dir):
    """Linear multi-touch attribution: every view/click/signup within 24 h
    BEFORE a same-user purchase shares that conversion's credit equally
    (integer ppm: each touch gets 1e6 DIV n — exact, engine-independent).
    The banded two-frame interval join (operators/rangejoin.py
    banded_interval_join) generates touch→conversion candidates as an
    equi-join; a window over the conversion id counts the split; one
    groupBy rolls credit up per channel."""
    from ..operators.rangejoin import banded_interval_join

    ev = load_table(spark, sf_dir, "events")
    touches = ev.filter(F.col("event_type").isin("view", "click", "signup"))
    convs = ev.filter(F.col("event_type") == "purchase")
    pairs = banded_interval_join(
        touches.select(
            "user_id", F.col("event_id").alias("touch_id"), "ts",
            F.col("event_type").alias("channel"),
        ),
        convs.select("user_id", F.col("event_id").alias("conv_id"), "ts"),
        key_col="user_id",
        left_id="touch_id",
        right_id="conv_id",
        ts_col="ts",
        window_sec=86400,
        left_payload=("channel",),
    )
    w = Window.partitionBy("conv_id")
    credited = pairs.withColumn(
        "__n", F.count(F.lit(1)).over(w)
    ).withColumn("credit_ppm", F.expr("1000000 DIV __n"))
    return (
        credited.groupBy(F.col("channel_l").alias("channel"))
        .agg(
            F.count(F.lit(1)).alias("n_touches"),
            F.sum("credit_ppm").cast("long").alias("credit_ppm"),
        )
        .orderBy("channel")
    )


EV6_ATTRIBUTION_SQL = """
WITH t AS (
  SELECT user_id, event_id AS tid, event_type AS channel,
         CAST(floor(epoch(ts)) AS BIGINT) AS et
  FROM events WHERE event_type IN ('view', 'click', 'signup')
),
c AS (
  SELECT user_id, event_id AS cid, CAST(floor(epoch(ts)) AS BIGINT) AS ec
  FROM events WHERE event_type = 'purchase'
),
p AS (
  SELECT t.channel, c.cid
  FROM t JOIN c ON t.user_id = c.user_id
   AND c.ec >= t.et AND c.ec - t.et <= 86400
),
w AS (
  SELECT channel, cid,
         count(*) OVER (PARTITION BY cid) AS n
  FROM p
)
SELECT channel, CAST(count(*) AS BIGINT) AS n_touches,
       CAST(sum(1000000 // n) AS BIGINT) AS credit_ppm
FROM w GROUP BY channel ORDER BY channel
"""

query("ev6_linear_attribution", ev6_linear_attribution, EV6_ATTRIBUTION_SQL)


def ts7_countmin_heavy_hitters(spark, sf_dir):
    """Count-Min heavy hitters: per-day CM sketches (4×256, md5-derived
    lanes) of user activity, merged across all days, probed for the 20
    most-active users — est_n >= exact_n always (collisions only inflate).
    The mergeable frequency-sketch companion to ts4's HLL rollup; the
    oracle rebuilds the identical sketch in SQL (same md5 arithmetic)."""
    from ..operators import timeseries as TS

    ev = load_table(spark, sf_dir, "events")
    sk = TS.countmin_sketch(
        ev, "user_id", F.date_trunc("day", F.col("ts")), d=4, w=256
    )
    merged = TS.countmin_merge(sk)
    exact = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("exact_n"))
        .orderBy(F.col("exact_n").desc(), "user_id")
        .limit(20)
    )
    est = TS.countmin_estimate(merged, exact.select("user_id"), "user_id", d=4, w=256)
    return (
        exact.join(est, "user_id")
        .select("user_id", "exact_n", "est_n", (F.col("est_n") >= F.col("exact_n")).alias("never_under"))
        .orderBy(F.col("exact_n").desc(), "user_id")
    )


TS7_COUNTMIN_SQL = """
WITH lanes AS (
  SELECT date_trunc('day', ts) AS bucket, CAST(user_id AS VARCHAR) AS k, i AS row_i
  FROM events, UNNEST(range(4)) AS u(i)
),
sk AS (
  SELECT bucket, row_i,
         ('0x' || substr(md5(CAST(row_i AS VARCHAR) || '|' || k), 1, 8))::BIGINT % 256 AS col,
         CAST(count(*) AS BIGINT) AS cnt
  FROM lanes GROUP BY bucket, row_i, col
),
merged AS (SELECT row_i, col, CAST(sum(cnt) AS BIGINT) AS cnt FROM sk GROUP BY row_i, col),
exact AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS exact_n FROM events
  GROUP BY user_id ORDER BY exact_n DESC, user_id LIMIT 20
),
probes AS (
  SELECT e.user_id, e.exact_n, i AS row_i,
         ('0x' || substr(md5(CAST(i AS VARCHAR) || '|' || CAST(e.user_id AS VARCHAR)), 1, 8))::BIGINT % 256 AS col
  FROM exact e, UNNEST(range(4)) AS u(i)
)
SELECT p.user_id, p.exact_n,
       CAST(min(coalesce(m.cnt, 0)) AS BIGINT) AS est_n,
       min(coalesce(m.cnt, 0)) >= p.exact_n AS never_under
FROM probes p LEFT JOIN merged m ON p.row_i = m.row_i AND p.col = m.col
GROUP BY p.user_id, p.exact_n
ORDER BY p.exact_n DESC, p.user_id
"""

query("ts7_countmin_heavy_hitters", ts7_countmin_heavy_hitters, TS7_COUNTMIN_SQL)


def x16_bpe_merges(spark, sf_dir):
    """Distributed BPE tokenizer training over the corpus: the first 15
    merge rules (rank, left, right, merged, pair_freq). Deterministic
    (freq DESC, left, right tie-break) so the row set is stable; the
    iterative argmax loop is not SQL-expressible — rows-only entry,
    reference-parity pytest covers the algorithm (test_dedup_text
    TestBpeTrain matches a from-scratch python BPE exactly)."""
    docs = load_table(spark, sf_dir, "documents")
    merges = text.bpe_train(docs, "text", n_merges=15)
    return io.local_frame(
        spark, merges, "rank INT, left STRING, right STRING, merged STRING, pair_freq BIGINT"
    ).orderBy("rank")


query("x16_bpe_merges", x16_bpe_merges)


def x16b_bpe_batched(spark, sf_dir):
    """Production-merge-count BPE training (round-7 verdict #3): train to
    the corpus's FULL merge closure (min_pair_freq=1, the vocab-size-
    target regime real tokenizers train in; cap 256) via
    text.bpe_train_batched — per round count pairs once, greedily select
    up to 32 SYMBOL-DISJOINT pairs (freq DESC, left, right), apply all in
    one map-lookup fold. Disjointness makes each batch exactly a valid
    greedy-BPE schedule prefix; the 1-merge-per-round x16 stays as the
    classic twin (now the k=1 call of the same implementation, so parity
    rests on ONE code path). Measured at sf0.1: the synthetic corpus's
    closure is 90 merges — batched = 4 rounds / 3.8 s vs classic
    89 rounds / 21.7 s (5.7× wall, 22× fewer Spark jobs; at a 32k-merge
    production vocab with k=256 the round reduction is ~100×). Iterative
    argmax loop — not SQL-expressible; rows-only entry, python-reference
    parity pytest at k>1 covers the algorithm (test_dedup_text
    TestBpeTrain)."""
    docs = load_table(spark, sf_dir, "documents")
    merges = text.bpe_train_batched(
        docs, "text", n_merges=256, merges_per_round=32, min_pair_freq=1
    )
    return io.local_frame(
        spark, merges, "rank INT, left STRING, right STRING, merged STRING, pair_freq BIGINT"
    ).orderBy("rank")


query("x16b_bpe_batched", x16b_bpe_batched)


def a17_corr_components(spark, sf_dir):
    """Exact Pearson-correlation COMPONENTS for (quantity, discount) vs
    extendedprice over lineitem — n, Σx, Σy, Σxy, Σx², Σy² over
    milli-quantized values, so corr = (nΣxy − ΣxΣy) /
    sqrt(...) is one driver-side float step and the distributed part is
    engine-exact (the same cleared-division discipline as a16's KS). Sums
    run in DECIMAL(38,0) (Σy² overflows int64 immediately at milli scale)
    and the product sums present as DOUBLE: both engines correctly round
    the SAME exact decimal integer to the SAME double, so the hash still
    matches bit-for-bit; Σx/Σy stay BIGINT."""
    li = load_table(spark, sf_dir, "lineitem")
    from ..operators.similarity import quantize_milli

    x1 = quantize_milli(F.col("l_quantity"))
    x2 = quantize_milli(F.col("l_discount"))
    y = quantize_milli(F.col("l_extendedprice"))
    dec = "decimal(38,0)"
    pairs = li.select(
        F.lit("quantity").alias("feature"), x1.alias("x"), y.alias("y")
    ).unionByName(
        li.select(F.lit("discount").alias("feature"), x2.alias("x"), y.alias("y"))
    )
    return (
        pairs.groupBy("feature")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("x").cast(dec)).cast("long").alias("sum_x"),
            F.sum(F.col("y").cast(dec)).cast("long").alias("sum_y"),
            F.sum((F.col("x") * F.col("y")).cast(dec)).cast("double").alias("sum_xy"),
            F.sum((F.col("x") * F.col("x")).cast(dec)).cast("double").alias("sum_xx"),
            F.sum((F.col("y") * F.col("y")).cast(dec)).cast("double").alias("sum_yy"),
        )
        .orderBy("feature")
    )


A17_CORR_SQL = """
WITH m AS (
  SELECT
    CASE WHEN CAST(l_quantity AS DOUBLE) < 0
         THEN -CAST(floor(abs(CAST(l_quantity AS DOUBLE)) * 1000 + 0.5) AS BIGINT)
         ELSE CAST(floor(abs(CAST(l_quantity AS DOUBLE)) * 1000 + 0.5) AS BIGINT) END AS qx,
    CASE WHEN CAST(l_discount AS DOUBLE) < 0
         THEN -CAST(floor(abs(CAST(l_discount AS DOUBLE)) * 1000 + 0.5) AS BIGINT)
         ELSE CAST(floor(abs(CAST(l_discount AS DOUBLE)) * 1000 + 0.5) AS BIGINT) END AS dx,
    CASE WHEN CAST(l_extendedprice AS DOUBLE) < 0
         THEN -CAST(floor(abs(CAST(l_extendedprice AS DOUBLE)) * 1000 + 0.5) AS BIGINT)
         ELSE CAST(floor(abs(CAST(l_extendedprice AS DOUBLE)) * 1000 + 0.5) AS BIGINT) END AS y
  FROM lineitem
),
pairs AS (
  SELECT 'quantity' AS feature, qx AS x, y FROM m
  UNION ALL
  SELECT 'discount' AS feature, dx AS x, y FROM m
)
SELECT feature, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(x) AS BIGINT) AS sum_x,
       CAST(sum(y) AS BIGINT) AS sum_y,
       CAST(sum(x * y) AS DOUBLE) AS sum_xy,
       CAST(sum(x * x) AS DOUBLE) AS sum_xx,
       CAST(sum(y * y) AS DOUBLE) AS sum_yy
FROM pairs GROUP BY feature ORDER BY feature
"""

query("a17_corr_components", a17_corr_components, A17_CORR_SQL)


def d11_edit_distance_pairs(spark, sf_dir):
    """Edit-distance near-dup pairs: same-language, same-length-bucket
    document pairs whose 48-char prefixes are within Levenshtein
    distance 8 — the character-level verification primitive (catches
    single-typo/near-identical boilerplate that token-level Jaccard
    misses). Blocked equi-self-join (lang, floor(n_chars/50)) bounds the
    candidate fan-out; at 100 TB the same verifier runs over d3's LSH
    candidate pairs instead of blocks (the composition, not an all-pairs
    scan — same discipline as d2). levenshtein() is exact integer in both
    engines; the Spark side passes the THRESHOLD overload (banded DP,
    O(threshold·n) per pair instead of O(n²), early-exit above the band
    — measured 6.7 -> 1.1 s at sf0.1 over the same 314k candidates;
    returns -1 above the threshold, hence the >= 0 guard). The oracle
    computes the plain form — identical values in the kept band."""
    docs = load_table(spark, sf_dir, "documents")
    # both self-join sides re-scanned the parquet and re-derived the
    # prefix projection (no ReusedExchange across sides) — materialize the
    # narrow (id, lang, bucket, 48-char prefix) frame once
    base = docs.select(
        "doc_id",
        "lang",
        F.floor(F.col("n_chars") / 50).alias("lb"),
        F.substring("text", 1, 48).alias("pfx"),
    ).localCheckpoint(eager=False)
    a = base.select(
        F.col("doc_id").alias("id_a"), "lang", "lb", F.col("pfx").alias("pfx_a")
    )
    b = base.select(
        F.col("doc_id").alias("id_b"), "lang", "lb", F.col("pfx").alias("pfx_b")
    )
    return (
        a.join(b, on=["lang", "lb"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("edit_distance", F.levenshtein("pfx_a", "pfx_b", 9))
        .filter((F.col("edit_distance") >= 0) & (F.col("edit_distance") <= 8))
        .select("id_a", "id_b", "edit_distance")
        .orderBy("id_a", "id_b")
    )


D11_EDIT_SQL = """
WITH base AS (
  SELECT doc_id, lang, CAST(floor(n_chars / 50) AS BIGINT) AS lb,
         substr(text, 1, 48) AS pfx
  FROM documents
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(levenshtein(a.pfx, b.pfx) AS INTEGER) AS edit_distance
FROM base a JOIN base b ON a.lang = b.lang AND a.lb = b.lb AND a.doc_id < b.doc_id
WHERE levenshtein(a.pfx, b.pfx) <= 8
ORDER BY id_a, id_b
"""

query("d11_edit_distance_pairs", d11_edit_distance_pairs, D11_EDIT_SQL)


def pipe6_incremental_ingest(spark, sf_dir):
    """Incremental corpus ingest — the dedup shape a 100 TB pipeline
    actually runs (nothing re-deduplicates the full corpus per batch):
    the NEW batch (doc_id%4==0) is deduplicated (a) within itself by
    content fingerprint (window keep-min) and (b) against the HISTORICAL
    fingerprint store (doc_id%4!=0) by LEFT ANTI join — only never-seen
    content survives. The fingerprint is md5 over the NORMALIZED first-8-
    token prefix (the boilerplate-header key; whole-doc md5 is vacuous on
    this synthetic corpus and d1/pipe1 already cover it). The historical
    side is fingerprints only (16 bytes/doc at any corpus size), never
    text; both joins key on the hash, so the batch-vs-history probe is a
    broadcast when the batch is small or a co-partitioned equi-join when
    it is not."""
    docs = load_table(spark, sf_dir, "documents")
    fp = text.prefix_fingerprint_column("text")
    hist = docs.filter(F.col("doc_id") % 4 != 0).select(fp.alias("fp")).distinct()
    batch = docs.filter(F.col("doc_id") % 4 == 0).select(
        "doc_id", "lang", "n_chars", fp.alias("fp")
    )
    w = Window.partitionBy("fp").orderBy("doc_id")
    within = batch.withColumn("__rn", F.row_number().over(w)).filter(
        F.col("__rn") == 1
    )
    return (
        within.join(hist, "fp", "left_anti")
        .select("doc_id", "lang", "n_chars")
        .orderBy("doc_id")
    )


PIPE6_INCR_SQL = """
WITH fps AS (
  SELECT doc_id, lang, n_chars,
         md5(array_to_string(list_slice(string_split_regex(trim(text), '\\s+'), 1, 8), ' ')) AS fp
  FROM documents
),
hist AS (
  SELECT DISTINCT fp FROM fps WHERE doc_id % 4 <> 0
),
batch AS (
  SELECT doc_id, lang, n_chars, fp,
         row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
  FROM fps WHERE doc_id % 4 = 0
)
SELECT b.doc_id, b.lang, b.n_chars
FROM batch b LEFT JOIN hist h ON b.fp = h.fp
WHERE b.rn = 1 AND h.fp IS NULL
ORDER BY b.doc_id
"""

query("pipe6_incremental_ingest", pipe6_incremental_ingest, PIPE6_INCR_SQL)


# (DRIVER_WINDOW is defined at the END of this module so late-registered
# queries can be rotated into the window.)


def skew3_key_skew_report(spark, sf_dir):
    """Join-key skew diagnosis over lineitem's l_orderkey — the profiling
    row a pipeline consults before choosing salting / AQE skew-split
    (operators/skew.py skew_report): key cardinality, heaviest keys, and
    the exact max-share in ppm."""
    from ..operators.skew import skew_report

    li = load_table(spark, sf_dir, "lineitem")
    rep = skew_report(li, ["l_orderkey"], top_k=5)
    # Flatten the two array columns to joined strings for the driver's
    # value compare (list-typed outputs hash differently between Spark
    # rows and DuckDB->pandas — the r4 skew2 red class); the skew_report
    # operator itself keeps its array API.
    return rep.select(
        "n_keys",
        "n_rows",
        "max_count",
        F.array_join("top_keys", ",").alias("top_keys"),
        F.array_join(F.col("top_counts").cast("array<string>"), ",").alias("top_counts"),
        "skew_ratio_ppm",
    )


SKEW3_REPORT_SQL = """
WITH counts AS (
  SELECT CAST(l_orderkey AS VARCHAR) AS key, CAST(count(*) AS BIGINT) AS n
  FROM lineitem GROUP BY l_orderkey
),
summary AS (
  SELECT CAST(count(*) AS BIGINT) AS n_keys, CAST(sum(n) AS BIGINT) AS n_rows,
         CAST(max(n) AS BIGINT) AS max_count
  FROM counts
),
top AS (
  SELECT array_to_string(list(key ORDER BY n DESC, key), ',') AS top_keys,
         array_to_string(list(n ORDER BY n DESC, key), ',') AS top_counts
  FROM (SELECT key, n FROM counts ORDER BY n DESC, key LIMIT 5)
)
SELECT s.n_keys, s.n_rows, s.max_count, t.top_keys, t.top_counts,
       s.max_count * 1000000 // s.n_rows AS skew_ratio_ppm
FROM summary s CROSS JOIN top t
"""

query("skew3_key_skew_report", skew3_key_skew_report, SKEW3_REPORT_SQL)


def pack3_shard_shuffle(spark, sf_dir):
    """Deterministic shuffle-to-shards layout (operators/pack.shard_shuffle):
    every document gets a (shard, pos) coordinate — md5-keyed, so the
    pseudo-random training order is reproducible and the DuckDB oracle
    replays the identical permutation. Hash-partition shuffle + per-shard
    row_number, never a global ORDER BY rand() range-sort."""
    from ..operators import pack

    docs = load_table(spark, sf_dir, "documents")
    return (
        pack.shard_shuffle(docs, "doc_id", n_shards=8, salt="sh1")
        .select("doc_id", "lang", "shard", "pos")
        .orderBy("shard", "pos")
    )


PACK3_SQL = """
SELECT doc_id, lang, shard,
       CAST(row_number() OVER (PARTITION BY shard ORDER BY key, doc_id) - 1 AS BIGINT) AS pos
FROM (
  SELECT doc_id, lang,
         md5('sh1|' || CAST(doc_id AS VARCHAR)) AS key,
         ('0x' || substr(md5('sh1|' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 8 AS shard
  FROM documents
)
ORDER BY shard, pos
"""

query("pack3_shard_shuffle", pack3_shard_shuffle, PACK3_SQL)


def mix1_temperature_sample(spark, sf_dir):
    """Temperature-scaled language rebalancing (operators/split.
    temperature_sample, alpha=0.5): kept docs per language ∝ sqrt(N_lang),
    keep fraction sqrt(N_min/N_lang) per group — exact integer counts, one
    correctly-rounded division, IEEE sqrt, md5 per-row draws, so the keep
    set is engine-exact. The anti-dominance mixing step of a multilingual
    pretraining corpus."""
    docs = load_table(spark, sf_dir, "documents")
    kept = split.temperature_sample(docs, "doc_id", "lang", alpha=0.5, salt="temp1")
    return kept.select("doc_id", "lang", "source").orderBy("doc_id")


MIX1_SQL = """
WITH counts AS (
  -- NULL lang is excluded to mirror temperature_sample's up-front filter
  -- (a null pseudo-group must not become nmin)
  SELECT lang, count(*) AS n FROM documents WHERE lang IS NOT NULL GROUP BY lang
),
nmin AS (SELECT min(n) AS nmin FROM counts),
rates AS (
  SELECT lang, sqrt(CAST(nmin AS DOUBLE) / CAST(n AS DOUBLE)) AS f
  FROM counts CROSS JOIN nmin
)
SELECT d.doc_id, d.lang, d.source
FROM documents d JOIN rates r ON d.lang = r.lang
WHERE CAST(('0x' || substr(md5('temp1|' || CAST(d.doc_id AS VARCHAR)), 1, 12))::BIGINT AS DOUBLE)
      / 281474976710656.0 < r.f
ORDER BY doc_id
"""

query("mix1_temperature_sample", mix1_temperature_sample, MIX1_SQL)


def mix2_token_budget(spark, sf_dir):
    """Per-source token-budget allocation (operators/split.
    token_budget_allocation, alpha=0.5, budget 100k tokens, 2.0-epoch
    cap): the published-data-card mixture table — temperature-weighted
    shares, integer-division allocation, repetition cap + clipped flag.
    Engine-exact: IEEE sqrt quantized by an exact power-of-two scaling,
    then decimal(38,0) INTEGER divisions only."""
    docs = load_table(spark, sf_dir, "documents")
    staged = docs.select(
        "source", F.size(text.tokens("text")).cast("long").alias("n_ws_tokens")
    )
    return split.token_budget_allocation(
        staged, "source", "n_ws_tokens", budget_tokens=100_000,
        max_epochs_x1024=2048,
    ).orderBy("source")


MIX2_SQL = r"""
WITH tok AS (
  SELECT source, len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens
  FROM documents WHERE source IS NOT NULL
), g AS (
  -- HAVING n_tokens > 0 mirrors token_budget_allocation's zero-token
  -- group guard (round-8 ADVICE — keeps all integer divisions non-NULL)
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_tokens) AS BIGINT) AS n_tokens
  FROM tok GROUP BY source HAVING CAST(sum(n_tokens) AS BIGINT) > 0
), w AS (
  SELECT *, CAST(floor(1024 * sqrt(CAST(n_tokens AS DOUBLE))) AS BIGINT) AS weight_q
  FROM g
), tw AS (SELECT CAST(sum(weight_q) AS BIGINT) AS total_w FROM w),
alloc AS (
  SELECT source, n_docs, n_tokens, weight_q,
         CAST((CAST(100000 AS HUGEINT) * weight_q) // total_w AS BIGINT) AS alloc_raw,
         CAST((CAST(2048 AS HUGEINT) * n_tokens) // 1024 AS BIGINT) AS cap_tokens
  FROM w CROSS JOIN tw
)
SELECT source, n_docs, n_tokens, weight_q,
       least(alloc_raw, cap_tokens) AS alloc_tokens,
       CAST((CAST(1000000 AS HUGEINT) * least(alloc_raw, cap_tokens)) // n_tokens AS BIGINT) AS epochs_ppm,
       (alloc_raw > cap_tokens) AS clipped
FROM alloc ORDER BY source
"""

query("mix2_token_budget", mix2_token_budget, MIX2_SQL)


def ord1_global_ordinal(spark, sf_dir):
    """Dense global ordinal under ORDER BY (n_chars, doc_id) without an
    unpartitioned window (operators/ordinal.global_ordinal): collected
    approx-percentile boundaries frozen as literals -> row-local bucket ->
    exact per-bucket count offsets -> per-bucket row_number. Equals
    row_number() OVER (ORDER BY n_chars, doc_id) - 1, which is what the
    oracle computes directly."""
    from ..operators.ordinal import global_ordinal

    docs = load_table(spark, sf_dir, "documents")
    return (
        global_ordinal(docs.select("doc_id", "n_chars"), "n_chars", "doc_id", n_buckets=8)
        .select("doc_id", "n_chars", "ordinal")
        .orderBy("ordinal")
    )


ORD1_SQL = """
SELECT doc_id, n_chars,
       CAST(row_number() OVER (ORDER BY n_chars, doc_id) - 1 AS BIGINT) AS ordinal
FROM documents
ORDER BY ordinal
"""

query("ord1_global_ordinal", ord1_global_ordinal, ORD1_SQL)


def t11_group_split(spark, sf_dir):
    """Group-leakage-safe split (operators/split.group_split): the md5 draw
    is keyed on `source`, so all docs of a source share fate — the
    GroupShuffleSplit analogue that keeps near-duplicates from straddling
    train/test. Narrow projection; no shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        split.group_split(docs, "source", test_frac=0.3, salt="g1")
        .select("doc_id", "source", "split")
        .orderBy("doc_id")
    )


T11_SQL = """
SELECT doc_id, source,
       -- NULL source mirrors Spark's concat_ws (null key folds to the
       -- bare salt, so all null-group rows share one deterministic draw)
       CASE WHEN CAST(('0x' || substr(md5(CASE WHEN source IS NULL THEN 'g1'
                                                ELSE 'g1|' || source END), 1, 12))::BIGINT AS DOUBLE)
                 / 281474976710656.0 < 0.3
            THEN 'test' ELSE 'train' END AS split
FROM documents
ORDER BY doc_id
"""

query("t11_group_split", t11_group_split, T11_SQL)


def p14_winsorize(spark, sf_dir):
    """Exact discrete-quantile winsorization of n_chars at [p01, p99]
    (operators/prep.winsorize): clamp bounds are order statistics at ranks
    floor(p*(n-1)) under (n_chars, doc_id), found via the bucketed global
    ordinal — no full sort through one task, no value-buffering exact
    percentile. Oracle replays the identical rank selection."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        prep.winsorize(docs, "n_chars", "doc_id", p_lo=0.01, p_hi=0.99)
        .select("doc_id", "n_chars", "n_chars_w")
        .orderBy("doc_id")
    )


P14_SQL = """
WITH ranked AS (
  SELECT doc_id, n_chars,
         row_number() OVER (ORDER BY n_chars, doc_id) - 1 AS ord
  FROM documents
),
nn AS (SELECT count(*) AS n FROM documents),
b AS (
  SELECT min(CASE WHEN ord = CAST(floor(0.01 * (n - 1)) AS BIGINT) THEN n_chars END) AS lo,
         min(CASE WHEN ord = CAST(floor(0.99 * (n - 1)) AS BIGINT) THEN n_chars END) AS hi
  FROM ranked CROSS JOIN nn
)
SELECT d.doc_id, d.n_chars,
       least(greatest(d.n_chars, b.lo), b.hi) AS n_chars_w
FROM documents d CROSS JOIN b
ORDER BY d.doc_id
"""

query("p14_winsorize", p14_winsorize, P14_SQL)


def emb4_negative_pairs(spark, sf_dir):
    """Deterministic uniform negative sampling for contrastive training
    (operators/similarity.negative_pairs): 4 md5-drawn negatives per
    anchor over the dense-ordinal index space; self-pairs dropped. Equi-
    join on the ordinal, never an all-pairs product."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.negative_pairs(emb, "vec_id", k=4, salt="neg1").orderBy(
        "anchor_id", "k_idx"
    )


EMB4_SQL = """
WITH ords AS (
  SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS ord FROM embeddings
),
nn AS (SELECT count(*) AS n FROM embeddings),
cand AS (
  SELECT e.vec_id AS anchor_id, CAST(k.k_idx AS BIGINT) AS k_idx,
         ('0x' || substr(md5('neg1|' || CAST(e.vec_id AS VARCHAR) || '|' || CAST(k.k_idx AS VARCHAR)), 1, 12))::BIGINT % nn.n AS neg_ord
  FROM embeddings e
  CROSS JOIN nn
  CROSS JOIN (SELECT unnest(range(4)) AS k_idx) k
)
SELECT c.anchor_id, c.k_idx, o.vec_id AS neg_id
FROM cand c JOIN ords o ON c.neg_ord = o.ord
WHERE o.vec_id <> c.anchor_id
ORDER BY anchor_id, k_idx
"""

query("emb4_negative_pairs", emb4_negative_pairs, EMB4_SQL)


def f11_quantile_uniform(spark, sf_dir):
    """Rank-to-uniform scaling of n_chars (operators/prep.quantile_uniform,
    sklearn QuantileTransformer analogue): exact dense rank / (n-1) via the
    bucketed global ordinal — outlier-immune scaling with a bit-exact
    oracle."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        prep.quantile_uniform(docs, "n_chars", "doc_id")
        .select("doc_id", "n_chars", "n_chars_q")
        .orderBy("doc_id")
    )


F11_SQL = """
WITH nn AS (SELECT count(*) AS n FROM documents)
SELECT doc_id, n_chars,
       CAST(row_number() OVER (ORDER BY n_chars, doc_id) - 1 AS DOUBLE)
         / CAST(nn.n - 1 AS DOUBLE) AS n_chars_q
FROM documents CROSS JOIN nn
ORDER BY doc_id
"""

query("f11_quantile_uniform", f11_quantile_uniform, F11_SQL)




def x17_bm25_components(spark, sf_dir):
    """Exact BM25 statistics for a probe query-term set (operators/text.
    bm25_components): one row per (doc, matched term) of pure integers —
    tf, dl, df_t, n_docs, total_tokens. Broadcast term probe; ln-based
    scoring is left out because libm ln is not bit-portable."""
    docs = load_table(spark, sf_dir, "documents")
    return text.bm25_components(
        docs, "doc_id", "text", ["data", "model", "learning"]
    ).orderBy("doc_id", "term")


X17_SQL = r"""
WITH toks AS (
  SELECT doc_id, lower(unnest(regexp_split_to_array(trim(text), '\s+'))) AS token
  FROM documents
),
dls AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
consts AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS total_tokens FROM dls),
terms(term) AS (VALUES ('data'), ('model'), ('learning')),
matches AS (
  SELECT t.doc_id, te.term, count(*) AS tf
  FROM toks t JOIN terms te ON t.token = te.term
  GROUP BY t.doc_id, te.term
),
dfs AS (SELECT term, count(DISTINCT doc_id) AS df_t FROM matches GROUP BY term)
SELECT m.doc_id, m.term, m.tf, d.dl, f.df_t, c.n_docs, c.total_tokens
FROM matches m
JOIN dls d ON m.doc_id = d.doc_id
JOIN dfs f ON m.term = f.term
CROSS JOIN consts c
ORDER BY m.doc_id, m.term
"""

query("x17_bm25_components", x17_bm25_components, X17_SQL)


def ev7_event_transitions(spark, sf_dir):
    """First-order Markov transition matrix over per-user event streams
    (operators/timeseries.event_transitions): consecutive (from -> to)
    event-type pairs under the total order (ts, event_id), counts + exact
    ppm shares via integer floor division."""
    from ..operators import timeseries as TS

    ev = load_table(spark, sf_dir, "events")
    return TS.event_transitions(ev, "user_id", "ts", "event_type", "event_id")


EV7_SQL = """
WITH pairs AS (
  SELECT event_type AS from_type,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
  FROM events
),
counts AS (
  SELECT from_type, to_type, count(*) AS n
  FROM pairs WHERE to_type IS NOT NULL
  GROUP BY from_type, to_type
),
total AS (SELECT sum(n) AS t FROM counts)
SELECT c.from_type, c.to_type, c.n, CAST(c.n * 1000000 // t.t AS BIGINT) AS p_ppm
FROM counts c CROSS JOIN total t
ORDER BY from_type, to_type
"""

query("ev7_event_transitions", ev7_event_transitions, EV7_SQL)


def a18_spearman_components(spark, sf_dir):
    """Exact Spearman components for quantity vs extendedprice over
    lineitem (functions/metrics.spearman_components): Pearson sums over
    doubled tie-averaged ranks — all-integer distributed arithmetic,
    decimal(38,0) sums, product sums presented as correctly-rounded
    doubles (a17's discipline applied to rank statistics)."""
    li = load_table(spark, sf_dir, "lineitem")
    from ..operators.similarity import quantize_milli

    m = li.select(
        quantize_milli(F.col("l_quantity")).alias("x"),
        quantize_milli(F.col("l_extendedprice")).alias("y"),
    )
    return M.spearman_components(m, "x", "y")


A18_SPEARMAN_SQL = """
WITH m AS (
  SELECT
    CASE WHEN CAST(l_quantity AS DOUBLE) < 0
         THEN -CAST(floor(abs(CAST(l_quantity AS DOUBLE)) * 1000 + 0.5) AS BIGINT)
         ELSE CAST(floor(abs(CAST(l_quantity AS DOUBLE)) * 1000 + 0.5) AS BIGINT) END AS x,
    CASE WHEN CAST(l_extendedprice AS DOUBLE) < 0
         THEN -CAST(floor(abs(CAST(l_extendedprice AS DOUBLE)) * 1000 + 0.5) AS BIGINT)
         ELSE CAST(floor(abs(CAST(l_extendedprice AS DOUBLE)) * 1000 + 0.5) AS BIGINT) END AS y
  FROM lineitem
),
cx AS (SELECT x, count(*) AS cnt FROM m GROUP BY x),
rx AS (
  SELECT x, 2 * COALESCE(sum(cnt) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            + cnt + 1 AS r2x
  FROM cx
),
cy AS (SELECT y, count(*) AS cnt FROM m GROUP BY y),
ry AS (
  SELECT y, 2 * COALESCE(sum(cnt) OVER (ORDER BY y ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            + cnt + 1 AS r2y
  FROM cy
)
SELECT CAST(count(*) AS BIGINT) AS n,
       CAST(sum(r2x) AS BIGINT) AS sum_rx,
       CAST(sum(r2y) AS BIGINT) AS sum_ry,
       CAST(sum(CAST(r2x AS HUGEINT) * r2y) AS DOUBLE) AS sum_rxry,
       CAST(sum(CAST(r2x AS HUGEINT) * r2x) AS DOUBLE) AS sum_rxrx,
       CAST(sum(CAST(r2y AS HUGEINT) * r2y) AS DOUBLE) AS sum_ryry
FROM m JOIN rx USING (x) JOIN ry USING (y)
"""

query("a18_spearman_components", a18_spearman_components, A18_SPEARMAN_SQL)


def pipe7_curated_shards(spark, sf_dir):
    """Flagship curation recipe, fully composed AND fully oracle-exact:
    quality gate (n_chars >= 300) -> per-source dominance cap (top 60 by
    length, deterministic tie-break) -> temperature-scaled language
    rebalance over the SURVIVORS (rates derived from post-cap counts) ->
    deterministic shuffle-to-shards coordinates. Every stage is one of the
    repo's oracled primitives, so the END-TO-END keep set and (shard, pos)
    layout are engine-exact — the composition a corpus team would actually
    ship, not just its pieces."""
    from ..operators import pack

    docs = load_table(spark, sf_dir, "documents")
    gated = docs.filter(F.col("n_chars") >= 300)
    w = Window.partitionBy("source").orderBy(F.desc("n_chars"), "doc_id")
    capped = (
        gated.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= 60)
        .drop("__rn")
    )
    # temperature_sample evaluates `capped` three times (counts, min,
    # probe). Deliberately NOT persisted: measured at sf0.1, caching the
    # chain costs 1.21 s vs 0.48 s recomputed — the filter +
    # WindowGroupLimit-pruned cap re-runs cheaper than its blocks
    # materialize. Persist only when the upstream is expensive relative
    # to its size (see temperature_sample's docstring).
    mixed = split.temperature_sample(capped, "doc_id", "lang", salt="pipe7")
    out = pack.shard_shuffle(mixed, "doc_id", n_shards=4, salt="p7")
    return out.select("doc_id", "lang", "source", "shard", "pos").orderBy(
        "shard", "pos"
    )


PIPE7_SQL = """
WITH gated AS (
  SELECT doc_id, lang, source, n_chars FROM documents WHERE n_chars >= 300
),
capped AS (
  SELECT doc_id, lang, source FROM (
    SELECT doc_id, lang, source,
           row_number() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id) AS rn
    FROM gated
  ) WHERE rn <= 60
),
counts AS (SELECT lang, count(*) AS n FROM capped WHERE lang IS NOT NULL GROUP BY lang),
nmin AS (SELECT min(n) AS nmin FROM counts),
rates AS (
  SELECT lang, sqrt(CAST(nmin AS DOUBLE) / CAST(n AS DOUBLE)) AS f
  FROM counts CROSS JOIN nmin
),
mixed AS (
  SELECT c.doc_id, c.lang, c.source
  FROM capped c JOIN rates r ON c.lang = r.lang
  WHERE CAST(('0x' || substr(md5('pipe7|' || CAST(c.doc_id AS VARCHAR)), 1, 12))::BIGINT AS DOUBLE)
        / 281474976710656.0 < r.f
),
keyed AS (
  SELECT doc_id, lang, source,
         md5('p7|' || CAST(doc_id AS VARCHAR)) AS key,
         ('0x' || substr(md5('p7|' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 4 AS shard
  FROM mixed
)
SELECT doc_id, lang, source, shard,
       CAST(row_number() OVER (PARTITION BY shard ORDER BY key, doc_id) - 1 AS BIGINT) AS pos
FROM keyed
ORDER BY shard, pos
"""

query("pipe7_curated_shards", pipe7_curated_shards, PIPE7_SQL)


def skew4_join_cardinality(spark, sf_dir):
    """Exact pre-flight join-cardinality estimate for orders x lineitem on
    orderkey (operators/skew.join_cardinality): sum of per-key count
    products over count frames — the planning-time answer to "how many
    rows will this join emit", never touching the fact-sized join."""
    from ..operators.skew import join_cardinality

    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    out = join_cardinality(o, li, "o_orderkey", "l_orderkey")
    return out.select(
        "left_rows",
        "right_rows",
        "n_matching_keys",
        F.col("join_rows").cast("long").alias("join_rows"),
        F.col("max_key_rows").cast("long").alias("max_key_rows"),
    )


SKEW4_SQL = """
WITH la AS (SELECT o_orderkey AS k, count(*) AS na FROM orders GROUP BY o_orderkey),
rb AS (SELECT l_orderkey AS k, count(*) AS nb FROM lineitem GROUP BY l_orderkey),
j AS (SELECT la.k, CAST(na AS HUGEINT) * nb AS p FROM la JOIN rb USING (k)),
t AS (SELECT CAST(sum(p) AS BIGINT) AS join_rows,
             CAST(max(p) AS BIGINT) AS max_key_rows,
             CAST(count(*) AS BIGINT) AS n_matching_keys
      FROM j)
SELECT (SELECT count(*) FROM orders) AS left_rows,
       (SELECT count(*) FROM lineitem) AS right_rows,
       t.n_matching_keys,
       COALESCE(t.join_rows, 0) AS join_rows,
       COALESCE(t.max_key_rows, 0) AS max_key_rows
FROM t
"""

query("skew4_join_cardinality", skew4_join_cardinality, SKEW4_SQL)


def dq3_referential_integrity(spark, sf_dir):
    """Foreign-key orphan audit across the star schema: count child rows
    whose FK has no parent (LEFT ANTI per relation, unioned into one
    relation/orphans table). The referential-integrity complement to
    dq1/dq2's column expectations; each anti-join is a broadcast or
    shuffle hash join on the key — never fact x fact."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    rels = [
        ("lineitem.l_orderkey->orders", li, "l_orderkey", o, "o_orderkey"),
        ("orders.o_custkey->customer", o, "o_custkey", c, "c_custkey"),
    ]
    parts = []
    for name, child, fk, parent, pk in rels:
        orphans = child.join(
            parent, child[fk] == parent[pk], "left_anti"
        ).agg(F.count(F.lit(1)).alias("n_orphans"))
        parts.append(
            orphans.select(
                F.lit(name).alias("relation"),
                "n_orphans",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("relation")


DQ3_SQL = """
SELECT 'lineitem.l_orderkey->orders' AS relation,
       CAST(count(*) AS BIGINT) AS n_orphans
FROM lineitem l WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
UNION ALL
SELECT 'orders.o_custkey->customer' AS relation,
       CAST(count(*) AS BIGINT) AS n_orphans
FROM orders o WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
ORDER BY relation
"""

query("dq3_referential_integrity", dq3_referential_integrity, DQ3_SQL)


def ev8_time_to_conversion(spark, sf_dir):
    """Time-to-conversion distribution: per user, the delta between the
    FIRST signup and the first purchase AFTER it, bucketed into hours —
    the funnel-depth histogram behind ev1's conversion rate. Exact epoch-
    second integer arithmetic end-to-end; one conditional-MIN aggregation
    per user (the ev1 shape) then a tiny bucket rollup."""
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.min(
            F.when(F.col("event_type") == "signup", F.unix_timestamp("ts"))
        ).alias("t_signup")
    )
    first_purchase = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id", F.unix_timestamp("ts").alias("t_p"))
        .join(per_user, "user_id")
        .filter(F.col("t_p") >= F.col("t_signup"))
        .groupBy("user_id")
        .agg(
            F.min("t_p").alias("t_purchase"), F.first("t_signup").alias("t_s")
        )
    )
    return (
        first_purchase.select(
            F.expr("(t_purchase - t_s) div 3600").alias("hours_bucket")
        )
        .groupBy("hours_bucket")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("hours_bucket")
    )


EV8_SQL = """
WITH su AS (
  -- epoch_ms // 1000 floors to whole seconds like Spark's unix_timestamp
  -- (bare epoch() returns fractional seconds and flips boundary cases)
  SELECT user_id, min(CASE WHEN event_type = 'signup' THEN epoch_ms(ts) // 1000 END) AS t_signup
  FROM events GROUP BY user_id
),
fp AS (
  SELECT e.user_id, min(epoch_ms(e.ts) // 1000) AS t_purchase, min(s.t_signup) AS t_s
  FROM events e JOIN su s ON e.user_id = s.user_id
  WHERE e.event_type = 'purchase' AND epoch_ms(e.ts) // 1000 >= s.t_signup
  GROUP BY e.user_id
)
SELECT CAST((t_purchase - t_s) // 3600 AS BIGINT) AS hours_bucket,
       CAST(count(*) AS BIGINT) AS n_users
FROM fp GROUP BY 1 ORDER BY hours_bucket
"""

query("ev8_time_to_conversion", ev8_time_to_conversion, EV8_SQL)


def ts8_weekly_profile(spark, sf_dir):
    """Weekly activity profile: event counts per (day-of-week, hour) with
    exact ppm share — the seasonality fingerprint used for anomaly
    baselines and load planning. Pure integer rollup (168 output rows);
    dow normalized to Sunday=0 on both engines (Spark dayofweek() is
    1-based)."""
    ev = load_table(spark, sf_dir, "events")
    counts = (
        ev.select(
            (F.dayofweek("ts") - 1).alias("dow"), F.hour("ts").alias("hod")
        )
        .groupBy("dow", "hod")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    total = counts.agg(F.sum("n").alias("__t"))
    return (
        counts.crossJoin(F.broadcast(total))
        .select("dow", "hod", "n", F.expr("n * 1000000L div __t").alias("p_ppm"))
        .orderBy("dow", "hod")
    )


TS8_SQL = """
WITH c AS (
  SELECT dayofweek(ts) AS dow, CAST(hour(ts) AS INT) AS hod, count(*) AS n
  FROM events GROUP BY 1, 2
),
t AS (SELECT sum(n) AS tt FROM c)
SELECT CAST(dow AS INT) AS dow, hod, CAST(n AS BIGINT) AS n,
       CAST(n * 1000000 // tt AS BIGINT) AS p_ppm
FROM c CROSS JOIN t
ORDER BY dow, hod
"""

query("ts8_weekly_profile", ts8_weekly_profile, TS8_SQL)


def p15_profile_columns(spark, sf_dir):
    """One-pass exact column profile of orders (operators/prep.
    profile_columns): rows / nulls / exact distincts / min / max per
    column in long format — all measures from a single agg()."""
    o = load_table(spark, sf_dir, "orders")
    cols = ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"]
    return prep.profile_columns(o.select(*cols))


P15_SQL = """
WITH s AS (
  SELECT count(*) AS n,
         CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nu1,
         count(DISTINCT o_orderkey) AS nd1,
         CAST(min(o_orderkey) AS VARCHAR) AS mn1, CAST(max(o_orderkey) AS VARCHAR) AS mx1,
         CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nu2,
         count(DISTINCT o_custkey) AS nd2,
         CAST(min(o_custkey) AS VARCHAR) AS mn2, CAST(max(o_custkey) AS VARCHAR) AS mx2,
         CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nu3,
         count(DISTINCT o_orderstatus) AS nd3,
         CAST(min(o_orderstatus) AS VARCHAR) AS mn3, CAST(max(o_orderstatus) AS VARCHAR) AS mx3,
         CAST(sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nu4,
         count(DISTINCT o_orderpriority) AS nd4,
         CAST(min(o_orderpriority) AS VARCHAR) AS mn4, CAST(max(o_orderpriority) AS VARCHAR) AS mx4
  FROM orders
)
SELECT 'o_custkey' AS "column", CAST(n AS BIGINT) AS n_rows, CAST(nu2 AS BIGINT) AS n_nulls,
       CAST(nd2 AS BIGINT) AS n_distinct, mn2 AS min_value, mx2 AS max_value FROM s
UNION ALL
SELECT 'o_orderkey', n, nu1, nd1, mn1, mx1 FROM s
UNION ALL
SELECT 'o_orderpriority', n, nu4, nd4, mn4, mx4 FROM s
UNION ALL
SELECT 'o_orderstatus', n, nu3, nd3, mn3, mx3 FROM s
ORDER BY "column"
"""

query("p15_profile_columns", p15_profile_columns, P15_SQL)


def x18_bpe_encode(spark, sf_dir):
    """Tokenizer APPLICATION: train 8 merges on the corpus, then encode
    every document with the same greedy-LTR fold the trainer used
    (text.bpe_encode) and report per-doc BPE token counts vs whitespace
    counts. The train->encode round-trip is exactness-pinned in pytest
    (encode replays the trainer's folds); the two-stage train-then-apply
    loop is not SQL-expressible — rows-only entry."""
    docs = load_table(spark, sf_dir, "documents")
    merges = text.bpe_train(docs, "text", n_merges=8)
    enc = text.bpe_encode(docs, "text", merges)
    return enc.select(
        "doc_id",
        F.size(F.split(F.trim("text"), r"\s+")).cast("long").alias("n_ws_tokens"),
        "n_bpe_tokens",
    ).orderBy("doc_id")


query("x18_bpe_encode", x18_bpe_encode)


def x18b_bpe_encode_batched(spark, sf_dir):
    """The PRODUCTION tokenizer pipeline end-to-end: train the merge
    table at production merge counts (bpe_train_batched — full corpus
    closure, k=32 disjoint merges/round) and tokenize the corpus with the
    Arrow-batched memoized encoder (text.bpe_encode_batched — zero
    shuffle, Zipf word cache, merge table broadcast via closure; the path
    bpe_encode's docstring defers to past a few dozen merges). Output =
    x18's per-doc token-count contract. Row-identity of the batched
    encoder with the JVM expression form is pytest-pinned
    (test_dedup_text TestBpeEncode), the batched trainer has python-
    reference parity at k>1; the two-stage train->apply loop itself is
    not SQL-expressible — rows-only entry."""
    docs = load_table(spark, sf_dir, "documents")
    # 40 merges keeps the vocab in the SUB-word regime on this corpus
    # (its ~31-word synthetic vocabulary closes at ~107 merges; training
    # to closure merges every word to a single token — a degenerate
    # encode where token count == word count); k=16 exercises the
    # multi-round batched schedule at a depth the expression encoder
    # could not codegen.
    merges = text.bpe_train_batched(
        docs, "text", n_merges=40, merges_per_round=16, min_pair_freq=2
    )
    # count-only consumer: ship (doc_id, text) into the encoder and only
    # n_bpe_tokens back — the token ARRAY (the widest Arrow payload of
    # the whole pipeline) is never built; lang/source/n_chars never cross
    # the boundary either (guide §4: pass only the columns the function
    # needs). text still passes through so n_ws_tokens stays a JVM split.
    enc = text.bpe_encode_batched(
        docs.select("doc_id", "text"), "text", merges, emit_tokens=False
    )
    return enc.select(
        "doc_id",
        F.size(F.split(F.trim("text"), r"\s+")).cast("long").alias("n_ws_tokens"),
        "n_bpe_tokens",
    ).orderBy("doc_id")


query("x18b_bpe_encode_batched", x18b_bpe_encode_batched)


def a19_brier_components(spark, sf_dir):
    """Exact Brier-score components over the deterministic scored frame
    (functions/metrics.brier_components): integer numerator
    Σ(k − 1024·y)² + n; brier = num/(n·1024²) is one driver float step.
    Order-independent where a naive Σ(p−y)² of doubles is not."""
    return M.brier_components(scored_events(spark, sf_dir), "label", "score")


A19_SQL = (
    "WITH s AS (" + SCORED_SQL + ") "
    "SELECT CAST(count(*) AS BIGINT) AS n, "
    "CAST(sum(CAST(CAST(floor(score * 1024 + 0.5) AS BIGINT) - 1024 * label AS HUGEINT) "
    "         * (CAST(floor(score * 1024 + 0.5) AS BIGINT) - 1024 * label)) AS BIGINT) AS sum_sq_num, "
    "CAST(1024 AS BIGINT) AS scale "
    "FROM s"
)

query("a19_brier_components", a19_brier_components, A19_SQL)


def f12_feature_hash_audit(spark, sf_dir):
    """Hashing-trick bucket audit for two categorical columns of orders
    (operators/prep.feature_hash_audit): per (column, bucket) row count +
    distinct original values — the collision report consulted before
    replacing a high-cardinality categorical with hashed buckets."""
    o = load_table(spark, sf_dir, "orders")
    return prep.feature_hash_audit(o, ["o_orderpriority", "o_orderstatus"], n_buckets=16)


F12_SQL = """
WITH h AS (
  SELECT 'o_orderpriority' AS "column",
         ('0x' || substr(md5('fh|o_orderpriority|' || o_orderpriority), 1, 8))::BIGINT % 16 AS bucket,
         o_orderpriority AS v
  FROM orders WHERE o_orderpriority IS NOT NULL
  UNION ALL
  SELECT 'o_orderstatus',
         ('0x' || substr(md5('fh|o_orderstatus|' || o_orderstatus), 1, 8))::BIGINT % 16,
         o_orderstatus
  FROM orders WHERE o_orderstatus IS NOT NULL
)
SELECT "column", bucket, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(DISTINCT v) AS BIGINT) AS n_values
FROM h GROUP BY 1, 2
ORDER BY "column", bucket
"""

query("f12_feature_hash_audit", f12_feature_hash_audit, F12_SQL)


def x20_length_quantiles(spark, sf_dir):
    """Exact per-group discrete quantiles (p50/p90/p99 of n_chars per
    lang) — the corpus-report table: rank = row_number PARTITIONED by
    lang (never a global window), per-group counts joined back, the
    quantile row selected at rank floor(p*(n-1))+1 under the total order
    (n_chars, doc_id). All integer selection — engine-exact; the same
    order-statistic discipline as p14's winsorize bounds, grouped."""
    # One window pass (r13 optimization): the former shape evaluated the
    # ranked subtree FOUR times (the counts aggregate + one union branch
    # per quantile; no ReusedExchange across the copies — 6 parquet scans,
    # 7 exchanges) and joined the counts back via broadcast. The group
    # size rides the SAME lang partitioning as the rank (count(*) over
    # the unordered partition — no extra exchange), and the three
    # quantile picks become one in-row label array + explode (a row
    # matching several quantile ranks — possible in tiny groups — emits
    # one row per matched label, exactly like the former three-branch
    # union). 1 scan, 1 exchange, same rows.
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy("n_chars", "doc_id")
    wn = Window.partitionBy("lang")
    ranked = (
        docs.select("lang", "n_chars", "doc_id")
        .withColumn("rn", F.row_number().over(w))
        .withColumn("n", F.count(F.lit(1)).over(wn))
        .drop("doc_id")
    )
    labels = F.filter(
        F.array(
            *[
                F.when(
                    F.col("rn") == F.floor(F.lit(p) * (F.col("n") - 1)) + 1,
                    F.lit(p_name),
                )
                for p_name, p in (("p50", 0.5), ("p90", 0.9), ("p99", 0.99))
            ]
        ),
        lambda x: x.isNotNull(),
    )
    return ranked.select(
        "lang", F.explode(labels).alias("q"), F.col("n_chars").alias("value")
    ).orderBy("lang", "q")


X20_SQL = """
WITH ranked AS (
  SELECT lang, n_chars,
         row_number() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS rn,
         count(*) OVER (PARTITION BY lang) AS n
  FROM documents
)
SELECT lang, q, value FROM (
  SELECT lang, 'p50' AS q, n_chars AS value FROM ranked WHERE rn = CAST(floor(0.5 * (n - 1)) AS BIGINT) + 1
  UNION ALL
  SELECT lang, 'p90', n_chars FROM ranked WHERE rn = CAST(floor(0.9 * (n - 1)) AS BIGINT) + 1
  UNION ALL
  SELECT lang, 'p99', n_chars FROM ranked WHERE rn = CAST(floor(0.99 * (n - 1)) AS BIGINT) + 1
)
ORDER BY lang, q
"""

query("x20_length_quantiles", x20_length_quantiles, X20_SQL)


def t12_replicated_sample(spark, sf_dir):
    """Epoch-weighted corpus replication (operators/split.
    weighted_replicated_sample): weight = n_chars/600 — docs are emitted
    floor(w) times plus one md5-decided extra, copy_idx distinguishing
    replicas; E[copies] = w exactly. The multiset the oracle replays with
    a range() unnest."""
    docs = load_table(spark, sf_dir, "documents")
    weighted = docs.withColumn("w", F.col("n_chars") / F.lit(600.0))
    out = split.weighted_replicated_sample(weighted, "doc_id", "w")
    return out.select("doc_id", "lang", "copy_idx").orderBy("doc_id", "copy_idx")


T12_SQL = """
WITH w AS (
  SELECT doc_id, lang,
         least(greatest(n_chars / 600.0, 0.0), 100.0) AS wt,
         CAST(('0x' || substr(md5('w1|' || CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT AS DOUBLE)
           / 281474976710656.0 AS u
  FROM documents
),
c AS (
  SELECT doc_id, lang,
         CAST(floor(wt) + CASE WHEN u < wt - floor(wt) THEN 1 ELSE 0 END AS BIGINT) AS copies
  FROM w
)
SELECT doc_id, lang, CAST(i AS BIGINT) AS copy_idx
FROM c, UNNEST(range(copies)) AS t(i)
WHERE copies > 0
ORDER BY doc_id, copy_idx
"""

query("t12_replicated_sample", t12_replicated_sample, T12_SQL)


def d12_source_overlap_matrix(spark, sf_dir):
    """Cross-source contamination matrix: for every ordered source pair
    (a, b), the fraction (exact ppm) of a's DISTINCT 8-gram fingerprints
    that also occur in b — the subcorpus-overlap audit behind benchmark-
    contamination reports and source-mixing decisions (d9 probes a fixed
    query set; this measures corpus-vs-corpus). (source, gram) explode ->
    ONE gram-keyed collect_set aggregation (collect_set dedups, so no
    separate distinct pass — that was a second full shuffle on the gram
    key; removing it cut d12 3.5 -> ~2 s at sf0.1) -> per-gram source
    sets bounded by |sources| -> pair explode; totals derive from the
    sets, never re-scanning the fact. Grams ship as 16-hex md5 prefixes
    (the d10 convention): half the shuffle bytes of a full md5, collision
    odds 2^-64 — the same accepted fingerprint convention."""
    from ..operators.dedup import _spread

    # _spread: the sf0.1 documents table is ONE small parquet file -> one
    # scan partition, which serializes the per-position md5 explode (the
    # query's dominant cost) onto a single core; at 100 TB the file count
    # provides this parallelism for free
    docs = _spread(load_table(spark, sf_dir, "documents"))
    # round-13: BIND the token array to a real column before the gram
    # lambda touches it (the d16/word_ngrams_from_tokens rule — Catalyst
    # does not hoist subexpressions through HOF lambdas, so the previous
    # textually-inlined split re-ran once per gram position: O(words²)
    # regex splits per doc; the source lint misses it because the
    # tokenizer hid behind a Python variable). Measured with the
    # src_sets checkpoint below: 1.52 → 1.29 s min-of-4 at sf0.1.
    staged = docs.select(
        "source", F.split(F.trim(F.col("text")), r"\s+").alias("__w")
    ).filter(F.size("__w") >= 8)
    w = F.col("__w")
    grams = staged.select(
        "source",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size(w) - 7),
                lambda i: F.substring(
                    F.md5(F.concat_ws(" ", F.slice(w, i, F.lit(8)))), 1, 16
                ),
            )
        ).alias("g"),
    )
    # per-gram source set in ONE shuffle: collect_set dedups (source)
    # within each gram, and the partial aggregate absorbs within-partition
    # duplicates map-side. localCheckpoint: both totals and shared consume
    # this frame — without it the gram explode + groupBy computed twice
    # per execution.
    src_sets = grams.groupBy("g").agg(
        F.collect_set("source").alias("__ss")
    ).localCheckpoint(eager=False)
    # distinct-gram totals per source, derived from the bounded sets
    totals = (
        src_sets.select(F.explode("__ss").alias("source"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_grams"))
    )
    shared = (
        src_sets.select(F.explode("__ss").alias("src_a"), "__ss")
        .select("src_a", F.explode("__ss").alias("src_b"))
        .filter(F.col("src_a") != F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return (
        shared.join(
            F.broadcast(totals.withColumnRenamed("source", "src_a")), "src_a"
        )
        .select(
            "src_a",
            "src_b",
            "n_shared",
            F.expr("n_shared * 1000000L div n_grams").alias("overlap_ppm"),
        )
        .orderBy("src_a", "src_b")
    )


D12_SQL = r"""
WITH toks AS (
  SELECT source, string_split_regex(trim(text), '\s+') AS t FROM documents
),
grams AS (
  SELECT DISTINCT source,
         md5(array_to_string(list_slice(t, i + 1, i + 8), ' ')) AS g
  FROM (SELECT source, t, CAST(len(t) AS BIGINT) AS n FROM toks) s,
       UNNEST(range(n - 8 + 1)) AS u(i)
  WHERE n >= 8
),
totals AS (SELECT source, count(*) AS n_grams FROM grams GROUP BY source),
shared AS (
  SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_shared
  FROM grams a JOIN grams b USING (g)
  WHERE a.source <> b.source
  GROUP BY 1, 2
)
SELECT s.src_a, s.src_b, CAST(s.n_shared AS BIGINT) AS n_shared,
       CAST(s.n_shared * 1000000 // t.n_grams AS BIGINT) AS overlap_ppm
FROM shared s JOIN totals t ON s.src_a = t.source
ORDER BY src_a, src_b
"""

query("d12_source_overlap_matrix", d12_source_overlap_matrix, D12_SQL)


def ev9_attribution_models(spark, sf_dir):
    """Three attribution models side-by-side per channel — first-touch,
    last-touch, and linear — over the SAME touch->conversion candidates
    as ev6 (24 h banded interval join): the comparison table a marketing/
    growth pipeline actually publishes. First/last pick one touch per
    conversion under the total order (ts, touch_id); linear splits
    1e6 DIV n exactly. All integers; the two rank windows and the count
    share the conv_id partitioning (one shuffle, two sorts)."""
    from ..operators.rangejoin import banded_interval_join

    ev = load_table(spark, sf_dir, "events")
    touches = ev.filter(F.col("event_type").isin("view", "click", "signup"))
    convs = ev.filter(F.col("event_type") == "purchase")
    pairs = banded_interval_join(
        touches.select(
            "user_id", F.col("event_id").alias("touch_id"), "ts",
            F.col("event_type").alias("channel"),
        ),
        convs.select("user_id", F.col("event_id").alias("conv_id"), "ts"),
        key_col="user_id",
        left_id="touch_id",
        right_id="conv_id",
        ts_col="ts",
        window_sec=86400,
        left_payload=("channel",),
    )
    wp = Window.partitionBy("conv_id")
    # the banded join emits the touch id and channel; order first/last by
    # touch_id (event ids are assigned in ts order in this dataset and the
    # tie-break must be total) — pinned identically in the oracle
    first_rn = F.row_number().over(wp.orderBy("touch_id"))
    last_rn = F.row_number().over(wp.orderBy(F.col("touch_id").desc()))
    credited = (
        pairs.withColumn("__n", F.count(F.lit(1)).over(wp))
        .withColumn("__f", (first_rn == 1).cast("long"))
        .withColumn("__l", (last_rn == 1).cast("long"))
    )
    return (
        credited.groupBy(F.col("channel_l").alias("channel"))
        .agg(
            F.sum("__f").alias("first_touch"),
            F.sum("__l").alias("last_touch"),
            F.sum(F.expr("1000000 DIV __n")).alias("linear_credit_ppm"),
        )
        .orderBy("channel")
    )


EV9_SQL = """
WITH t AS (
  SELECT user_id, event_id AS tid, event_type AS channel,
         CAST(floor(epoch(ts)) AS BIGINT) AS et
  FROM events WHERE event_type IN ('view', 'click', 'signup')
),
c AS (
  SELECT user_id, event_id AS cid, CAST(floor(epoch(ts)) AS BIGINT) AS ec
  FROM events WHERE event_type = 'purchase'
),
p AS (
  SELECT t.channel, t.tid, c.cid
  FROM t JOIN c ON t.user_id = c.user_id
   AND c.ec >= t.et AND c.ec - t.et <= 86400
),
w AS (
  SELECT channel, cid,
         count(*) OVER (PARTITION BY cid) AS n,
         row_number() OVER (PARTITION BY cid ORDER BY tid) AS rf,
         row_number() OVER (PARTITION BY cid ORDER BY tid DESC) AS rl
  FROM p
)
SELECT channel,
       CAST(sum(CASE WHEN rf = 1 THEN 1 ELSE 0 END) AS BIGINT) AS first_touch,
       CAST(sum(CASE WHEN rl = 1 THEN 1 ELSE 0 END) AS BIGINT) AS last_touch,
       CAST(sum(1000000 // n) AS BIGINT) AS linear_credit_ppm
FROM w GROUP BY channel ORDER BY channel
"""

query("ev9_attribution_models", ev9_attribution_models, EV9_SQL)


def t13_four_way_carve(spark, sf_dir):
    """The reference's full train/validation/calibration/test carve chain
    (T3+T5+T6, operators/split.train_valid_calib_test) as ONE assignment
    table: dev->(train,test) then train->(train,valid) then
    train->(train,calib), each an exact stratified percent-rank carve over
    the deterministic hash key — disjoint and exhaustive by construction,
    and the oracle replays all three carves as chained rank CTEs. Runs
    through split.carve_assignment, the FUSED single-rank-pass form
    (chained carves keep per-class prefixes, so the chain reduces to
    three integer cutoffs); row-identity with three chained
    stratified_split calls is pytest-pinned."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        split.carve_assignment(docs, "lang", "doc_id", 0.8, 0.8, 0.8)
        .select("doc_id", "lang", "subset")
        .orderBy("doc_id")
    )


T13_SQL = """
WITH keyed AS (
  SELECT doc_id, lang, (doc_id * 2654435761) % 1000000007 AS k FROM documents
),
c1 AS (
  SELECT doc_id, lang, k,
         CASE WHEN cnt = 1 THEN 0.0
              ELSE (rn - 1) * 1.0 / (cnt - 1) END AS pr
  FROM (SELECT doc_id, lang, k,
               row_number() OVER (PARTITION BY lang ORDER BY k, doc_id) AS rn,
               count(*) OVER (PARTITION BY lang) AS cnt
        FROM keyed)
),
l1 AS (SELECT doc_id, lang, k, pr < 0.8 AS in_train1 FROM c1),
c2 AS (
  SELECT doc_id, lang, k,
         CASE WHEN cnt = 1 THEN 0.0
              ELSE (rn - 1) * 1.0 / (cnt - 1) END AS pr
  FROM (SELECT doc_id, lang, k,
               row_number() OVER (PARTITION BY lang ORDER BY k, doc_id) AS rn,
               count(*) OVER (PARTITION BY lang) AS cnt
        FROM l1 WHERE in_train1)
),
l2 AS (SELECT doc_id, lang, k, pr < 0.8 AS in_train2 FROM c2),
c3 AS (
  SELECT doc_id, lang, k,
         CASE WHEN cnt = 1 THEN 0.0
              ELSE (rn - 1) * 1.0 / (cnt - 1) END AS pr
  FROM (SELECT doc_id, lang, k,
               row_number() OVER (PARTITION BY lang ORDER BY k, doc_id) AS rn,
               count(*) OVER (PARTITION BY lang) AS cnt
        FROM l2 WHERE in_train2)
)
SELECT doc_id, lang,
       CASE WHEN doc_id IN (SELECT doc_id FROM c3 WHERE pr < 0.8) THEN 'train'
            WHEN doc_id IN (SELECT doc_id FROM c3) THEN 'calibration'
            WHEN doc_id IN (SELECT doc_id FROM l2 WHERE NOT in_train2) THEN 'validation'
            ELSE 'test' END AS subset
FROM keyed
ORDER BY doc_id
"""

query("t13_four_way_carve", t13_four_way_carve, T13_SQL)


def a11_champion_leaderboard(spark, sf_dir):
    """Champion selection (A11, train/workflow.select_champion's argmax)
    as an oracled leaderboard: three deterministic pseudo-models (the OVR
    multiplier fixtures) are each evaluated for accuracy@0.5 in ONE
    aggregation pass (exact integer correct-counts), and the champion is
    the argmax with a lexicographic tie-break — the reference's model-
    selection rule (optimizer comparison by metric) in exact arithmetic."""
    ev = load_table(spark, sf_dir, "events")
    label = F.when(F.col("event_id") % 7 < 3, 1).otherwise(0)
    rows = None
    for name, mult in (("m37", 37), ("m59", 59), ("m83", 83)):
        score = ((F.col("event_id") * mult) % 1024) / F.lit(1024.0)
        pred = (score >= 0.5).cast("int")
        r = ev.select(label.alias("y"), pred.alias("p")).agg(
            F.lit(name).alias("model"),
            F.count(F.lit(1)).alias("n"),
            F.sum((F.col("y") == F.col("p")).cast("long")).alias("n_correct"),
        )
        rows = r if rows is None else rows.unionByName(r)
    w = Window.orderBy(F.col("n_correct").desc(), "model")
    return (
        rows.withColumn("rank", F.row_number().over(w))
        .withColumn("is_champion", (F.col("rank") == 1).cast("int"))
        .drop("rank")
        .orderBy("model")
    )


A11_SQL = """
WITH s AS (
  SELECT event_id, CASE WHEN event_id % 7 < 3 THEN 1 ELSE 0 END AS y FROM events
),
m AS (
  SELECT 'm37' AS model, count(*) AS n,
         sum(CASE WHEN (CASE WHEN ((event_id * 37) % 1024) / 1024.0 >= 0.5 THEN 1 ELSE 0 END) = y THEN 1 ELSE 0 END) AS n_correct
  FROM s
  UNION ALL
  SELECT 'm59', count(*),
         sum(CASE WHEN (CASE WHEN ((event_id * 59) % 1024) / 1024.0 >= 0.5 THEN 1 ELSE 0 END) = y THEN 1 ELSE 0 END)
  FROM s
  UNION ALL
  SELECT 'm83', count(*),
         sum(CASE WHEN (CASE WHEN ((event_id * 83) % 1024) / 1024.0 >= 0.5 THEN 1 ELSE 0 END) = y THEN 1 ELSE 0 END)
  FROM s
)
SELECT model, CAST(n AS BIGINT) AS n, CAST(n_correct AS BIGINT) AS n_correct,
       CASE WHEN row_number() OVER (ORDER BY n_correct DESC, model) = 1 THEN 1 ELSE 0 END AS is_champion
FROM m ORDER BY model
"""

query("a11_champion_leaderboard", a11_champion_leaderboard, A11_SQL)


def f13_robust_scale(spark, sf_dir):
    """RobustScaler — the reference's DEFAULT numeric scaler
    (src/feature/utils/data.py:42-43) — in exact oracled form: center and
    scale n_chars by the EXACT discrete median and IQR found as order
    statistics at ranks floor(p*(n-1)) under (value, pk) (the p14
    machinery): (x - med) / (q75 - q25) is integer subtraction + ONE IEEE
    division, bit-identical on both engines. MLlib's RobustScaler uses
    approximate quantiles — this is the exact-contract form that makes
    the transform itself verifiable."""
    from ..operators.ordinal import count_and_boundaries, global_ordinal

    docs = load_table(spark, sf_dir, "documents")
    keyed = docs.select("doc_id", "n_chars")
    # count + boundary sketch fused into one aggregate job
    n, bounds = count_and_boundaries(keyed, "n_chars", 8)
    ords = global_ordinal(
        keyed, "n_chars", "doc_id", n_buckets=8, boundaries=bounds
    )
    import math

    ks = {p: int(math.floor(p * (n - 1))) for p in (0.25, 0.5, 0.75)}
    rows = ords.filter(F.col("ordinal").isin(*ks.values())).collect()
    byord = {r["ordinal"]: r["n_chars"] for r in rows}
    q25, med, q75 = byord[ks[0.25]], byord[ks[0.5]], byord[ks[0.75]]
    iqr = q75 - q25
    return docs.select(
        "doc_id",
        "n_chars",
        ((F.col("n_chars") - F.lit(med)) / F.lit(float(iqr))).alias("scaled"),
    ).orderBy("doc_id")


F13_SQL = """
WITH ranked AS (
  SELECT n_chars, row_number() OVER (ORDER BY n_chars, doc_id) - 1 AS ord
  FROM documents
),
nn AS (SELECT count(*) AS n FROM documents),
q AS (
  SELECT min(CASE WHEN ord = CAST(floor(0.25 * (n - 1)) AS BIGINT) THEN n_chars END) AS q25,
         min(CASE WHEN ord = CAST(floor(0.5 * (n - 1)) AS BIGINT) THEN n_chars END) AS med,
         min(CASE WHEN ord = CAST(floor(0.75 * (n - 1)) AS BIGINT) THEN n_chars END) AS q75
  FROM ranked CROSS JOIN nn
)
SELECT d.doc_id, d.n_chars,
       (d.n_chars - q.med) / CAST(q.q75 - q.q25 AS DOUBLE) AS scaled
FROM documents d CROSS JOIN q
ORDER BY d.doc_id
"""

query("f13_robust_scale", f13_robust_scale, F13_SQL)


def f14_target_encode(spark, sf_dir):
    """Smoothed mean target encoding (features/pipeline.
    target_encode_table, m=10): per-status shrunk mean of o_totalprice —
    empirical-Bayes shrinkage toward the global prior. Engine-exact:
    decimal sums, integer counts, then one FIXED chain of correctly-
    rounded double ops; global totals via a window over the grouped
    frame so the fact table is scanned once."""
    from ..features.pipeline import target_encode_table

    o = load_table(spark, sf_dir, "orders")
    return target_encode_table(
        o, "o_orderstatus", "o_totalprice", smoothing=10
    ).orderBy("o_orderstatus")


F14_SQL = """
WITH g AS (
  SELECT o_orderstatus, count(*) AS n,
         sum(CAST(o_totalprice AS DECIMAL(18,4))) AS sum_t
  FROM orders GROUP BY 1
),
t AS (
  SELECT *, sum(n) OVER () AS g_n, sum(sum_t) OVER () AS g_sum FROM g
)
SELECT o_orderstatus, CAST(n AS BIGINT) AS n,
       (CAST(sum_t AS DOUBLE) + 10.0 * (CAST(g_sum AS DOUBLE) / CAST(g_n AS DOUBLE)))
       / (CAST(n AS DOUBLE) + 10.0) AS target_enc
FROM t ORDER BY o_orderstatus
"""

query("f14_target_encode", f14_target_encode, F14_SQL)


def dq4_volume_anomaly(spark, sf_dir):
    """Day-over-day ingest-volume anomaly gate: events per day, the
    previous day's count (lag), the exact ppm delta, and an anomaly flag
    at |delta| > 30% — the arrival-volume monitor that catches a broken
    producer before it poisons downstream aggregates. Integer arithmetic
    throughout (signed ppm via integer division toward negative infinity
    pinned by DuckDB-// semantics match: both sides compute FLOOR
    division on a possibly-negative numerator via explicit floor)."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n")
    )
    # UNPARTITIONED lag window, deliberately: input is the per-DAY count
    # aggregate (rows = days of history — bounded metadata, not the
    # event stream); the lint's bounded-input exemption applies, stated
    # here explicitly rather than relying on its silence.
    w = Window.orderBy("day")
    return (
        daily.withColumn("prev_n", F.lag("n").over(w))
        .filter(F.col("prev_n").isNotNull())
        .select(
            "day",
            "n",
            "prev_n",
            F.floor((F.col("n") - F.col("prev_n")) * 1000000 / F.col("prev_n"))
            .cast("long")
            .alias("delta_ppm"),
        )
        .withColumn(
            "anomaly", (F.abs(F.col("delta_ppm")) > 300000).cast("int")
        )
        .orderBy("day")
    )


DQ4_SQL = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, count(*) AS n FROM events GROUP BY 1
),
lagged AS (
  SELECT day, n, lag(n) OVER (ORDER BY day) AS prev_n FROM daily
)
SELECT day, CAST(n AS BIGINT) AS n, CAST(prev_n AS BIGINT) AS prev_n,
       CAST(floor((n - prev_n) * 1000000.0 / prev_n) AS BIGINT) AS delta_ppm,
       CASE WHEN abs(floor((n - prev_n) * 1000000.0 / prev_n)) > 300000 THEN 1 ELSE 0 END AS anomaly
FROM lagged WHERE prev_n IS NOT NULL
ORDER BY day
"""

query("dq4_volume_anomaly", dq4_volume_anomaly, DQ4_SQL)


def dq5_id_gap_audit(spark, sf_dir):
    """Surrogate-key integrity audit over orders.o_orderkey: total rows,
    distinct keys, duplicated keys, min/max, missing ids in [min,max],
    and the LARGEST run of consecutive missing ids — the sequence-gap
    report that catches lost ingest batches and key collisions.

    Scale shape: the naive form (lag over ORDER BY key, no partition) is
    a single-partition window over every key — a scale-killer. Here keys
    are range-bucketed with a width DERIVED from the observed key span
    (1 + span div 65536, via a broadcast 1-row min/max — round-8 verdict
    #3), so the cross-bucket frame through the one global window is
    ≤ 65538 rows at ANY keyspace: per-bucket consecutive gaps use a
    PARTITIONED window, per-bucket partials (count, dup count, row sum,
    min/max, max internal gap) collapse to that bounded frame, and only
    it sees the global window for the cross-bucket boundary gaps. The
    DuckDB oracle computes the same numbers with the naive global lag —
    algorithm differs, result is pinned identical and bucket-width-
    agnostic (operators/prep.id_gap_audit; planted-gap + wide-keyspace
    pytests cover the boundary case and the derived sizing)."""
    o = load_table(spark, sf_dir, "orders")
    return prep.id_gap_audit(o, "o_orderkey")


DQ5_SQL = """
WITH pk AS (
  SELECT o_orderkey AS k, count(*) AS c FROM orders GROUP BY 1
),
gaps AS (
  SELECT k, c, k - lag(k) OVER (ORDER BY k) - 1 AS gap FROM pk
)
SELECT CAST(sum(c) AS BIGINT) AS total_rows,
       CAST(count(*) AS BIGINT) AS distinct_keys,
       CAST(sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT) AS duplicate_keys,
       CAST(min(k) AS BIGINT) AS min_key,
       CAST(max(k) AS BIGINT) AS max_key,
       CAST(max(k) - min(k) + 1 - count(*) AS BIGINT) AS missing_ids,
       CAST(coalesce(max(gap), 0) AS BIGINT) AS largest_gap
FROM gaps
"""

query("dq5_id_gap_audit", dq5_id_gap_audit, DQ5_SQL)


def w7_pivot_matrix(spark, sf_dir):
    """Relational pivot: order counts as a status × priority matrix
    (Spark's first-class ``pivot()`` with an EXPLICIT value list — the
    two-phase auto-discovery variant is a scale antipattern; pinning the
    columns also pins the schema). Oracle = conditional aggregation."""
    o = load_table(spark, sf_dir, "orders")
    pri = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    out = (
        o.groupBy("o_orderstatus")
        .pivot("o_orderpriority", pri)
        .agg(F.count(F.lit(1)))
    )
    cols = {p: "p" + p[0] for p in pri}
    sel = [F.col("o_orderstatus").alias("status")] + [
        F.coalesce(F.col(f"`{p}`"), F.lit(0)).cast("long").alias(a)
        for p, a in cols.items()
    ]
    return out.select(*sel).orderBy("status")


W7_SQL = """
SELECT o_orderstatus AS status,
       CAST(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS p1,
       CAST(sum(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END) AS BIGINT) AS p2,
       CAST(sum(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 ELSE 0 END) AS BIGINT) AS p3,
       CAST(sum(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 ELSE 0 END) AS BIGINT) AS p4,
       CAST(sum(CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END) AS BIGINT) AS p5
FROM orders GROUP BY o_orderstatus ORDER BY status
"""

query("w7_pivot_matrix", w7_pivot_matrix, W7_SQL)




def ts9_arrival_completeness(spark, sf_dir):
    """Data-arrival completeness audit: for each day, how many of the 24
    expected hour buckets actually received events, and which count is
    missing — the per-partition-arrival monitor (a day with 23/24 hours
    means a producer gap, visible BEFORE any downstream agg is wrong).
    Expected hours come from a generated sequence (bounded explode: 24 ×
    days), observed from one groupBy; integer output."""
    ev = load_table(spark, sf_dir, "events")
    observed = (
        ev.select(
            F.to_date("ts").alias("day"), F.hour("ts").alias("hod")
        )
        .distinct()
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("hours_present"))
    )
    return observed.select(
        "day",
        "hours_present",
        (F.lit(24) - F.col("hours_present")).cast("long").alias("hours_missing"),
        (F.col("hours_present") == 24).cast("int").alias("complete"),
    ).orderBy("day")


TS9_SQL = """
SELECT day, CAST(hours_present AS BIGINT) AS hours_present,
       CAST(24 - hours_present AS BIGINT) AS hours_missing,
       CASE WHEN hours_present = 24 THEN 1 ELSE 0 END AS complete
FROM (
  SELECT CAST(ts AS DATE) AS day, count(DISTINCT hour(ts)) AS hours_present
  FROM events GROUP BY 1
)
ORDER BY day
"""

query("ts9_arrival_completeness", ts9_arrival_completeness, TS9_SQL)


def ts10_rolling_zscore(spark, sf_dir):
    """Rolling z-score volume anomaly (operators/timeseries.
    rolling_zscore): daily event counts scored against the trailing
    7-day mean/std, |z| > 2.0 flagged — the statistical upgrade of dq4's
    fixed-percent day-over-day gate. Integer window sums (Σx, Σx²) then
    one fixed correctly-rounded double chain; unpartitioned window is
    over the per-DAY aggregate (bounded metadata, dq4's exemption)."""
    from ..operators import timeseries as TS

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n")
    )
    return TS.rolling_zscore(
        daily, "day", "n", window_rows=7, threshold_x100=200
    ).orderBy("day")


TS10_SQL = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, count(*) AS n FROM events GROUP BY 1
),
win AS (
  SELECT day, n,
         count(*) OVER w AS n_win,
         CAST(sum(n) OVER w AS BIGINT) AS s1,
         CAST(sum(n * n) OVER w AS BIGINT) AS s2
  FROM daily
  WINDOW w AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
),
sc AS (
  SELECT day, n,
         CAST(s1 AS DOUBLE) / 7.0 AS win_mean,
         CASE WHEN (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / 7.0) / 6.0 > 0
              THEN (CAST(n AS DOUBLE) - CAST(s1 AS DOUBLE) / 7.0)
                   / sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / 7.0) / 6.0)
         END AS zscore
  FROM win WHERE n_win = 7
)
SELECT day, CAST(n AS BIGINT) AS n, win_mean, zscore,
       CASE WHEN zscore IS NOT NULL AND abs(zscore) * 100 > 200.0 THEN 1 ELSE 0 END AS anomaly
FROM sc ORDER BY day
"""

query("ts10_rolling_zscore", ts10_rolling_zscore, TS10_SQL)


def x21_lang_mismatch_audit(spark, sf_dir):
    """Declared-vs-detected language audit: confusion counts between the
    corpus's `lang` column and the stopword-heuristic prediction (x3) —
    the provenance-vs-content disagreement report that catches mislabeled
    subcorpora before language-conditioned sampling trusts the label.
    One narrow lang-ID pass + a |langs|²-bounded groupBy."""
    docs = load_table(spark, sf_dir, "documents")
    pred = text.language_id(docs, "doc_id", "text").select(
        "doc_id", "predicted_lang"
    )
    return (
        docs.select("doc_id", "lang")
        .join(pred, "doc_id")
        .groupBy("lang", "predicted_lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn(
            "mismatch",
            (
                (F.col("predicted_lang") != F.col("lang"))
                & (F.col("predicted_lang") != "und")
            ).cast("int"),
        )
        .orderBy("lang", "predicted_lang")
    )


X21_SQL = r"""
WITH toks AS (
  SELECT doc_id, lang,
    list_distinct(list_transform(regexp_split_to_array(trim(text), '\s+'), x -> lower(x))) AS t
  FROM documents
), scored AS (
  SELECT doc_id, lang,
    CAST(len(list_intersect(t, {de})) AS INTEGER) AS score_de,
    CAST(len(list_intersect(t, {en})) AS INTEGER) AS score_en,
    CAST(len(list_intersect(t, {es})) AS INTEGER) AS score_es,
    CAST(len(list_intersect(t, {fr})) AS INTEGER) AS score_fr
  FROM toks
), pred AS (
  SELECT doc_id, lang,
    CASE WHEN greatest(score_de, score_en, score_es, score_fr) = 0 THEN 'und'
         WHEN score_de = greatest(score_de, score_en, score_es, score_fr) THEN 'de'
         WHEN score_en = greatest(score_de, score_en, score_es, score_fr) THEN 'en'
         WHEN score_es = greatest(score_de, score_en, score_es, score_fr) THEN 'es'
         ELSE 'fr' END AS predicted_lang
  FROM scored
)
SELECT lang, predicted_lang, CAST(count(*) AS BIGINT) AS n,
       CASE WHEN predicted_lang <> lang AND predicted_lang <> 'und' THEN 1 ELSE 0 END AS mismatch
FROM pred GROUP BY lang, predicted_lang
ORDER BY lang, predicted_lang
""".format(**_STOP_SQL)

query("x21_lang_mismatch_audit", x21_lang_mismatch_audit, X21_SQL)


def d16_prefix_filter_jaccard(spark, sf_dir):
    """EXACT Jaccard-threshold join via prefix filtering (dedup.
    prefix_filter_jaccard_pairs, t=0.6, word-BIGRAM tokens) over the
    doc_id%2==0 slice — the LOSSLESS candidate-generation alternative to
    d3's MinHash-LSH: no false negatives by the pigeonhole rule, so the
    plain quadratic DuckDB join is an unconditional oracle (algorithm
    differs, result pinned identical — the dq5 pattern). Tokens are
    adjacent word bigrams (w-shingling), NOT single words: this corpus's
    word vocabulary is ~31 words, so every doc contains almost every
    word, word-level Jaccard saturates (~56% of ALL pairs ≥ 0.6 at
    sf0.1) and the prefix filter cannot prune (measured 7.06M candidate
    fanout / 31 s). Bigrams restore rarity (vocab ~925, max df 85):
    output is the 10 true near-dup pairs, fanout drops 7×, and the
    rare-token prefix join actually prunes — the property the algorithm
    is built on. The slice keeps the oracle's O(n²) side feasible; the
    Spark side is the scale path (never |docs|² candidates)."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 2 == 0
    )
    return dedup.prefix_filter_jaccard_pairs(
        docs, "doc_id", "text", threshold_x100=60, ngram=2
    )


D16_SQL = r"""
WITH t AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(w)),
                                      i -> w[i] || ' ' || w[i+1])) AS ts
  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
        FROM documents WHERE doc_id % 2 = 0)
),
p AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         CAST(len(list_intersect(a.ts, b.ts)) AS BIGINT) AS inter,
         CAST(len(a.ts) AS BIGINT) AS sza, CAST(len(b.ts) AS BIGINT) AS szb
  FROM t a JOIN t b ON a.doc_id < b.doc_id
  WHERE len(a.ts) > 0 AND len(b.ts) > 0
)
SELECT id_a, id_b, inter, (sza + szb - inter) AS union_sz,
       CAST(inter AS DOUBLE) / CAST(sza + szb - inter AS DOUBLE) AS jaccard
FROM p WHERE 100 * inter >= 60 * (sza + szb - inter)
ORDER BY id_a, id_b
"""

query("d16_prefix_filter_jaccard", d16_prefix_filter_jaccard, D16_SQL)


def x22_gopher_filters(spark, sf_dir):
    """Gopher-rule quality gate (Rae et al. 2021 table A1): per-doc integer
    evidence (word count, summed word chars, alpha-word count, distinct-
    stopword hits) + one boolean per rule + the fused keep verdict. Every
    flag decided by INTEGER comparison (thresholds cross-multiplied), so
    the oracle is engine-exact; one narrow JVM projection, scan-fused,
    zero shuffle at any corpus size."""
    docs = load_table(spark, sf_dir, "documents")
    return text.gopher_quality_filters(docs, "doc_id", "text").orderBy("doc_id")


X22_GOPHER_SQL = r"""
WITH tok AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents
), feat AS (
  SELECT doc_id,
    CAST(len(toks) AS BIGINT) AS n_words,
    CAST(list_sum(list_transform(toks, t -> length(t))) AS BIGINT) AS sum_word_chars,
    CAST(len(list_filter(toks, t -> regexp_matches(t, '[A-Za-z]'))) AS BIGINT) AS n_alpha_words,
    CAST(len(list_intersect(list_distinct(list_transform(toks, t -> lower(t))),
         ['the','a','of','to','and','in','is','that','for','it'])) AS BIGINT) AS n_stop_hits
  FROM tok
)
SELECT doc_id, n_words, sum_word_chars, n_alpha_words, n_stop_hits,
  (n_words BETWEEN 50 AND 100000) AS ok_word_count,
  (sum_word_chars >= 3 * n_words AND sum_word_chars <= 10 * n_words) AS ok_mean_word_len,
  (n_alpha_words * 100 >= 80 * n_words) AS ok_alpha_words,
  (n_stop_hits >= 2) AS ok_stopwords,
  ((n_words BETWEEN 50 AND 100000)
   AND (sum_word_chars >= 3 * n_words AND sum_word_chars <= 10 * n_words)
   AND (n_alpha_words * 100 >= 80 * n_words)
   AND (n_stop_hits >= 2)) AS keep
FROM feat ORDER BY doc_id
"""

query("x22_gopher_filters", x22_gopher_filters, X22_GOPHER_SQL)


def ev10_stickiness(spark, sf_dir):
    """DAU/MAU stickiness per day — the engagement ratio dashboards lead
    with: DAU = distinct users that day, MAU = distinct users over the
    trailing 30 days (the ts5 bounded-explode rolling-distinct shape),
    stickiness as exact ppm (DAU·1e6 DIV MAU). Both counts from ONE
    (user, day) dedup; everything integer."""
    from ..operators import timeseries as TS

    ev = load_table(spark, sf_dir, "events")
    dau = (
        ev.select(
            F.col("user_id").alias("u"),
            F.date_trunc("day", F.col("ts")).cast("date").alias("day"),
        )
        .distinct()
        .groupBy("day")
        .agg(F.countDistinct("u").alias("dau"))
    )
    mau = TS.rolling_distinct_users(ev, "ts", "user_id", window_days=30).select(
        "day", F.col("n_users").alias("mau")
    )
    return (
        dau.join(mau, "day")
        .select(
            "day",
            "dau",
            "mau",
            F.expr("dau * 1000000L div mau").alias("stickiness_ppm"),
        )
        .orderBy("day")
    )


EV10_SQL = """
WITH pairs AS (
  SELECT DISTINCT user_id AS u, CAST(date_trunc('day', ts) AS DATE) AS d FROM events
),
days AS (SELECT DISTINCT d FROM pairs),
dau AS (SELECT d AS day, count(DISTINCT u) AS dau FROM pairs GROUP BY d),
mau AS (
  SELECT dy.d AS day,
         (SELECT count(DISTINCT p.u) FROM pairs p
           WHERE p.d > dy.d - 30 AND p.d <= dy.d) AS mau
  FROM days dy
)
SELECT d1.day, CAST(d1.dau AS BIGINT) AS dau, CAST(m.mau AS BIGINT) AS mau,
       CAST(d1.dau * 1000000 // m.mau AS BIGINT) AS stickiness_ppm
FROM dau d1 JOIN mau m ON d1.day = m.day
ORDER BY d1.day
"""

query("ev10_stickiness", ev10_stickiness, EV10_SQL)


def s15_orc_roundtrip(spark, sf_dir):
    """ORC sink path as an oracled flow (the columnar-format sibling of
    s2's parquet roundtrip): write orders as ORC, read back through the
    ORC scan, aggregate per status with decimal-exact revenue. If the
    format roundtrip dropped, duplicated, or coerced anything, the hashes
    diverge from DuckDB reading the source parquet directly."""
    import tempfile

    o = load_table(spark, sf_dir, "orders")
    target = os.path.join(
        tempfile.gettempdir(),
        f"s15_orc_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    o.select("o_orderkey", "o_orderstatus", "o_totalprice").write.mode(
        "overwrite"
    ).orc(target)
    back = spark.read.orc(target)
    return (
        back.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
            .cast("double")
            .alias("sum_price"),
        )
        .orderBy("o_orderstatus")
    )


S15_SQL = """
SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
       CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS DOUBLE) AS sum_price
FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
"""

query("s15_orc_roundtrip", s15_orc_roundtrip, S15_SQL)


def s16_csv_roundtrip(spark, sf_dir):
    """CSV sink (S6, sources/io.write_csv — the reference's interchange
    export, src/feature/prep_data.py save path) upgraded from test-only
    to an oracled flow, like s15 did for ORC: write orders as CSV, read
    back with the EXPLICIT schema (inference could legally widen types),
    aggregate per status with decimal-exact revenue. Text roundtrip is
    exact here by construction: bigint/short-string columns are trivially
    textual, and Spark prints doubles round-trippable (Java
    Double.toString), so a value drift means the sink, not the format."""
    import tempfile

    from ..sources.io import write_csv

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    target = os.path.join(
        tempfile.gettempdir(),
        f"s16_csv_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    write_csv(o, target)
    back = spark.read.schema(o.schema).option("header", "true").csv(target)
    return (
        back.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
            .cast("double")
            .alias("sum_price"),
        )
        .orderBy("o_orderstatus")
    )


query("s16_csv_roundtrip", s16_csv_roundtrip, S15_SQL)


def s17_schema_evolution(spark, sf_dir):
    """Schema-evolution roundtrip: generation 1 of a dataset lands
    WITHOUT a column (orders with even keys: key+status only),
    generation 2 adds it (odd keys: +o_totalprice); the union is read
    back through ``mergeSchema=true`` — the additive-column drift every
    long-lived 100 TB dataset accumulates. The aggregate proves merge
    semantics: row counts see BOTH generations, the new column is NULL
    exactly on generation-1 rows (count(o_totalprice) == odd-key count),
    and the decimal sum over generation 2 matches DuckDB computing the
    same split from the source table. Scale note: mergeSchema reconciles
    footers in a distributed job, but turn it on only when drift is
    expected — for a stable catalog schema, a declared read schema skips
    that job entirely."""
    import tempfile

    o = load_table(spark, sf_dir, "orders")
    target = os.path.join(
        tempfile.gettempdir(),
        f"s17_evo_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    gen1 = o.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_orderstatus"
    )
    gen2 = o.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    gen1.write.mode("overwrite").parquet(os.path.join(target, "gen=1"))
    gen2.write.mode("overwrite").parquet(os.path.join(target, "gen=2"))
    back = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(target, "gen=1"), os.path.join(target, "gen=2")
    )
    return (
        back.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count("o_totalprice").alias("n_with_price"),
            F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
            .cast("double")
            .alias("sum_price"),
        )
        .orderBy("o_orderstatus")
    )


S17_SQL = """
SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CASE WHEN o_orderkey % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_with_price,
       CAST(CAST(sum(CASE WHEN o_orderkey % 2 = 1
                          THEN CAST(o_totalprice AS DECIMAL(18,4)) END)
                 AS DECIMAL(18,4)) AS DOUBLE) AS sum_price
FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
"""

query("s17_schema_evolution", s17_schema_evolution, S17_SQL)


def emb5_cosine_histogram(spark, sf_dir):
    """Similarity-distribution audit (similarity.pairwise_cosine_histogram):
    cosine over emb4's md5-ordinal deterministic pair sample, bucketed
    into 40 bins on [-1, 1] — the pre-tuning diagnostic for LSH bands /
    IVF n_probe / near-dup thresholds. O(kN) pairs, never all-pairs; the
    oracle regenerates the identical sample and the identical sequential
    double folds (sim1's proven cosine convention)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.pairwise_cosine_histogram(
        emb, "vec_id", "embedding", k=4, n_bins=40, salt="hist1"
    )


EMB5_SQL = """
WITH ords AS (
  SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS ord FROM embeddings
),
nn AS (SELECT count(*) AS n FROM embeddings),
cand AS (
  SELECT e.vec_id AS anchor_id, k.k_idx,
         ('0x' || substr(md5('hist1|' || CAST(e.vec_id AS VARCHAR) || '|' || CAST(k.k_idx AS VARCHAR)), 1, 12))::BIGINT % nn.n AS neg_ord
  FROM embeddings e
  CROSS JOIN nn
  CROSS JOIN (SELECT unnest(range(4)) AS k_idx) k
),
pairs AS (
  SELECT c.anchor_id, o.vec_id AS neg_id
  FROM cand c JOIN ords o ON c.neg_ord = o.ord
  WHERE o.vec_id <> c.anchor_id
),
vn AS (
  SELECT vec_id, embedding,
    sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
           list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
         (a, x) -> a + x)) AS nrm
  FROM embeddings
),
cosines AS (
  SELECT list_reduce(list_prepend(CAST(0 AS DOUBLE),
           list_transform(list_zip(a.embedding, b.embedding),
                          p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))),
         (acc, x) -> acc + x) / (a.nrm * b.nrm) AS cs
  FROM pairs p
  JOIN vn a ON p.anchor_id = a.vec_id
  JOIN vn b ON p.neg_id = b.vec_id
),
binned AS (
  SELECT least(CAST(floor((cs + 1.0) / 2.0 * 40) AS BIGINT), 39) AS bin
  FROM cosines
),
counts AS (SELECT bin, count(*) AS n_pairs FROM binned GROUP BY bin),
tot AS (SELECT sum(n_pairs) AS t FROM counts)
SELECT bin, bin * 2000 // 40 - 1000 AS lo_milli,
       CAST(n_pairs AS BIGINT) AS n_pairs,
       CAST(n_pairs * 1000000 // tot.t AS BIGINT) AS share_ppm
FROM counts CROSS JOIN tot
ORDER BY bin
"""

query("emb5_cosine_histogram", emb5_cosine_histogram, EMB5_SQL)


def d4b_simhash_md5_pairs(spark, sf_dir):
    """ORACLE-EXACT SimHash near-pairs: the md5 hash family
    (dedup.simhash hash_family="md5") makes the token hashes — and so
    the fingerprints and the whole near-pair set — reproducible in pure
    SQL, upgrading the SimHash family from rows-only+recall-twin (d4 /
    d4r, xxhash64 — DuckDB has no xxhash64) to hash-exact evidence.
    Unlike the MinHash oracle (corpus-specific equivalence argument),
    the SimHash banding guarantee is UNCONDITIONAL pigeonhole: hamming
    <= 3 over four disjoint 16-bit chunks forces >= 1 chunk equal, so
    banded candidates provably cover every qualifying pair and the
    brute-force all-pairs SQL is the oracle with no corpus assumption.
    The oracle rebuilds fingerprints as (hi, lo) 32-bit halves — bit 63
    via 1<<63 would overflow a signed BIGINT literal sum; the Spark
    side's single long and the halves have identical popcount algebra."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.simhash_near_pairs(
        docs, "doc_id", "text", max_hamming=3, hash_family="md5"
    )


D4B_SQL = r"""
WITH toks AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
  FROM documents
),
hv AS (
  SELECT doc_id,
         ('0x' || substr(md5(tok), 1, 8))::BIGINT AS v1,
         ('0x' || substr(md5(tok), 9, 8))::BIGINT AS v2
  FROM toks
),
bits AS (
  SELECT doc_id, b.i,
         sum(CASE WHEN b.i < 32 THEN (v2 >> b.i) & 1
                  ELSE (v1 >> (b.i - 32)) & 1 END) AS n_set,
         count(*) AS n_tok
  FROM hv CROSS JOIN (SELECT unnest(range(64)) AS i) b
  GROUP BY doc_id, b.i
),
fp AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN i < 32 AND 2 * n_set > n_tok
                       THEN (1::BIGINT << i) ELSE 0 END) AS BIGINT) AS lo,
         CAST(sum(CASE WHEN i >= 32 AND 2 * n_set > n_tok
                       THEN (1::BIGINT << (i - 32)) ELSE 0 END) AS BIGINT) AS hi
  FROM bits GROUP BY doc_id
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) AS INTEGER) AS hamming
FROM fp a JOIN fp b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= 3
ORDER BY id_a, id_b
"""

query("d4b_simhash_md5_pairs", d4b_simhash_md5_pairs, D4B_SQL)


def mm4_payload_dup_groups(spark, sf_dir):
    """Asset-level exact dedup: group binary payloads by content hash and
    report groups with >1 asset (the media twin of d1's text dedup — at
    100 TB the groupBy carries 16-byte hashes, never payload bytes). Over
    the deterministic text-derived payload shim, so the oracle replays
    the same md5; 500 synthetic dup pairs injected via doc_id%250
    aliasing of the payload source."""
    docs = load_table(spark, sf_dir, "documents")
    from ..operators import multimodal as MM

    # alias every doc's payload to its doc_id%250 representative — a
    # deterministic way to create dup groups on this corpus
    src = docs.select(
        "doc_id", (F.col("doc_id") % 250).alias("rep")
    ).join(
        docs.select(F.col("doc_id").alias("rep"), "text"), "rep"
    )
    with_payload = MM.attach_binary_payload(src, "text")
    meta = MM.payload_metadata(with_payload, "doc_id", "payload")
    return (
        meta.groupBy("content_md5")
        .agg(
            F.count(F.lit(1)).alias("n_assets"),
            F.min("doc_id").alias("canonical_id"),
        )
        .filter(F.col("n_assets") > 1)
        .orderBy("content_md5")
    )


MM4_SQL = """
WITH src AS (
  SELECT a.doc_id, b.text
  FROM (SELECT doc_id, doc_id % 250 AS rep FROM documents) a
  JOIN documents b ON b.doc_id = a.rep
)
SELECT md5(text) AS content_md5,
       CAST(count(*) AS BIGINT) AS n_assets,
       CAST(min(doc_id) AS BIGINT) AS canonical_id
FROM src GROUP BY md5(text) HAVING count(*) > 1
ORDER BY content_md5
"""

query("mm4_payload_dup_groups", mm4_payload_dup_groups, MM4_SQL)


def h7_asha_schedule(spark, sf_dir):
    """Successive-halving (ASHA, eta=3) promotion audit as a relational
    query: 27 deterministic trials (md5-derived integer losses) are
    ranked per rung and the top third promotes, three rounds — emitting
    each trial's final rung. The schedule table is trial-count-sized
    metadata (the heavy part of HPO is the trial EXECUTION, H4's FAIR
    pools); expressing the promotion rule relationally makes the
    scheduler itself oracle-checkable, the same way t13 oracles the carve
    chain. Ties break on trial_id — total order, engine-identical."""
    ev = load_table(spark, sf_dir, "events")
    trials = (
        ev.select((F.col("event_id") % 27).alias("trial_id"))
        .distinct()
        .withColumn(
            "loss_milli",
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("h7|"), F.col("trial_id").cast("string"))),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % 1000,
        )
    )
    # With a FIXED loss per trial, ranking among each rung's survivors
    # preserves the global (loss, trial) order, so the three chained
    # promotions collapse to one rank + thresholds (rank<=1 -> rung 3,
    # <=3 -> 2, <=9 -> 1). Real ASHA re-measures loss per rung — the
    # chained form (kept in the oracle SQL) is the general shape; the
    # collapse here is what makes the audit a single bounded window over
    # the distinct-trials aggregate.
    # UNPARTITIONED window, deliberately: input is the 27-row distinct
    # trials AGGREGATE (trial-count-sized metadata, never the fact
    # table) — the lint's bounded-input exemption applies, stated here
    # explicitly rather than relying on its silence.
    w = Window.orderBy("loss_milli", "trial_id")
    ranked = trials.withColumn("__rk", F.row_number().over(w))
    return ranked.select(
        "trial_id",
        "loss_milli",
        F.when(F.col("__rk") <= 1, 3)
        .when(F.col("__rk") <= 3, 2)
        .when(F.col("__rk") <= 9, 1)
        .otherwise(0)
        .cast("long")
        .alias("max_rung"),
    ).orderBy("trial_id")


H7_SQL = """
WITH trials AS (
  SELECT trial_id,
         ('0x' || substr(md5('h7|' || CAST(trial_id AS VARCHAR)), 1, 8))::BIGINT % 1000 AS loss_milli
  FROM (SELECT DISTINCT event_id % 27 AS trial_id FROM events)
),
r1 AS (
  SELECT trial_id FROM (
    SELECT trial_id, row_number() OVER (ORDER BY loss_milli, trial_id) AS rk FROM trials
  ) WHERE rk <= 9
),
r2 AS (
  SELECT t.trial_id FROM (
    SELECT t.trial_id, row_number() OVER (ORDER BY t.loss_milli, t.trial_id) AS rk
    FROM trials t JOIN r1 USING (trial_id)
  ) t WHERE rk <= 3
),
r3 AS (
  SELECT t.trial_id FROM (
    SELECT t.trial_id, row_number() OVER (ORDER BY t.loss_milli, t.trial_id) AS rk
    FROM trials t JOIN r2 USING (trial_id)
  ) t WHERE rk <= 1
)
SELECT t.trial_id, CAST(t.loss_milli AS BIGINT) AS loss_milli,
       CAST(CASE WHEN t.trial_id IN (SELECT trial_id FROM r3) THEN 3
            WHEN t.trial_id IN (SELECT trial_id FROM r2) THEN 2
            WHEN t.trial_id IN (SELECT trial_id FROM r1) THEN 1
            ELSE 0 END AS BIGINT) AS max_rung
FROM trials t
ORDER BY trial_id
"""

query("h7_asha_schedule", h7_asha_schedule, H7_SQL)


def d13_url_canonical_dupes(spark, sf_dir):
    """URL-canonicalization dedup — the crawl-frontier step that runs
    BEFORE any content dedup (two fetches of ?utm=...-decorated links are
    the same page): extract URLs (x7's corpus), canonicalize (lowercase
    scheme+host, strip query string and fragment, drop trailing slash),
    and report canonical URLs reached by >1 distinct raw form with the
    doc count. Pure codegen regex; groupBy carries canonical strings."""
    docs = load_table(spark, sf_dir, "documents")
    # decorate x7's synthetic URLs with uppercase-host / trailing-slash variants of the
    # SAME pages (query strings never survive URL_PATTERN extraction) so canonicalization has real collisions to find
    aug = _augment_urls(docs).withColumn(
        "text2",
        F.concat(
            F.col("text2"),
            F.when(
                F.col("doc_id") % 8 == 0,
                F.concat(
                    F.lit(" https://SITE"),
                    (F.col("doc_id") % 10).cast("string"),
                    F.lit(".EXAMPLE.ORG/p/"),
                    F.col("doc_id").cast("string"),
                    F.lit("/"),
                ),
            ).otherwise(F.lit("")),
        ),
    )
    urls = text.extract_urls(aug, "doc_id", "text2")
    canon = F.regexp_replace(
        F.regexp_replace(F.lower(F.col("url")), r"[?#].*$", ""),
        r"/$",
        "",
    )
    return (
        urls.select("doc_id", "url", canon.alias("canonical"))
        .groupBy("canonical")
        .agg(
            F.countDistinct("url").alias("n_raw_forms"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .filter(F.col("n_raw_forms") > 1)
        .orderBy("canonical")
    )


D13_SQL = r"""
WITH aug AS (
  SELECT doc_id,
         text ||
         CASE WHEN doc_id % 4 = 0 THEN ' see https://site' || CAST(doc_id % 10 AS VARCHAR) || '.example.org/p/' || CAST(doc_id AS VARCHAR) ELSE '' END ||
         CASE WHEN doc_id % 6 = 0 THEN ' https://cdn.example.net/img' || CAST(doc_id AS VARCHAR) ELSE '' END ||
         CASE WHEN doc_id % 8 = 0 THEN ' https://SITE' || CAST(doc_id % 10 AS VARCHAR) || '.EXAMPLE.ORG/p/' || CAST(doc_id AS VARCHAR) || '/' ELSE '' END AS text2
  FROM documents
),
urls AS (
  SELECT doc_id, unnest(regexp_extract_all(text2, 'https?://[A-Za-z0-9.-]+(/[A-Za-z0-9._~/%-]*)?')) AS url
  FROM aug
),
c AS (
  SELECT doc_id, url,
         regexp_replace(regexp_replace(lower(url), '[?#].*$', ''), '/$', '') AS canonical
  FROM urls
)
SELECT canonical, CAST(count(DISTINCT url) AS BIGINT) AS n_raw_forms,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
FROM c GROUP BY canonical HAVING count(DISTINCT url) > 1
ORDER BY canonical
"""

query("d13_url_canonical_dupes", d13_url_canonical_dupes, D13_SQL)


def ts4b_hll_registers(spark, sf_dir):
    """ORACLE-EXACT HLL rollup (r6 verdict #7): the md5-derived register
    sketch (operators/timeseries.hll_registers) built hourly and merged
    to daily via the max-combine union law — the same sketch DuckDB
    rebuilds in pure SQL, closing the evidence gap ts4's opaque
    DataSketches binaries cannot (ts4 stays rows-only for the native-HLL
    path; mergeability + estimate accuracy are pytest-pinned for both)."""
    from ..operators import timeseries as TS

    ev = load_table(spark, sf_dir, "events")
    hourly = TS.hll_registers(ev, "user_id", "ts", "event_type", p=6)
    return TS.hll_registers_rollup(hourly).orderBy("day", "event_type", "idx")


TS4B_SQL = """
WITH h AS (
  SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, event_type,
         md5(CAST(user_id AS VARCHAR)) AS hx
  FROM events
  WHERE user_id IS NOT NULL
),
v AS (
  SELECT day, event_type,
         list_reduce(list_transform(split(substr(hx, 1, 8), ''),
             c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),
           (a, x) -> a * 16 + x) % 64 AS idx,
         list_reduce(list_transform(split(substr(hx, 9, 15), ''),
             c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),
           (a, x) -> a * 16 + x) AS tail
  FROM h
)
SELECT day, event_type, idx,
       CAST(max(CASE WHEN tail = 0 THEN 61 ELSE 61 - length(bin(tail)) END) AS INTEGER) AS max_rho
FROM v GROUP BY day, event_type, idx
ORDER BY day, event_type, idx
"""

query("ts4b_hll_registers", ts4b_hll_registers, TS4B_SQL)


def pipe8_incremental_near_dup(spark, sf_dir):
    """Incremental NEAR-dup maintenance (dedup.minhash_probe_pairs):
    probe the NEW ingest batch (doc_id%4==0, pipe6's split) against the
    HISTORY corpus's LSH band index + signature sidecar — candidates only
    where batch and history meet in a band, never history×history. The
    at-scale counterpart of full-corpus d3: per-batch cost is
    |batch|·collisions. Same hash family/seed/threshold as d3, so the
    brute-force cross-split exact-Jaccard SQL is the oracle by d3's
    equivalence argument (every true pair here has J >= 0.93; a 16-band
    r=4 signature misses with P < 1e-9)."""
    from ..operators import dedup

    docs = load_table(spark, sf_dir, "documents")
    batch = docs.filter(F.col("doc_id") % 4 == 0)
    hist = docs.filter(F.col("doc_id") % 4 != 0)
    return dedup.minhash_probe_pairs(
        batch, hist, "doc_id", "text", threshold=0.6, shingle_size=5
    )


PIPE8_SQL = f"""
WITH sh AS (
  SELECT doc_id, {_SHINGLE_SQL} AS s FROM documents
)
SELECT a.doc_id AS new_id, b.doc_id AS hist_id,
       len(list_intersect(a.s, b.s)) / len(list_distinct(list_concat(a.s, b.s))) AS jaccard_sim
FROM sh a JOIN sh b ON a.doc_id % 4 = 0 AND b.doc_id % 4 <> 0
WHERE len(list_intersect(a.s, b.s)) / len(list_distinct(list_concat(a.s, b.s))) >= 0.6
ORDER BY new_id, hist_id
"""

query("pipe8_incremental_near_dup", pipe8_incremental_near_dup, PIPE8_SQL)


def pipe9_incremental_ann(spark, sf_dir):
    """Incremental ANN maintenance (round-7 verdict #6) — the embedding
    twin of pipe8: the new ingest batch (vec_id%4==0) probes a persisted
    IVF index over the history corpus (similarity.ivf_probe_pairs) for
    all cosine ≥ 0.4 pairs. Candidate cells come from EXACT angular
    triangle-inequality pruning (angle(q, centroid) − cell radius >
    arccos τ ⇒ cell provably empty of matches — the metric property, not
    a corpus-specific recall argument), exact Arrow-batched cosine verifies,
    so the brute-force cross-split SQL is an UNCONDITIONAL oracle. The
    near-dup family now has incremental paths at all three levels: exact
    (pipe6), MinHash (pipe8), embedding (pipe9). On this near-uniform
    synthetic corpus no cell is prunable at τ=0.4 (cell radii ≈ 1.4 rad)
    and the probe degenerates to the exact cross join; the planted-
    cluster pytest proves pruning engages when geometry allows."""
    from ..operators import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    batch = emb.filter(F.col("vec_id") % 4 == 0)
    hist = emb.filter(F.col("vec_id") % 4 != 0)
    return similarity.ivf_probe_pairs(
        batch, "vec_id", "embedding", threshold=0.4, hist_df=hist
    )


PIPE9_SQL = """
WITH n AS (
  SELECT vec_id, embedding,
    sqrt(list_reduce(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                     (x, y) -> x + y)) AS nrm
  FROM embeddings
), pairs AS (
  SELECT a.vec_id AS new_id, b.vec_id AS hist_id,
    round(list_reduce(list_transform(list_zip(a.embedding, b.embedding),
                                     p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)),
                      (x, y) -> x + y) / (a.nrm * b.nrm), 6) AS cosine_sim
  FROM n a JOIN n b ON a.vec_id % 4 = 0 AND b.vec_id % 4 <> 0
)
SELECT new_id, hist_id, cosine_sim FROM pairs WHERE cosine_sim >= 0.4
ORDER BY new_id, hist_id
"""

query("pipe9_incremental_ann", pipe9_incremental_ann, PIPE9_SQL)


def pipe12_adaptive_ann_exact(spark, sf_dir):
    """Driver-grade evidence for the adaptive ANN router's EXACT mode
    (round-9 verdict #4): a deterministic planted-cluster slice of the
    embeddings table where triangle-inequality pruning PROVABLY engages,
    so ivf_probe_pairs_adaptive routes to the lossless probe — and the
    brute-force cross-split SQL is an unconditional oracle, exactly as
    for pipe9 (which pins the opposite, degenerate regime on the raw
    near-uniform corpus).

    Planted geometry (the x6 grafting pattern): cluster c = (vec_id div
    4) % 4 — deliberately independent of the vec_id%4 batch/history
    split so every cluster spans both sides; coordinate c is REPLACED by
    1.0 and every other coordinate scaled by 2^-5. Both values are
    exactly float32-representable (1.0, and a power-of-two scale of a
    stored float32 is a pure exponent shift), so the float32 vectors the
    probe machinery stores and the float64 vectors DuckDB derives agree
    bit-for-bit — no representation gap anywhere. In-cluster cosines sit
    near 1, cross-cluster near 0 (coordinates bounded by 0.58·2^-5), so
    at τ=0.5 every cross-cluster cell is prunable with a wide margin and
    the router MUST pick mode='exact' — the function raises if it ever
    routes approx, turning a silent regime misread into a loud red row.

    Scale shape: identical to pipe9 — index build is one Arrow-batched
    assignment pass + a ≤ n_centroids-row radii aggregate; the probe
    ships each query only to its non-prunable cells (here: its own
    cluster's cells), so candidate pairs are Σ_c |batch_c|·|hist_c|, not
    |batch|·|hist|."""
    from ..operators import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    planted = emb.select(
        "vec_id",
        F.expr(
            "transform(embedding, (x, i) -> CAST(CASE WHEN i = CAST((vec_id div 4) % 4 AS INT)"
            " THEN 1.0 ELSE CAST(x AS DOUBLE) * 0.03125 END AS FLOAT))"
        ).alias("embedding"),
    )
    batch = planted.filter(F.col("vec_id") % 4 == 0)
    hist = planted.filter(F.col("vec_id") % 4 != 0)
    index = similarity.ivf_build_index(hist, "vec_id", "embedding", n_centroids=16)
    pairs, mode = similarity.ivf_probe_pairs_adaptive(
        batch, "vec_id", "embedding", index, threshold=0.5, n_probe=4
    )
    if mode != "exact":
        raise RuntimeError(
            f"pipe12 planted geometry must route exact, got {mode!r}"
        )
    return pairs


PIPE12_SQL = """
WITH p AS (
  SELECT vec_id,
    list_transform(embedding, (x, i) ->
      CASE WHEN i - 1 = (vec_id // 4) % 4
           THEN 1.0 ELSE CAST(x AS DOUBLE) * 0.03125 END) AS v
  FROM embeddings
), n AS (
  SELECT vec_id, v,
    sqrt(list_reduce(list_transform(v, x -> x * x), (x, y) -> x + y)) AS nrm
  FROM p
), pairs AS (
  SELECT a.vec_id AS new_id, b.vec_id AS hist_id,
    round(list_reduce(list_transform(list_zip(a.v, b.v),
                                     q -> q[1] * q[2]),
                      (x, y) -> x + y) / (a.nrm * b.nrm), 6) AS cosine_sim
  FROM n a JOIN n b ON a.vec_id % 4 = 0 AND b.vec_id % 4 <> 0
)
SELECT new_id, hist_id, cosine_sim FROM pairs WHERE cosine_sim >= 0.5
ORDER BY new_id, hist_id
"""

query("pipe12_adaptive_ann_exact", pipe12_adaptive_ann_exact, PIPE12_SQL)


def pipe10_budget_curation(spark, sf_dir):
    """Budget-aware corpus curation — the round-8 composition flagship,
    chaining this round's operators into ONE declarative plan: Gopher
    quality gate (x22's integer rules, scan-fused) → exact dedup
    (normalized-fingerprint keep-min-id window) → temperature-weighted
    token-budget allocation per source at a 1.0-epoch cap (mix2's
    machinery, so admit_ppm = epochs_ppm ≤ 10^6) → per-doc md5 admit
    draws decided by INTEGER cross-multiplication (hash48·10^6 <
    admit_ppm·2^48 — no float anywhere in the keep decision). Output:
    per-source kept doc/token counts + the admit rate.

    Shuffles: the fingerprint window, one tiny groupBy(source), the
    final per-source agg; rates broadcast back. The survivor frame is
    consumed twice (allocation pass + draw pass) and checkpointed once —
    its lineage includes the gopher feature extraction and the
    fingerprint window shuffle, which a re-evaluation would repeat
    (measured r13: the q23/mix4 pattern)."""
    docs = load_table(spark, sf_dir, "documents")
    surv = (
        curate.gated_keepers(docs, text.fingerprint_column("text"))
        .select("doc_id", "source", "n_words")
        # surv is 3 narrow columns/doc but its lineage re-runs the gopher
        # feature extraction + the fingerprint window shuffle; it is
        # consumed twice (allocation pass + draw pass). Lazy
        # localCheckpoint: the rates broadcast build materializes it, the
        # draw pass reads checkpointed rows (q23/mix4 pattern).
        .localCheckpoint(eager=False)
    )
    admitted, _ = curate.budget_admit(surv, 50_000, "bud1")
    return curate.admit_stats(admitted)


PIPE10_SQL = r"""
WITH feat AS (
  SELECT doc_id, source,
         md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp,
         CAST(len(toks) AS BIGINT) AS n_words,
         CAST(list_sum(list_transform(toks, t -> length(t))) AS BIGINT) AS swc,
         CAST(len(list_filter(toks, t -> regexp_matches(t, '[A-Za-z]'))) AS BIGINT) AS naw,
         CAST(len(list_intersect(list_distinct(list_transform(toks, t -> lower(t))),
              ['the','a','of','to','and','in','is','that','for','it'])) AS BIGINT) AS nsh
  FROM (SELECT doc_id, source, text,
               regexp_split_to_array(trim(text), '\s+') AS toks FROM documents)
),
kept AS (
  SELECT * FROM feat
  WHERE n_words BETWEEN 50 AND 100000
    AND swc >= 3 * n_words AND swc <= 10 * n_words
    AND naw * 100 >= 80 * n_words AND nsh >= 2
),
surv AS (
  SELECT doc_id, source, n_words FROM (
    SELECT *, min(doc_id) OVER (PARTITION BY fp) AS keeper FROM kept
  ) WHERE doc_id = keeper
),
g AS (
  -- source IS NOT NULL mirrors token_budget_allocation's NULL-group
  -- filter (round-8 ADVICE: a NULL-source survivor must not shift
  -- total_w and hence every source's admit_ppm)
  SELECT source, CAST(sum(n_words) AS BIGINT) AS t_tokens FROM surv
  WHERE source IS NOT NULL GROUP BY source
),
w AS (
  SELECT *, CAST(floor(1024 * sqrt(CAST(t_tokens AS DOUBLE))) AS BIGINT) AS wq FROM g
),
tw AS (SELECT CAST(sum(wq) AS BIGINT) AS total_w FROM w),
rates AS (
  SELECT source,
         CAST((CAST(1000000 AS HUGEINT) *
               least(CAST((CAST(50000 AS HUGEINT) * wq) // total_w AS BIGINT),
                     CAST((CAST(1024 AS HUGEINT) * t_tokens) // 1024 AS BIGINT)))
              // t_tokens AS BIGINT) AS admit_ppm
  FROM w CROSS JOIN tw
)
SELECT s.source, CAST(count(*) AS BIGINT) AS n_docs_kept,
       CAST(sum(s.n_words) AS BIGINT) AS n_tokens_kept,
       CAST(min(r.admit_ppm) AS BIGINT) AS admit_ppm
FROM surv s JOIN rates r ON s.source = r.source
WHERE CAST(('0x' || substr(md5('bud1|' || CAST(s.doc_id AS VARCHAR)), 1, 12))::BIGINT
           AS HUGEINT) * 1000000
      < CAST(r.admit_ppm AS HUGEINT) * 281474976710656
GROUP BY s.source ORDER BY s.source
"""

query("pipe10_budget_curation", pipe10_budget_curation, PIPE10_SQL)


def ts11_quantile_sketch(spark, sf_dir):
    """Distributed quantiles from a MERGEABLE histogram sketch
    (timeseries.histogram_sketch → histogram_merge → histogram_quantiles):
    daily per-event-type fixed-width histograms (bin = floor(value/10)),
    merged to calendar weeks by summing counts — the quantile member of
    the sketch-rollup family (HLL = distinct ts4b, Count-Min = frequency
    ts7, histogram = quantiles), one pass over facts and O(groups × bins)
    state instead of exact percentile's global sort. P50/P90/P99 are
    reported as integer upper bin edges (x100), decided by integer
    cross-multiplication (cum·100 ≥ q·total) — engine-exact; the oracle
    computes weekly histograms directly, which equals the day→week merge
    because counts are additive (the mergeability property itself)."""
    from ..operators import timeseries as TS

    ev = load_table(spark, sf_dir, "events")
    daily = TS.histogram_sketch(
        ev, "ts", "event_type", "value", bin_width=10.0, bucket="day"
    )
    weekly = TS.histogram_merge(daily, "event_type", to_bucket="week")
    return TS.histogram_quantiles(
        weekly, ["event_type", "bucket"], qs_x100=(50, 90, 99), bin_width_x100=1000
    ).orderBy("event_type", "bucket")


TS11_SQL = """
WITH h AS (
  SELECT event_type, CAST(date_trunc('week', ts) AS DATE) AS bucket,
         CAST(floor(value / 10.0) AS BIGINT) AS bin, count(*) AS n
  FROM events WHERE value IS NOT NULL GROUP BY 1, 2, 3
),
c AS (
  SELECT event_type, bucket, bin,
         CAST(sum(n) OVER (PARTITION BY event_type, bucket ORDER BY bin) AS BIGINT) AS cum,
         CAST(sum(n) OVER (PARTITION BY event_type, bucket) AS BIGINT) AS total
  FROM h
)
SELECT event_type, bucket,
       CAST(min(CASE WHEN cum * 100 >= 50 * total THEN (bin + 1) * 1000 END) AS BIGINT) AS p50_edge_x100,
       CAST(min(CASE WHEN cum * 100 >= 90 * total THEN (bin + 1) * 1000 END) AS BIGINT) AS p90_edge_x100,
       CAST(min(CASE WHEN cum * 100 >= 99 * total THEN (bin + 1) * 1000 END) AS BIGINT) AS p99_edge_x100,
       CAST(max(total) AS BIGINT) AS n_events,
       CAST(count(*) AS BIGINT) AS n_bins
FROM c GROUP BY 1, 2 ORDER BY event_type, bucket
"""

query("ts11_quantile_sketch", ts11_quantile_sketch, TS11_SQL)


def t14_rolling_origin(spark, sf_dir):
    """Rolling-origin (expanding-window) time-series CV audit
    (split.rolling_origin_assign, 5 slices over events): per slice its
    row count, exact epoch-second span (max of slice k < min of slice
    k+1 proves the no-leakage ordering), and n_train — the expanding
    train-set size a fold validating on this slice would use. Slice
    assignment is exact integer arithmetic over unix_micros-derived
    epoch seconds with the corpus bounds broadcast from a 1-row
    aggregate; the n_train cumulative runs over ≤ n_slices rows (the
    dq4 bounded-input exemption for the unpartitioned window)."""
    ev = load_table(spark, sf_dir, "events")
    assigned = split.rolling_origin_assign(ev, "ts", n_slices=5)
    sec = F.expr("unix_micros(ts) div 1000000")
    per_slice = assigned.groupBy("slice").agg(
        F.count(F.lit(1)).alias("n"),
        F.min(sec).cast("long").alias("min_epoch_s"),
        F.max(sec).cast("long").alias("max_epoch_s"),
    )
    w_prior = (
        Window.orderBy("slice").rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        per_slice.withColumn(
            "n_train", F.coalesce(F.sum("n").over(w_prior), F.lit(0)).cast("long")
        )
        .orderBy("slice")
    )


T14_SQL = """
WITH b AS (
  SELECT CAST(min(epoch_us(ts) // 1000000) AS BIGINT) AS lo,
         CAST(max(epoch_us(ts) // 1000000) AS BIGINT) AS hi
  FROM events
),
a AS (
  SELECT ((epoch_us(ts) // 1000000 - lo) * 5) // (hi - lo + 1) AS slice,
         epoch_us(ts) // 1000000 AS es
  FROM events CROSS JOIN b
),
s AS (
  SELECT CAST(slice AS BIGINT) AS slice, CAST(count(*) AS BIGINT) AS n,
         CAST(min(es) AS BIGINT) AS min_epoch_s, CAST(max(es) AS BIGINT) AS max_epoch_s
  FROM a GROUP BY slice
)
SELECT slice, n, min_epoch_s, max_epoch_s,
       CAST(coalesce(sum(n) OVER (ORDER BY slice
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                     0) AS BIGINT) AS n_train
FROM s ORDER BY slice
"""

query("t14_rolling_origin", t14_rolling_origin, T14_SQL)


def d17_tile_dedup_rewrite(spark, sf_dir):
    """Exact-substring dedup WITH document rewrite at 8-token tile
    granularity (dedup.tile_dedup_rewrite — the Lee-et-al./MassiveText
    family's destructive step, vs d10's detection-only span stats): every
    distinct tile keeps its first corpus occurrence, documents are
    reassembled from surviving tiles in original order, fully-duplicated
    documents vanish. Row-local tile build (no token explode), one
    keep-first window partitioned BY TILE TEXT, one per-doc rebuild agg —
    two high-cardinality shuffles, nothing global. String+integer ops
    only, so the DuckDB replay is exact (incl. the rebuilt text)."""
    from ..operators import dedup

    docs = load_table(spark, sf_dir, "documents")
    return dedup.tile_dedup_rewrite(docs, "doc_id", "text", tile_words=8).orderBy(
        "doc_id"
    )


D17_SQL = r"""
WITH base AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS arr FROM documents
),
toks AS (
  SELECT doc_id, unnest(arr) AS tok, generate_subscripts(arr, 1) AS ord FROM base
),
tiles AS (
  SELECT doc_id, CAST((ord - 1) // 8 AS INTEGER) AS tile_idx,
         string_agg(tok, ' ' ORDER BY ord) AS tile_text
  FROM toks GROUP BY doc_id, (ord - 1) // 8
),
kept AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY tile_text ORDER BY doc_id, tile_idx) AS rn
    FROM tiles
  ) WHERE rn = 1
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tiles_kept,
       string_agg(tile_text, ' ' ORDER BY tile_idx) AS rewritten_text
FROM kept GROUP BY doc_id ORDER BY doc_id
"""

query("d17_tile_dedup_rewrite", d17_tile_dedup_rewrite, D17_SQL)


def pipe11_incremental_curation(spark, sf_dir):
    """Round-9 composition flagship — the INCREMENTAL sibling of pipe10:
    the nightly-batch curation a production corpus actually runs. The NEW
    batch (doc_id%4==0, pipe6's split) goes through the Gopher quality
    gate (x22's scan-fused integer rules) → exact dedup BOTH within the
    batch (keep-min window on the normalized prefix-8 fingerprint) AND
    against the HISTORY fingerprint store (left ANTI join — history ships
    16-byte fps only, never text, exactly pipe6's contract) → per-source
    token-budget admission at a 3000-token batch budget (mix2's integer
    machinery, 1.0-epoch cap) → integer md5 admit draws (hash48·10^6 <
    admit_ppm·2^48 — no float in any keep decision). Output: per-source
    kept doc/token counts + admit rate.

    Scale: the gate and fingerprints fuse into the batch scan; the
    history probe is an anti equi-join on the hash (broadcast when the
    batch is small); the budget table is |sources| rows. The survivor
    frame is consumed twice (allocation pass + draw pass) and
    checkpointed once — without it the history-fingerprint distinct and
    the anti-join ran twice per query (measured r13: the q23/mix4
    pattern). Per-batch cost is O(|batch|) + the probe — the full corpus
    is never re-curated. Composition of oracled primitives (x22 + pipe6 +
    mix2 + pipe10's draw), so the chain is fully oracled."""
    docs = load_table(spark, sf_dir, "documents")
    fp = text.prefix_fingerprint_column("text")
    hist = docs.filter(F.col("doc_id") % 4 != 0).select(fp.alias("fp")).distinct()
    batch = docs.filter(
        (F.col("doc_id") % 4 == 0) & F.col("source").isNotNull()
    )
    surv = (
        curate.gated_keepers(batch, fp)
        .join(hist, "fp", "left_anti")
        .select("doc_id", "source", "n_words")
        # same double-consumption as pipe10, and here the lineage ALSO
        # contains the history-fingerprint distinct + anti-join — without
        # the checkpoint the full history scan ran twice per query
        .localCheckpoint(eager=False)
    )
    admitted, _ = curate.budget_admit(surv, 3000, "bud2")
    return curate.admit_stats(admitted)


PIPE11_SQL = r"""
WITH hist AS (
  SELECT DISTINCT md5(array_to_string(regexp_split_to_array(trim(text), '\s+')[1:8], ' ')) AS fp
  FROM documents WHERE doc_id % 4 <> 0
),
feat AS (
  SELECT doc_id, source,
         md5(array_to_string(toks[1:8], ' ')) AS fp,
         CAST(len(toks) AS BIGINT) AS n_words,
         CAST(list_sum(list_transform(toks, t -> length(t))) AS BIGINT) AS swc,
         CAST(len(list_filter(toks, t -> regexp_matches(t, '[A-Za-z]'))) AS BIGINT) AS naw,
         CAST(len(list_intersect(list_distinct(list_transform(toks, t -> lower(t))),
              ['the','a','of','to','and','in','is','that','for','it'])) AS BIGINT) AS nsh
  FROM (SELECT doc_id, source, text,
               regexp_split_to_array(trim(text), '\s+') AS toks FROM documents
        WHERE doc_id % 4 = 0)
),
kept AS (
  SELECT * FROM feat
  WHERE source IS NOT NULL
    AND n_words BETWEEN 50 AND 100000
    AND swc >= 3 * n_words AND swc <= 10 * n_words
    AND naw * 100 >= 80 * n_words AND nsh >= 2
),
surv AS (
  SELECT doc_id, source, n_words FROM (
    SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn FROM kept
  ) k WHERE rn = 1 AND NOT EXISTS (SELECT 1 FROM hist h WHERE h.fp = k.fp)
),
g AS (
  SELECT source, CAST(sum(n_words) AS BIGINT) AS t_tokens FROM surv GROUP BY source
),
w AS (
  SELECT *, CAST(floor(1024 * sqrt(CAST(t_tokens AS DOUBLE))) AS BIGINT) AS wq FROM g
),
tw AS (SELECT CAST(sum(wq) AS BIGINT) AS total_w FROM w),
rates AS (
  SELECT source,
         CAST((CAST(1000000 AS HUGEINT) *
               least(CAST((CAST(3000 AS HUGEINT) * wq) // total_w AS BIGINT),
                     CAST((CAST(1024 AS HUGEINT) * t_tokens) // 1024 AS BIGINT)))
              // t_tokens AS BIGINT) AS admit_ppm
  FROM w CROSS JOIN tw
)
SELECT s.source, CAST(count(*) AS BIGINT) AS n_docs_kept,
       CAST(sum(s.n_words) AS BIGINT) AS n_tokens_kept,
       CAST(min(r.admit_ppm) AS BIGINT) AS admit_ppm
FROM surv s JOIN rates r ON s.source = r.source
WHERE CAST(('0x' || substr(md5('bud2|' || CAST(s.doc_id AS VARCHAR)), 1, 12))::BIGINT
           AS HUGEINT) * 1000000
      < CAST(r.admit_ppm AS HUGEINT) * 281474976710656
GROUP BY s.source ORDER BY s.source
"""

query("pipe11_incremental_curation", pipe11_incremental_curation, PIPE11_SQL)


def mix3_epoch_expansion(spark, sf_dir):
    """Materialize the mix2 allocation as the REPEATED-document training
    stream a pretraining job actually consumes (the LLaMA-style 'epochs
    over source' schedule made concrete): per source, every document
    repeats floor(epochs_ppm / 10^6) times, plus ONE extra copy admitted
    by the integer md5 draw against the fractional part (hash48·10^6 <
    frac_ppm·2^48) — so each source's expected token volume equals its
    alloc_tokens and every copy decision is engine-replayable integer
    arithmetic (no float anywhere). Output: (doc_id, source, copy_idx),
    copy_idx 1-based.

    Scale shape: rates are mix2's one map-side-combined groupBy to
    |sources| rows broadcast back; the expansion is a ROW-LOCAL
    explode(sequence) with fan-out bounded by the repetition cap
    (max_epochs_x1024 div 1024 + 1 copies) — no shuffle beyond the
    broadcast, fuses with the scan. 40k-token budget at a 2.0-epoch cap
    makes the fractional branch live at every SF (per-source epochs
    straddle 1.0)."""
    docs = load_table(spark, sf_dir, "documents")
    staged = docs.select(
        "doc_id", "source",
        F.size(text.tokens("text")).cast("long").alias("n_ws_tokens"),
    )
    rates = split.token_budget_allocation(
        staged, "source", "n_ws_tokens", budget_tokens=40_000,
        max_epochs_x1024=2048,
    ).select("source", "epochs_ppm")
    frac = F.col("epochs_ppm") % 1_000_000
    extra = (
        F.expr(
            "CAST(conv(substring(md5(concat_ws('|', 'mix3',"
            " CAST(doc_id AS STRING))), 1, 12), 16, 10) AS DECIMAL(38,0))"
            " * 1000000"
        )
        < frac.cast("decimal(38,0)") * F.lit(281474976710656).cast("decimal(38,0)")
    ).cast("long")
    # INTEGER division (house discipline): float-div-then-cast is exact
    # here only because ppm <= 2e6 keeps the quotient far from a double
    # boundary — div never depends on that argument
    n_copies = F.expr("epochs_ppm div 1000000") + extra
    return (
        staged.join(F.broadcast(rates), "source")
        .withColumn("__n", n_copies)
        .filter(F.col("__n") >= 1)
        .select(
            "doc_id",
            "source",
            F.explode(F.sequence(F.lit(1), F.col("__n").cast("int"))).alias(
                "copy_idx"
            ),
        )
        .orderBy("doc_id", "copy_idx")
    )


MIX3_SQL = r"""
WITH tok AS (
  SELECT doc_id, source, len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens
  FROM documents WHERE source IS NOT NULL
), g AS (
  SELECT source, CAST(sum(n_tokens) AS BIGINT) AS n_tokens
  FROM tok GROUP BY source HAVING CAST(sum(n_tokens) AS BIGINT) > 0
), w AS (
  SELECT *, CAST(floor(1024 * sqrt(CAST(n_tokens AS DOUBLE))) AS BIGINT) AS weight_q
  FROM g
), tw AS (SELECT CAST(sum(weight_q) AS BIGINT) AS total_w FROM w),
rates AS (
  SELECT source,
         CAST((CAST(1000000 AS HUGEINT) *
               least(CAST((CAST(40000 AS HUGEINT) * weight_q) // total_w AS BIGINT),
                     CAST((CAST(2048 AS HUGEINT) * n_tokens) // 1024 AS BIGINT)))
              // n_tokens AS BIGINT) AS epochs_ppm
  FROM w CROSS JOIN tw
),
expanded AS (
  SELECT t.doc_id, t.source,
         (r.epochs_ppm // 1000000)
         + CASE WHEN CAST(('0x' || substr(md5('mix3|' || CAST(t.doc_id AS VARCHAR)), 1, 12))::BIGINT
                     AS HUGEINT) * 1000000
                     < CAST(r.epochs_ppm % 1000000 AS HUGEINT) * 281474976710656
                THEN 1 ELSE 0 END AS n_copies
  FROM tok t JOIN rates r ON t.source = r.source
)
SELECT doc_id, source, CAST(unnest(range(1, n_copies + 1)) AS BIGINT) AS copy_idx
FROM expanded WHERE n_copies >= 1
ORDER BY doc_id, copy_idx
"""

query("mix3_epoch_expansion", mix3_epoch_expansion, MIX3_SQL)


def mix4_waterfill(spark, sf_dir):
    """Water-filling token-budget mixture (operators/split.
    token_budget_waterfill — round-9 verdict #3's oracle ask): the
    LLaMA-style EXACT mixture where clipped surplus is redistributed —
    share = R·w div W over the uncapped set, remainder by LARGEST
    REMAINDER (mod desc, str(group) asc), any group pushed past its
    1.0-epoch cap frozen at the cap, loop repeats on the residual
    budget until no group overflows — so Σ alloc_tokens == budget
    exactly whenever Σ caps ≥ budget. Groups are log2 document-length
    buckets (len_bucket = bit_length(n_ws_tokens) − 1 — PURE INTEGER
    via length(bin(n)), engine-exact by construction, no float log),
    whose token sums are skewed enough that the cascade genuinely
    engages at every SF (the smallest bucket's proportional share
    overshoots its cap and freezes; at sf0.01 a SECOND bucket freezes
    only in round 2, exercising the iterative refreeze). Budget =
    total_tokens div 2, derived from the data so the freeze geometry is
    scale-invariant.

    The oracle replays the integer loop as a DuckDB RECURSIVE CTE
    carrying (frozen list, residual budget) single-row state — the
    pack1 pattern extended with list lambdas for the largest-remainder
    rank (correlated windows are unsupported in recursion).

    Scale shape: ONE map-side-combined groupBy over the fact table to
    ≤|buckets| rows + a 1-row total aggregate; the freeze loop is
    driver-side integer arithmetic over that handful of rows
    (≤|groups| rounds of O(|groups| log |groups|)) — trivial at any
    corpus size."""
    docs = load_table(spark, sf_dir, "documents")
    staged = (
        docs.select(F.size(text.tokens("text")).cast("long").alias("n_ws_tokens"))
        .filter(F.col("n_ws_tokens") > 0)
        .select(
            (F.length(F.bin(F.col("n_ws_tokens"))) - 1)
            .cast("long")
            .alias("len_bucket"),
            "n_ws_tokens",
        )
        # staged is 16 B/doc (two longs) but its lineage tokenizes every
        # document; it is consumed twice (the budget scalar below, then
        # token_budget_allocation's groupBy). Lazy localCheckpoint: the
        # total agg materializes it, the groupBy reads checkpointed rows —
        # ONE tokenize pass instead of two (same pattern as q23/q24).
        .localCheckpoint(eager=False)
    )
    total = staged.agg(F.sum("n_ws_tokens")).collect()[0][0]
    return split.token_budget_waterfill(
        staged, "len_bucket", "n_ws_tokens",
        budget_tokens=int(total) // 2, max_epochs_x1024=1024,
    ).orderBy("len_bucket")


MIX4_SQL = r"""
WITH RECURSIVE
tok AS (
  SELECT length(bin(nw)) - 1 AS len_bucket, nw
  FROM (SELECT len(regexp_split_to_array(trim(text), '\s+')) AS nw FROM documents)
  WHERE nw IS NOT NULL AND nw > 0
),
g AS (
  SELECT len_bucket, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(nw) AS BIGINT) AS n_tokens,
         CAST(floor(1024 * sqrt(CAST(sum(nw) AS DOUBLE))) AS BIGINT) AS weight_q,
         CAST((CAST(1024 AS HUGEINT) * sum(nw)) // 1024 AS BIGINT) AS cap_tokens
  FROM tok GROUP BY len_bucket HAVING CAST(sum(nw) AS BIGINT) > 0
),
bud AS (SELECT CAST(sum(nw) // 2 AS BIGINT) AS b0 FROM tok),
-- single-row state recursion: (frozen buckets, residual budget, provisional
-- shares, done). Each round computes exact-integer proportional shares with
-- largest-remainder top-up over the ACTIVE set via list lambdas, freezes
-- every over-cap group at its cap, and repeats on the residual budget.
step(iter, frozen, budget_left, shares, done) AS (
  SELECT 0, CAST([] AS BIGINT[]), (SELECT b0 FROM bud),
         CAST([] AS STRUCT(b BIGINT, cap BIGINT, share BIGINT)[]), false
  UNION ALL
  SELECT iter + 1,
         list_concat(frozen, list_transform(over_l, o -> o.b)),
         budget_left - coalesce(CAST(list_sum(list_transform(over_l, o -> o.cap)) AS BIGINT), 0),
         shares_l,
         len(over_l) = 0
  FROM (
    SELECT *, list_filter(shares_l, a -> a.share > a.cap) AS over_l
    FROM (
      SELECT *,
        list_transform(act, a -> struct_pack(
          b := a.b, cap := a.cap,
          share := CAST((CAST(budget_left AS HUGEINT) * a.w) // wtot AS BIGINT)
            + CASE WHEN
                len(list_filter(act, z ->
                  (CAST(budget_left AS HUGEINT) * z.w) % wtot > (CAST(budget_left AS HUGEINT) * a.w) % wtot
                  OR ((CAST(budget_left AS HUGEINT) * z.w) % wtot = (CAST(budget_left AS HUGEINT) * a.w) % wtot
                      AND CAST(z.b AS VARCHAR) < CAST(a.b AS VARCHAR)))) + 1
                <= budget_left - CAST(list_sum(list_transform(act, z ->
                     CAST((CAST(budget_left AS HUGEINT) * z.w) // wtot AS BIGINT))) AS BIGINT)
              THEN 1 ELSE 0 END)) AS shares_l
      FROM (
        SELECT iter, frozen, budget_left, act,
               CAST(list_sum(list_transform(act, a -> a.w)) AS HUGEINT) AS wtot
        FROM (
          SELECT s.iter, s.frozen, s.budget_left,
                 (SELECT coalesce(list(struct_pack(b := x.len_bucket, w := x.weight_q, cap := x.cap_tokens)
                                       ORDER BY x.len_bucket), [])
                  FROM g x WHERE NOT list_contains(s.frozen, x.len_bucket)) AS act
          FROM step s WHERE NOT s.done AND s.budget_left > 0
        ) WHERE len(act) > 0
      )
    )
  )
),
last AS (SELECT * FROM step ORDER BY iter DESC LIMIT 1)
SELECT g.len_bucket, g.n_docs, g.n_tokens, g.weight_q,
  CASE WHEN list_contains(l.frozen, g.len_bucket) THEN g.cap_tokens
       WHEN l.done THEN list_filter(l.shares, a -> a.b = g.len_bucket)[1].share
       ELSE 0 END AS alloc_tokens,
  CAST((CAST(1000000 AS HUGEINT) *
        CASE WHEN list_contains(l.frozen, g.len_bucket) THEN g.cap_tokens
             WHEN l.done THEN list_filter(l.shares, a -> a.b = g.len_bucket)[1].share
             ELSE 0 END) // g.n_tokens AS BIGINT) AS epochs_ppm,
  list_contains(l.frozen, g.len_bucket) AS clipped
FROM g CROSS JOIN last l
ORDER BY g.len_bucket
"""

query("mix4_waterfill", mix4_waterfill, MIX4_SQL)


def mix5_dsir_selection(spark, sf_dir):
    """DSIR data selection (Xie et al., NeurIPS 2023) — the mixture
    family's importance-resampling member: score every document in the
    raw pool (source NOT IN the curated set) by how much its hashed
    word-bigram distribution resembles the curated target sources, and
    keep the top 100 by length-normalized importance weight.

    Engine-exact by construction (no reference counterpart — LLM
    -extension surface): bucket = md5-hash of the bigram mod 256 (md5 so
    DuckDB reproduces the ids); per-bucket weight is the INTEGER
    surrogate ((t+1)*65536) div (r+1) of the add-one-smoothed likelihood
    ratio — monotone in the true ratio, no log/float anywhere; a doc's
    score is the BIGINT sum of its bigram weights, ranked by the
    div-truncated per-bigram average (total-sum ranking would be
    length-biased), ties broken by doc_id.

    Scale shape: BOTH bucket distributions come from ONE scan + ONE
    map-side-combined aggregate (dsir_bucket_weights_from_flag — target
    and raw are a boolean split of the same table, so a conditional agg
    replaces two scans + a join); the weight table is a ≤256-row
    broadcast dim; the per-doc agg combines map-side; the final top-k is
    TakeOrderedAndProject (per-partition top-k + k-row driver merge),
    never a global sort. Zero-bigram docs (<2 alnum tokens — e.g. pure
    CJK text under the [a-z0-9] tokenizer) are unscorable and excluded,
    mirrored in the oracle."""
    from ..operators import text

    docs = load_table(spark, sf_dir, "documents")
    is_target = F.col("source").isin(*curate.DSIR_TARGET_SOURCES)
    weights = text.dsir_bucket_weights_from_flag(docs, is_target, "text")
    return (
        text.dsir_scores(
            docs.filter(~is_target),
            "doc_id",
            "text",
            weights,
            carry_cols=("source", "lang"),
        )
        .orderBy(F.col("dsir_score_q").desc(), "doc_id")
        .limit(100)
    )


_DSIR_TGT_SQL = str(curate.DSIR_TARGET_SOURCES)

MIX5_SQL = f"""
WITH tk AS (
  SELECT doc_id, source, lang,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                     t -> t <> '') AS toks
  FROM documents
), bg AS (
  SELECT doc_id, source, lang,
         CASE WHEN len(toks) >= 2
              THEN list_transform(range(1, len(toks)),
                                  i -> toks[i] || ' ' || toks[i + 1])
              ELSE [] END AS bgs
  FROM tk
), ex AS (
  SELECT doc_id, source, lang,
         ('0x' || substr(md5(unnest(bgs)), 1, 8))::BIGINT % 256 AS bucket
  FROM bg
), t AS (
  SELECT bucket, count(*) AS t_count FROM ex
  WHERE source IN {_DSIR_TGT_SQL} GROUP BY bucket
), r AS (
  SELECT bucket, count(*) AS r_count FROM ex
  WHERE source NOT IN {_DSIR_TGT_SQL} GROUP BY bucket
), w AS (
  SELECT r.bucket,
         (COALESCE(t.t_count, 0) + 1) * 65536 // (r.r_count + 1) AS weight
  FROM r LEFT JOIN t USING (bucket)
), s AS (
  SELECT e.doc_id, e.source, e.lang,
         CAST(count(*) AS BIGINT) AS n_bigrams,
         CAST(sum(w.weight) AS BIGINT) AS dsir_score
  FROM ex e JOIN w USING (bucket)
  WHERE e.source NOT IN {_DSIR_TGT_SQL}
  GROUP BY e.doc_id, e.source, e.lang
)
SELECT doc_id, source, lang, n_bigrams, dsir_score,
       dsir_score // n_bigrams AS dsir_score_q
FROM s
ORDER BY dsir_score_q DESC, doc_id
LIMIT 100
"""

query("mix5_dsir_selection", mix5_dsir_selection, MIX5_SQL)


def pipe13_dsir_curation(spark, sf_dir):
    """DSIR-curated corpus composition — the declarative, ORACLED twin of
    `tools/run_curation_pipeline.py --dsir-frac 0.5` (the runner path is
    pinned by a pytest cross-check; this row gives the composed stage
    driver-grade evidence, the pipe10 ↔ runner pattern): Gopher gate →
    exact dedup (keep-min-id, NULL-source filter AFTER the keeper window,
    runner parity) → DSIR selection of the top HALF of the raw pool by
    integer importance weight vs the curated sources → token-budget
    allocation at a 1.0-epoch cap → integer md5 admit draws (the
    runner's 'bud1' salt, so stats match curate(dsir_frac=0.5) exactly) → per-source kept counts + admit rate.

    The half-pool cut is decided by integer cross-multiplication over a
    DISTRIBUTED two-level rank (metrics.two_level_rank, the a13 pattern;
    round-10 verdict #3 — the earlier global rank window funneled the
    whole per-doc scored frame through one WindowExec partition): keep
    global rank r where 2·r ≤ n_pool + 1 (= ceil(n/2), no float, no
    driver count — this is the declarative form; the runner uses
    TakeOrderedAndProject with a driver-computed k). Level 1 is
    row_number partitioned by (score, id-range bucket) — the round-12
    hot-score fix: the div-truncated integer weight average can collapse
    onto a handful of values on a homogeneous corpus, which would put
    the whole pool in ONE score partition; the order-preserving doc_id
    range bucket (bounds from a column-pruned scan of the raw documents
    table, a superset of the pool) splits a hot score B ways WITHOUT
    changing the (score desc, doc_id asc) total order, so
    offset + within-cell row_number still equals
    rank() over (score desc, doc_id) exactly and the oracle SQL keeps
    the single-window form and hash-matches. Level 2's only
    unpartitioned window runs over the (score, bucket) cell frame
    (≤ |distinct scores|·B rows), never over |pool docs|. Weight
    building is the single-scan conditional aggregate
    (dsir_bucket_weights_from_flag) over the survivor frame.

    Round-13 (optimization): the frames referenced by more than one
    downstream consumer — surv (weights + scored + the target half of
    admitted_pop) and admitted_pop (budget rates + the final admit
    join) — are localCheckpoint(eager=False)-materialized here; the
    scored rank input is materialized INSIDE two_level_rank (which reads
    it for level-1 rows AND the cell frame) since round 13.
    Without this the composed plan re-derived the gopher+keeper survivor
    subtree once per reference (40 parquet scans of documents in ONE
    plan, no ReusedExchange across the differing consumers); with it each
    stage computes once per execution (guide §5: reuse + recompute-cost
    rule; nothing persists across invocations — the checkpoint lives and
    dies inside a single run). Measured 5.04→3.18 s min-of-5 alternating
    A/B at sf0.1, identical output."""
    from ..operators import text as TX

    docs = load_table(spark, sf_dir, "documents")
    # the NULL-source filter runs AFTER the keeper window: the rank-1 row
    # IS the min-doc_id keeper, and only then is its source checked
    surv = (
        curate.gated_keepers(docs, text.fingerprint_column("text"))
        .filter(F.col("source").isNotNull())
        .select("doc_id", "source", "text", "n_words")
        .localCheckpoint(eager=False)
    )
    is_target = F.col("source").isin(*curate.DSIR_TARGET_SOURCES)
    weights = TX.dsir_bucket_weights_from_flag(surv, is_target, "text")
    scored = TX.dsir_scores(
        surv.filter(~is_target),
        "doc_id",
        "text",
        weights,
        carry_cols=("source", "n_words"),
    )
    id_bounds = docs.agg(
        F.min("doc_id").alias("__lo"), F.max("doc_id").alias("__hi")
    )
    sel = (
        M.two_level_rank(
            scored.select(
                "doc_id",
                "source",
                "n_words",
                F.col("dsir_score_q").alias("s"),
            ),
            "s",
            "doc_id",
            id_bounds=id_bounds,
        )
        .filter(F.col("pos") * 2 <= F.col("n_total") + 1)
        .select("doc_id", "source", "n_words")
    )
    admitted_pop = (
        surv.filter(is_target).select("doc_id", "source", "n_words")
        .unionByName(sel)
        .localCheckpoint(eager=False)
    )
    admitted, _ = curate.budget_admit(admitted_pop, 5_000, "bud1")
    return curate.admit_stats(admitted)


PIPE13_SQL = rf"""
WITH feat AS (
  SELECT doc_id, source, text,
         md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp,
         CAST(len(toks) AS BIGINT) AS n_words,
         CAST(list_sum(list_transform(toks, t -> length(t))) AS BIGINT) AS swc,
         CAST(len(list_filter(toks, t -> regexp_matches(t, '[A-Za-z]'))) AS BIGINT) AS naw,
         CAST(len(list_intersect(list_distinct(list_transform(toks, t -> lower(t))),
              ['the','a','of','to','and','in','is','that','for','it'])) AS BIGINT) AS nsh
  FROM (SELECT doc_id, source, text,
               regexp_split_to_array(trim(text), '\s+') AS toks FROM documents)
),
kept AS (
  SELECT * FROM feat
  WHERE n_words BETWEEN 50 AND 100000
    AND swc >= 3 * n_words AND swc <= 10 * n_words
    AND naw * 100 >= 80 * n_words AND nsh >= 2
),
surv AS (
  SELECT doc_id, source, text, n_words FROM (
    SELECT *, min(doc_id) OVER (PARTITION BY fp) AS keeper FROM kept
  ) WHERE doc_id = keeper AND source IS NOT NULL
),
tk AS (
  SELECT doc_id, source, n_words,
         source IN {_DSIR_TGT_SQL} AS is_tgt,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                     t -> t <> '') AS toks
  FROM surv
),
bg AS (
  SELECT doc_id, source, n_words, is_tgt,
         CASE WHEN len(toks) >= 2
              THEN list_transform(range(1, len(toks)),
                                  i -> toks[i] || ' ' || toks[i + 1])
              ELSE [] END AS bgs
  FROM tk
),
ex AS (
  SELECT doc_id, source, n_words, is_tgt,
         ('0x' || substr(md5(unnest(bgs)), 1, 8))::BIGINT % 256 AS bucket
  FROM bg
),
wtbl AS (
  SELECT bucket,
         (sum(CASE WHEN is_tgt THEN 1 ELSE 0 END) + 1) * 65536
           // (sum(CASE WHEN NOT is_tgt THEN 1 ELSE 0 END) + 1) AS weight
  FROM ex GROUP BY bucket
  HAVING sum(CASE WHEN NOT is_tgt THEN 1 ELSE 0 END) > 0
),
scored AS (
  SELECT e.doc_id, e.source, e.n_words,
         CAST(count(*) AS BIGINT) AS nb,
         CAST(sum(w.weight) AS BIGINT) AS sc
  FROM ex e JOIN wtbl w USING (bucket)
  WHERE NOT e.is_tgt
  GROUP BY e.doc_id, e.source, e.n_words
),
ranked AS (
  SELECT doc_id, source, n_words,
         rank() OVER (ORDER BY sc // nb DESC, doc_id) AS rk,
         count(*) OVER () AS np
  FROM scored
),
admitted_pop AS (
  SELECT doc_id, source, n_words FROM tk WHERE is_tgt
  UNION ALL
  SELECT doc_id, source, n_words FROM ranked WHERE 2 * rk <= np + 1
),
g AS (
  SELECT source, CAST(sum(n_words) AS BIGINT) AS t_tokens
  FROM admitted_pop GROUP BY source
),
w2 AS (
  SELECT *, CAST(floor(1024 * sqrt(CAST(t_tokens AS DOUBLE))) AS BIGINT) AS wq
  FROM g
),
tw AS (SELECT CAST(sum(wq) AS BIGINT) AS total_w FROM w2),
rates AS (
  SELECT source,
         CAST((CAST(1000000 AS HUGEINT) *
               least(CAST((CAST(5000 AS HUGEINT) * wq) // total_w AS BIGINT),
                     CAST((CAST(1024 AS HUGEINT) * t_tokens) // 1024 AS BIGINT)))
              // t_tokens AS BIGINT) AS admit_ppm
  FROM w2 CROSS JOIN tw
)
SELECT s.source, CAST(count(*) AS BIGINT) AS n_docs_kept,
       CAST(sum(s.n_words) AS BIGINT) AS n_tokens_kept,
       CAST(min(r.admit_ppm) AS BIGINT) AS admit_ppm
FROM admitted_pop s JOIN rates r ON s.source = r.source
WHERE CAST(('0x' || substr(md5('bud1|' || CAST(s.doc_id AS VARCHAR)), 1, 12))::BIGINT
           AS HUGEINT) * 1000000
      < CAST(r.admit_ppm AS HUGEINT) * 281474976710656
GROUP BY s.source ORDER BY s.source
"""

query("pipe13_dsir_curation", pipe13_dsir_curation, PIPE13_SQL)


# ---------------------------------------------------------------------------
# Driver window (first 50 registry entries) — POLICY-PICKED since round 8.
#
# The driver's correctness snapshot covers the FIRST 50 entries only. The
# round-8 verdict asked for a deterministic rotation policy that bounds
# every oracled query's driver-exposure latency; it lives in
# tools/pick_window.py and this list is its verbatim output for
# `--round 15` (re-run the tool to audit). Policy: (1) queries red in the
# latest committed CORRECTNESS artifact are forced in until proven green
# (none this round); (2) never-driver-exposed queries UNCONDITIONALLY,
# newest registration round first (DRIVER_LEDGER.json) — round-9
# amendment: first exposure strictly outranks the family guard, because
# with 44 never-exposed queries spanning only 16 of 29 families the old
# guard capped first exposures at 37/50 and pushed full driver coverage
# a round later; (3) previously-exposed fill by (exposure count, last
# exposed round) with a best-effort family-coverage guard — ties broken
# by md5(f"r{N}:{name}") so no name starves behind a fixed order.
# Round-15 pick: 0 first exposures / 50 — pure RE-CHECK ROTATION
# (no new registrations carried in, so policy #2 has an empty queue).
# As of CORRECTNESS_r09 every oracled registry query has at least one
# green driver row, so windows are now pure least-exposed-first
# re-checks: fill order (exposure count, last exposed round), ties
# broken by md5(f"r15:{name}"), with the best-effort family guard.
# All registry entries remain locally verified via tools/check_oracle.py
# (full-registry + full-window-at-sf0.1 results committed as
# CHECK_ORACLE_LOCAL_r13.json / CHECK_ORACLE_SF01_WINDOW_r13.json);
# counts are asserted below and in tests
# (tests/test_plan_lint.py::test_registry_count_claims).
# ---------------------------------------------------------------------------

DRIVER_WINDOW = [
    "t12_replicated_sample",
    "ts11_quantile_sketch",
    "x12_dup_ngram_fraction",
    "x22_gopher_filters",
    "a3_imbalance_ratio",
    "s10_merge_upsert",
    "dq5_id_gap_audit",
    "ev7_event_transitions",
    "ts10_rolling_zscore",
    "ev10_stickiness",
    "s17_schema_evolution",
    "d4b_simhash_md5_pairs",
    "x6_pii_scrub",
    "ev9_attribution_models",
    "d16_prefix_filter_jaccard",
    "q15_top_supplier",
    "d13_url_canonical_dupes",
    "q12_late_shipments",
    "x20_length_quantiles",
    "fn_grouped_agg_wmean",
    "q16_supplier_counts",
    "d11_edit_distance_pairs",
    "f3_cat_impute",
    "s16_csv_roundtrip",
    "f14_target_encode",
    "t14_rolling_origin",
    "pipe9_incremental_ann",
    "mix2_token_budget",
    "q11_important_parts",
    "emb2_label_centroids",
    "fn_window_suite",
    "t9b_replicated_sample",
    "x15_charset_audit",
    "a17_corr_components",
    "set3_union_targets",
    "mm4_payload_dup_groups",
    "agg_pivot_event_matrix",
    "skew4_join_cardinality",
    "p7_enforce_types",
    "pack2_bin_summary",
    "w1_top_parts",
    "j2_split_overlap",
    "sim1_topk_bruteforce",
    "prof1_column_profile",
    "ml1b_validation_leaderboard",
    "m8q_threshold_sweep_quantized",
    "ord1_global_ordinal",
    "h7_asha_schedule",
    "st_hourly_window",
    "rj1_event_pairs",
]

assert len(DRIVER_WINDOW) == 50, f"driver window must be exactly 50, got {len(DRIVER_WINDOW)}"
assert len(set(DRIVER_WINDOW)) == 50, "driver window has duplicates"
_missing = [n for n in DRIVER_WINDOW if n not in REGISTRY]
assert not _missing, f"driver window names not in REGISTRY: {_missing}"
_unoracled = [n for n in DRIVER_WINDOW if REGISTRY[n][1] is None]
assert not _unoracled, f"driver window entries must all be oracled: {_unoracled}"

REGISTRY = {
    name: REGISTRY[name]
    for name in DRIVER_WINDOW + [n for n in REGISTRY if n not in DRIVER_WINDOW]
}
