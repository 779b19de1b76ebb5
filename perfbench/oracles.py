"""Expected outputs, computed once per input set with DuckDB, outside timing.

The benchmark calls each curation operator with the arguments of a registry
row (``plans.entry_queries``), so that row's oracle checks the output:

* pipe10 and sim1 run the registry SQL (pipe10 with the benchmark's token
  budget in place of the registry's; sim1 over every query, of which a run
  keeps the rows of the queries its seed drew);
* d16, d7 and pipe8 run the registry SQL's pair semantics through a token
  join instead of the registry's all-pairs list intersection, which takes
  minutes on the sf0.01 corpus. d7 keeps the registry's recursive
  component query on top. ``tests/test_oracles.py`` pins every rewrite to
  the registry SQL on a slice of the sf0.01 corpus.

The tabular oracle replays the chained four-way carve with the registry's
T13 CTE pattern over the training frame.
"""

from __future__ import annotations

import math

import duckdb


def connect(data_dir: str, tables: list[str], threads: int) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"SET threads = {int(threads)}")
    con.execute("SET memory_limit = '2GB'")
    con.execute("PRAGMA disable_progress_bar")
    for t in tables:
        path = f"{data_dir}/{t}.parquet".replace("'", "''")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def _canon(v):
    if isinstance(v, bool):
        return int(v)
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else v
    if isinstance(v, (int, str)) or v is None:
        return v
    return str(v)


def multiset(cols: list[str], rows) -> list[tuple]:
    """Order-insensitive, column-name-keyed canonical form of a result."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        (tuple(_canon(r[i]) for i in order) for r in rows),
        key=lambda t: tuple((x is None, str(x)) for x in t),
    )


def same_rows(cols: list[str], rows, expected: dict) -> bool:
    """True when ``rows`` (named ``cols``) equal the oracle's multiset."""
    if sorted(cols) != sorted(expected["cols"]):
        return False
    return multiset(cols, rows) == multiset(expected["cols"], expected["rows"])


def _result(con, sql: str) -> dict:
    rel = con.sql(sql)
    return {"cols": list(rel.columns), "rows": [list(r) for r in rel.fetchall()]}


def _strip_order(sql: str) -> str:
    head, sep, _tail = sql.rstrip().rpartition("ORDER BY")
    return head if sep else sql


def carve_sql() -> str:
    """The registry's T13 carve, rebound from ``documents(doc_id, lang)`` to
    the tabular training frame ``(o_orderkey, label)``."""
    from end_to_end_ml_spark.plans.entry_queries import T13_SQL

    frame = """WITH f AS (
  SELECT o.o_orderkey, o.o_totalprice
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
),
frame AS (
  SELECT o_orderkey, CAST(o_totalprice > (SELECT avg(o_totalprice) FROM f) AS DOUBLE) AS label
  FROM f
),
keyed AS ("""
    sql = T13_SQL.replace("doc_id", "o_orderkey").replace("lang", "label")
    sql = sql.replace("FROM documents", "FROM frame")
    if not sql.lstrip().startswith("WITH keyed AS ("):
        raise RuntimeError("T13_SQL no longer starts with the keyed CTE")
    return frame + sql.lstrip()[len("WITH keyed AS (") :]


def tabular(data_dir: str, threads: int) -> dict:
    """Per-(subset, label) counts of the carve, its test split (key and
    request columns, by key) and the number of input rows."""
    con = connect(data_dir, ["orders", "customer"], threads)
    try:
        carve = _strip_order(carve_sql())
        con.execute(f"CREATE TEMP TABLE carve AS {carve}")
        counts = con.sql(
            "SELECT subset, label, count(*) FROM carve GROUP BY ALL"
        ).fetchall()
        test = con.sql(
            """SELECT o_orderkey, o_orderpriority, c_mktsegment, c_acctbal
               FROM carve JOIN orders USING (o_orderkey)
               JOIN customer ON o_custkey = c_custkey
               WHERE subset = 'test' ORDER BY o_orderkey"""
        )
        test_rows = [dict(zip(test.columns, r)) for r in test.fetchall()]
        (n_input_rows,) = con.sql(
            "SELECT (SELECT count(*) FROM orders) + (SELECT count(*) FROM customer)"
        ).fetchone()
    finally:
        con.close()
    return {
        "counts": {f"{s}|{int(lbl)}": int(n) for s, lbl, n in counts},
        "test_rows": test_rows,
        "n_input_rows": int(n_input_rows),
    }


_D16_TOKENS = r"""
  SELECT doc_id, unnest(ts) AS tok, len(ts) AS n FROM (
    SELECT doc_id,
           list_distinct(list_transform(range(1, len(w)),
                                        i -> w[i] || ' ' || w[i+1])) AS ts
    FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
          FROM documents WHERE doc_id % 2 = 0)
  ) WHERE len(ts) > 0"""


def d16_sql() -> str:
    """Registry D16_SQL's exact bigram-Jaccard pairs via a token join."""
    return f"""
WITH t AS ({_D16_TOKENS}),
p AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS BIGINT) AS inter,
         CAST(any_value(a.n) AS BIGINT) AS sza, CAST(any_value(b.n) AS BIGINT) AS szb
  FROM t a JOIN t b ON a.tok = b.tok AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT id_a, id_b, inter, (sza + szb - inter) AS union_sz,
       CAST(inter AS DOUBLE) / CAST(sza + szb - inter AS DOUBLE) AS jaccard
FROM p WHERE 100 * inter >= 60 * (sza + szb - inter)
"""


def _shingle_pairs_sql(pair_filter: str, a_name: str, b_name: str) -> str:
    from end_to_end_ml_spark.plans.entry_queries import _SHINGLE_SQL

    return f"""
WITH sh AS (
  SELECT doc_id, unnest(s) AS g, len(s) AS n FROM (
    SELECT doc_id, {_SHINGLE_SQL} AS s FROM documents)
),
p AS (
  SELECT a.doc_id AS {a_name}, b.doc_id AS {b_name}, count(*) AS i,
         any_value(a.n) AS na, any_value(b.n) AS nb
  FROM sh a JOIN sh b ON a.g = b.g AND {pair_filter}
  GROUP BY a.doc_id, b.doc_id
)
SELECT {a_name}, {b_name}, i / (na + nb - i) AS jaccard_sim
FROM p WHERE i / (na + nb - i) >= 0.6
"""


def minhash_exact_sql() -> str:
    """Registry MINHASH_EXACT_SQL (all doc pairs, shingle Jaccard >= 0.6)."""
    return _shingle_pairs_sql("a.doc_id < b.doc_id", "id_a", "id_b")


def pipe8_sql() -> str:
    """Registry PIPE8_SQL (batch doc_id % 4 = 0 against the rest)."""
    return _shingle_pairs_sql(
        "a.doc_id % 4 = 0 AND b.doc_id % 4 <> 0", "new_id", "hist_id"
    )


def d7_sql(pairs: str) -> str:
    """Registry D7_GROUPS_SQL with its pair CTE body replaced by ``pairs``
    (a query over the same pair set, e.g. a table holding
    :func:`minhash_exact_sql`)."""
    from end_to_end_ml_spark.plans import entry_queries as Q

    registry_pairs = Q.MINHASH_EXACT_SQL.replace("ORDER BY id_a, id_b", "")
    if registry_pairs not in Q.D7_GROUPS_SQL:
        raise RuntimeError("D7_GROUPS_SQL no longer embeds MINHASH_EXACT_SQL")
    return Q.D7_GROUPS_SQL.replace(registry_pairs, pairs)


def pipe10_sql(budget_tokens: int) -> str:
    """Registry PIPE10_SQL with its 50,000-token budget replaced, so the
    budget binds on a smaller corpus."""
    from end_to_end_ml_spark.plans.entry_queries import PIPE10_SQL

    literal = "CAST(50000 AS HUGEINT)"
    if PIPE10_SQL.count(literal) != 1:
        raise RuntimeError("PIPE10_SQL no longer holds one budget literal")
    return PIPE10_SQL.replace(literal, f"CAST({int(budget_tokens)} AS HUGEINT)")


def curation(data_dir: str, budget_tokens: int, threads: int) -> dict:
    """Oracles for d16, d7, pipe8, pipe10 (at ``budget_tokens``) and sim1
    (every vector a query; a run keeps its sampled queries' rows), the
    vector ids and the number of input rows."""
    from end_to_end_ml_spark.plans import entry_queries as Q

    con = connect(data_dir, ["documents", "embeddings"], threads)
    try:
        # materialized once: the recursive component query would otherwise
        # re-derive the pair set on every step
        con.execute(f"CREATE TEMP TABLE mh_pairs AS {minhash_exact_sql()}")
        (n_input_rows,) = con.sql(
            "SELECT (SELECT count(*) FROM documents) + (SELECT count(*) FROM embeddings)"
        ).fetchone()
        return {
            "d16": _result(con, d16_sql()),
            "d7": _result(con, d7_sql("SELECT * FROM mh_pairs")),
            "pipe8": _result(con, pipe8_sql()),
            "pipe10": _result(con, pipe10_sql(budget_tokens)),
            "sim1": _result(con, _strip_order(Q.SIM_TOPK_SQL)),
            "vec_ids": [r[0] for r in con.sql("SELECT vec_id FROM embeddings ORDER BY 1").fetchall()],
            "n_input_rows": int(n_input_rows),
        }
    finally:
        con.close()
