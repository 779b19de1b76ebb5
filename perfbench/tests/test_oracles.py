"""The oracle rewrites return exactly what the registry SQL returns.

d16, d7 and pipe8 run through a token join in the benchmark because the
registry's all-pairs list intersection takes minutes at benchmark size. On
the first 200 documents of the benchmark's corpus, which hold pairs for
every operator, both forms must give the same rows. DuckDB only.
"""

import pytest

import harness
import oracles
from end_to_end_ml_spark.plans import entry_queries as Q

N_DOCS = 200


@pytest.fixture(scope="module")
def con():
    c = oracles.connect(harness.DATA_DIR, ["embeddings"], 2)
    path = f"{harness.DATA_DIR}/documents.parquet".replace("'", "''")
    c.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}') WHERE doc_id < {N_DOCS}"
    )
    yield c
    c.close()


def _same(con, mine: str, registry: str) -> int:
    a, b = con.sql(mine), con.sql(registry)
    rows_a, rows_b = a.fetchall(), b.fetchall()
    assert sorted(a.columns) == sorted(b.columns)
    assert oracles.multiset(a.columns, rows_a) == oracles.multiset(b.columns, rows_b)
    return len(rows_a)


def test_d16_matches_registry(con):
    assert _same(con, oracles.d16_sql(), Q.D16_SQL) > 0


def test_minhash_pairs_match_registry(con):
    assert _same(con, oracles.minhash_exact_sql(), Q.MINHASH_EXACT_SQL) > 0


def test_pipe8_matches_registry(con):
    assert _same(con, oracles.pipe8_sql(), Q.PIPE8_SQL) > 0


def test_d7_matches_registry(con):
    assert _same(con, oracles.d7_sql(oracles.minhash_exact_sql()), Q.D7_GROUPS_SQL) > 0


def test_pipe10_budget_substitution_keeps_registry_sql():
    assert oracles.pipe10_sql(50000) == Q.PIPE10_SQL
    assert "CAST(5000 AS HUGEINT)" in oracles.pipe10_sql(5000)
