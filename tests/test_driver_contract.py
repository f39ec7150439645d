"""Driver-contract hygiene: the exact invariants the round driver's
correctness gate depends on."""

import pytest

import __spark_entry__ as em


def test_every_oracle_key_has_a_query():
    qs, oracles = em.queries(), em.oracle_sql()
    orphans = set(oracles) - set(qs)
    assert not orphans, f"oracle_sql entries without queries: {orphans}"


def test_every_query_has_an_oracle():
    """No rows-only fallbacks left: every driver query has an exact
    DuckDB twin (the mm ops gained theirs once the synthetic payloads
    were made SQL-reconstructable from documents.text)."""
    qs, oracles = em.queries(), em.oracle_sql()
    rows_only = set(qs) - set(oracles)
    assert rows_only == set(), f"queries without an oracle: {rows_only}"


def test_entry_runs_and_has_stable_schema(spark):
    df = em.entry(spark)
    cols = df.columns
    assert cols == [
        "url", "content_kind", "doc_type", "lang", "valid", "confidence", "main_text"
    ]
    assert df.count() > 0


def test_oracle_sql_strings_are_wellformed():
    """Every oracle runs in DuckDB against EMPTY tables with the REAL
    parquet schemas (derived via LIMIT 0, so the DDL can never drift
    from the fixtures) — catches syntax and column-reference errors
    without the full data compare."""
    import duckdb

    tables = (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split()
    con = duckdb.connect()
    for t in tables:
        con.execute(
            f"CREATE TABLE {t} AS "
            f"SELECT * FROM '/root/testdata/sf0.001/{t}.parquet' LIMIT 0"
        )
    for name, sql in em.oracle_sql().items():
        con.execute(sql)  # raises on syntax/semantic errors


def test_oracles_follow_the_query_order():
    """Both dicts are views of the one operator table, so a twin can never
    drift to another position (or another name) than its builder."""
    assert list(em.queries()) == list(em.oracle_sql())


def test_a_repeated_operator_name_raises(monkeypatch):
    row = ("twice_added_op", em.entry, "SELECT 1")
    monkeypatch.setattr(em, "_OPS", em._OPS + [row, row])
    with pytest.raises(ValueError, match="twice_added_op"):
        em.queries()
