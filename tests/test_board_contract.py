"""Driver-contract regression net: every board entry must at least
BUILD (plan construction + analysis) and every oracle must BIND in
DuckDB — a NameError / analysis error / SQL typo in `__spark_entry__`
otherwise only surfaces in the driver's end-of-round CORRECTNESS run
(this caught nothing the day it was written, but the PIP_RING_X
constant deletion it was written in response to would have failed
here within one pytest pass instead of one round).

This does NOT execute the queries (the driver + check_oracle do
that); it pins the contract *shape*: at most 50 entries, oracle-backed
entries first, the two declared rows-only stragglers last.
"""
import duckdb
import pytest

import __spark_entry__ as entry

SF = "/root/testdata/sf0.001"
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events")

ROWS_ONLY = {"flagship_metrics", "export_vectors"}


def test_board_shape():
    qs = entry.queries()
    oracles = entry.oracle_sql()
    assert len(qs) <= 50, "driver checks only the first 50 entries"
    missing = {k for k in qs if k not in oracles}
    assert missing == ROWS_ONLY
    # declared rows-only entries sit at the end so every oracle-backed
    # entry is inside the driver's checked window
    tail = list(qs)[-len(ROWS_ONLY):]
    assert set(tail) == ROWS_ONLY
    stray = set(oracles) - set(qs)
    assert not stray, f"oracle_sql keys without a queries() entry: {stray}"


def test_every_oracle_binds_in_duckdb():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    for name, sql in entry.oracle_sql().items():
        try:
            con.sql(f"EXPLAIN {sql}")
        except Exception as exc:  # pragma: no cover - failure reporting
            pytest.fail(f"oracle_sql[{name!r}] does not bind: {exc}")


def test_every_board_entry_builds(spark):
    """Call each queries() entry at sf0.001 and require a DataFrame
    with a non-empty schema. Plan construction runs analysis (catching
    missing columns / NameErrors); it does not collect results."""
    for name, fn in entry.queries().items():
        df = fn(spark, SF)
        assert df is not None and len(df.schema.fields) > 0, name
