"""Local replica of the driver's correctness gate: every queries() entry
with an oracle_sql() entry must match DuckDB exactly (row count, schema
names, order-insensitive values) at sf0.001 (sf0.01 is the driver's scale;
0.001 keeps the suite fast — same code paths)."""

import math

import pytest

import __spark_entry__ as entry_mod

SF_DIR = "/root/testdata/sf0.001"


def _canon(val):
    if val is None:
        return "\x00null"
    if isinstance(val, bool):
        return str(val).lower()
    if isinstance(val, float):
        if math.isnan(val):
            return "nan"
        return repr(round(val, 9))
    return str(val)


def _rowset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        tuple(_canon(r[i]) for i in order) for r in rows
    )


ORACLES = entry_mod.oracle_sql()
QUERIES = entry_mod.queries()


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_oracle_match(spark, oracle_result, name):
    sdf = QUERIES[name](spark, SF_DIR)
    s_cols = [c.lower() for c in sdf.columns]
    s_rows = [tuple(r) for r in sdf.collect()]

    columns, d_rows, _ = oracle_result(SF_DIR, ORACLES[name])
    d_cols = [c.lower() for c in columns]

    assert sorted(s_cols) == sorted(d_cols), (
        f"{name}: column mismatch {s_cols} vs {d_cols}")
    assert len(s_rows) == len(d_rows), (
        f"{name}: row count {len(s_rows)} vs {len(d_rows)}")
    sset, dset = _rowset(s_cols, s_rows), _rowset(d_cols, d_rows)
    mism = [i for i, (a, b) in enumerate(zip(sset, dset)) if a != b][:3]
    assert sset == dset, (
        f"{name}: value mismatch at sorted rows {mism}: "
        f"{[ (sset[i], dset[i]) for i in mism ]}")


def test_rows_only_queries_run(spark):
    """Queries without oracles must still run and return stable schemas."""
    for name in sorted(set(QUERIES) - set(ORACLES)):
        df = QUERIES[name](spark, SF_DIR)
        n = df.count()
        assert n >= 0 and df.columns, name


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0
    assert "cell" in df.columns
