"""Byte-level replica of the driver's hash gate (stricter than
test_oracle_parity, which canonicalizes floats): Spark toPandas vs DuckDB
.df(), columns sorted by name, every cell compared as its raw str() — the
representation the driver hashes.  Catches Decimal-vs-float64 and
HUGEINT-vs-int64 drift that value-level checks forgive."""

import pandas as pd
import pytest

import __spark_entry__ as entry_mod

SF_DIR = "/root/testdata/sf0.001"


def _canon_cell(v):
    if v is None or v is pd.NaT or (isinstance(v, float) and v != v):
        return "<null>"
    try:
        if pd.isna(v):
            return "<null>"
    except (TypeError, ValueError):
        pass
    return str(v)


def _rows(df: pd.DataFrame):
    df = df[sorted(df.columns, key=str.lower)]
    return sorted(
        tuple(_canon_cell(v) for v in row)
        for row in df.itertuples(index=False))


ORACLES = entry_mod.oracle_sql()
QUERIES = entry_mod.queries()


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_strict_hash_parity(spark, oracle_result, name):
    s_pdf = QUERIES[name](spark, SF_DIR).toPandas()
    _, _, d_pdf = oracle_result(SF_DIR, ORACLES[name])
    s_rows, d_rows = _rows(s_pdf), _rows(d_pdf)
    assert len(s_rows) == len(d_rows), (
        f"{name}: rows {len(s_rows)} vs {len(d_rows)}")
    mism = [(a, b) for a, b in zip(s_rows, d_rows) if a != b][:3]
    assert s_rows == d_rows, (
        f"{name}: strict value mismatch "
        f"(spark dtypes {dict(s_pdf.dtypes.astype(str))}, "
        f"duck dtypes {dict(d_pdf.dtypes.astype(str))}): {mism}")
