"""cp1252 ingest option (SURVEY §1.4; reference main.py:20,70)."""

import pandas as pd
import pytest

from rlis2osm_spark.sources.catalog import decode_text_columns


@pytest.fixture(scope="module")
def enc_dir(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("enc")
    text = ["Café São José", "Peña–Blvd", "plain ascii", None]
    pdf = pd.DataFrame({
        "fid": range(4),
        # raw cp1252 bytes, as a shapefile .dbf would carry them
        "raw": [None if t is None else t.encode("cp1252") for t in text],
        # the classic mojibake: cp1252 bytes mis-decoded byte-per-char
        "mangled": [None if t is None else
                    t.encode("cp1252").decode("latin-1") for t in text],
        "n": [1.5, 2.5, 3.5, 4.5],
    })
    path = str(d / "streets.parquet")
    spark.createDataFrame(pdf).coalesce(1).write.parquet(path)
    return path, text


def test_cp1252_binary_and_mangled_columns(spark, enc_dir):
    path, text = enc_dir
    df = decode_text_columns(spark.read.parquet(path), "cp1252")
    rows = {r.fid: r for r in df.collect()}
    for i, t in enumerate(text):
        assert rows[i].raw == t
        assert rows[i].mangled == t
    assert rows[0].n == 1.5  # non-text columns untouched


def test_cp1252_column_subset(spark, enc_dir):
    path, text = enc_dir
    df = decode_text_columns(spark.read.parquet(path), "cp1252",
                             columns=["raw"])
    # fid 1 carries an en-dash (0x96) — the cp1252/latin-1 divergent block
    r1 = {r.fid: r for r in df.collect()}[1]
    assert r1.raw == text[1]
    assert r1.mangled != text[1]  # untouched, still mojibake


def test_decode_is_native(spark, enc_dir):
    path, _ = enc_dir
    df = decode_text_columns(spark.read.parquet(path), "cp1252")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan  # pure encode/decode expressions
