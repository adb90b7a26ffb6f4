import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from rlis2osm_spark.session import build_session  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = build_session(
        app_name="rlis2osm_spark-tests",
        master="local[4]",
        shuffle_partitions=8,
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def synth_dir(tmp_path_factory):
    """Small deterministic synthetic RLIS dataset shared across tests."""
    from rlis2osm_spark.datagen import ensure_dataset

    d = os.path.join(os.path.dirname(os.path.abspath(__file__)), os.pardir,
                     ".synth", "test_small")
    ensure_dataset(os.path.abspath(d), n_streets=300, n_trails=80)
    return os.path.abspath(d)


ORACLE_TABLES = ["region", "nation", "customer", "supplier", "part",
                 "orders", "lineitem", "events", "documents", "embeddings"]


@pytest.fixture(scope="session")
def oracle_result():
    """DuckDB oracle results, each query run once per test session and
    shared by the two parity files.

    ``oracle_result(sf_dir, sql)`` returns ``(columns, rows, frame)``:
    the cursor's column names, its ``fetchall()`` rows and its ``.df()``
    frame. The query runs once into a temp table; both reads select the
    whole table, so they see the query's own types and values."""
    import duckdb

    cons, results = {}, {}

    def run(sf_dir, sql):
        if (sf_dir, sql) not in results:
            if sf_dir not in cons:
                con = cons[sf_dir] = duckdb.connect()
                for t in ORACLE_TABLES:
                    p = f"{sf_dir}/{t}.parquet"
                    if os.path.exists(p):
                        con.execute(f"CREATE VIEW {t} AS SELECT * "
                                    f"FROM read_parquet('{p}')")
            con = cons[sf_dir]
            con.execute(f"CREATE OR REPLACE TEMP TABLE oracle_out AS {sql}")
            cur = con.execute("SELECT * FROM oracle_out")
            columns = [d[0] for d in cur.description]
            rows = cur.fetchall()
            frame = con.execute("SELECT * FROM oracle_out").df()
            con.execute("DROP TABLE oracle_out")
            results[sf_dir, sql] = (columns, rows, frame)
        return results[sf_dir, sql]

    yield run
    for con in cons.values():
        con.close()
