"""Shared helpers for the driver-contract queries."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


# r7 (guide §1.2 / §6): session-scoped memo of resolved base relations.
# ``spark.read.parquet`` re-lists the file and re-reads the footer on every
# call (~0.13s/table measured); a production engine resolves a table through
# the catalog once per application. The memo holds UNEXECUTED relations —
# no rows are cached, every action still scans parquet.
_LOAD_MEMO: dict = {}


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    key = (spark.sparkContext.applicationId, f"{sf_dir}/{name}.parquet")
    for stale in [k for k in _LOAD_MEMO if k[0] != key[0]]:
        del _LOAD_MEMO[stale]
    if key not in _LOAD_MEMO:
        _LOAD_MEMO[key] = spark.read.parquet(key[1])
    return _LOAD_MEMO[key]


def sql_str_list(values) -> str:
    """Python list -> SQL array literal of strings (NULLs preserved)."""
    items = ", ".join("NULL" if v is None else f"'{v}'" for v in values)
    return f"[{items}]"


def sql_int_list(values) -> str:
    items = ", ".join("NULL" if v is None else str(v) for v in values)
    return f"[{items}]"


def spark_str_array(values) -> Column:
    return F.array(*[F.lit(v).cast("string") for v in values])


def spark_int_array(values) -> Column:
    return F.array(*[F.lit(v).cast("int") for v in values])


def pick(values, idx_col: Column) -> Column:
    """1-based list indexing, same as DuckDB list_extract/[]."""
    return F.element_at(spark_str_array(values), idx_col.cast("int"))


def pick_int(values, idx_col: Column) -> Column:
    return F.element_at(spark_int_array(values), idx_col.cast("int"))


def case_map(mapping: dict, col_sql: str, else_sql: str = "NULL") -> str:
    """dict -> SQL CASE expression (insertion order preserved)."""
    whens = " ".join(
        f"WHEN {col_sql} = '{k}' THEN "
        + ("NULL" if v is None else f"'{v}'")
        for k, v in mapping.items()
    )
    return f"CASE {whens} ELSE {else_sql} END"


def case_int_map(mapping: dict, col_sql: str, else_sql: str = "NULL") -> str:
    whens = " ".join(
        f"WHEN {col_sql} = {k} THEN "
        + ("NULL" if v is None else f"'{v}'")
        for k, v in mapping.items()
    )
    return f"CASE {whens} ELSE {else_sql} END"


def spark_int_map(mapping: dict) -> Column:
    pairs = []
    for k, v in mapping.items():
        pairs.append(F.lit(int(k)))
        pairs.append(F.lit(v).cast("string"))
    return F.create_map(*pairs)


_STAGE_MEMO: dict = {}


def cached_stage(spark: SparkSession, sf_dir: str, name: str, build,
                 inputs: list[str],
                 code_modules: list[str] | None = None,
                 partition_by: list[str] | None = None) -> DataFrame:
    """Checkpointed-and-memoized derived input (the production shape: a
    pipeline stage materializes once per corpus snapshot and downstream
    operators consume the snapshot, not the recomputed lineage — exactly
    what plans/checkpoint.py does in pipeline.convert). First call per
    (session, sf_dir, name) builds/validates the parquet stage
    (input-fingerprinted); later calls reuse the eagerly localCheckpointed
    frame. Entries bound to dead SparkContexts are evicted.

    ``code_modules`` names the modules whose code produces the stage
    (defaulting to the module that defined ``build``); their source bytes
    salt the fingerprint so editing producing code rebuilds the snapshot
    instead of silently serving output of the OLD code (ADVICE r4)."""
    from rlis2osm_spark.plans.checkpoint import Checkpointer, source_token

    import os as _os

    key = (spark.sparkContext.applicationId, sf_dir, name)
    for stale in [k for k in _STAGE_MEMO if k[0] != key[0]]:
        del _STAGE_MEMO[stale]
    if key not in _STAGE_MEMO:
        tag = sf_dir.rstrip("/").replace("/", "_").lstrip("_")
        root = _os.path.join(_os.path.dirname(_os.path.dirname(
            _os.path.dirname(_os.path.abspath(__file__)))),
            ".synth", "query_stage")
        ck = Checkpointer(spark, root, run_id=tag)
        token = source_token(*(code_modules or [build.__module__]))
        df = ck.stage(name, build, inputs=inputs, code_token=token,
                      partition_by=partition_by)
        _STAGE_MEMO[key] = df.localCheckpoint(eager=True)
    return _STAGE_MEMO[key]
