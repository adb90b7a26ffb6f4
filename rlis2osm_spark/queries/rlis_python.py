"""Arrow-UDF / iterative-path queries. Every entry carries an exact
oracle since r2/r3: the Arrow or iterative hot path itself is not
ANSI-SQL-expressible, but each query's RESULT is pinned either by an
independent SQL transcription of the semantics (basename expansion,
street pipeline histogram), an expected-output derivation (titlecase over
a special-case-free domain), an analytic ground truth of the derived
topology (dissolve chain histogram), or the arithmetic twin of the WKB
path (s2_tile_assignment_wkb emits cell AND cell_native against one
oracle).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from rlis2osm_spark.driver_support import ensure_package_on_workers
from rlis2osm_spark.queries.util import (
    binary_rows_udf, case_int_map, load, pick, pick_int, sql_int_list)
from rlis2osm_spark.queries import spatial_sql
from rlis2osm_spark.queries.rlis_cols import DIRS, FTYPES, TYPES, ZLEVS


def rlis_basename_expand(spark, sf_dir):
    """P4-P6: positional basename expansion over derived ALL-CAPS names
    (Arrow UDF; goldens in tests/test_expand.py)."""
    ensure_package_on_workers(spark)
    from rlis2osm_spark.functions.expand import basename_expand

    part = load(spark, sf_dir, "part")
    name = F.upper(
        F.concat_ws(" ",
                    pick(["MT", "ST", "US", "NFD", "JQ", None, None],
                         1 + F.col("p_partkey") % 7),
                    F.col("p_name"),
                    pick(FTYPES, 1 + F.col("p_partkey") % 11)))
    return part.select(
        "p_partkey", name.alias("raw"),
        basename_expand(name).alias("expanded"))


def rlis_titlecase_names(spark, sf_dir):
    """P7: titlecase port (Arrow UDF). Oracle-checked since r2 as an
    expected-output oracle: the derived input domain (TPC-H part-name
    words + 'ST') contains no titlecase special cases — no small words,
    apostrophes, Mc-prefixes or mixed-case protections — so the ground
    truth is per-word initcap; the titlecase quirks themselves are
    pinned by tests/test_titlecase.py goldens."""
    ensure_package_on_workers(spark)
    from rlis2osm_spark.functions.expand import titlecase_name

    part = load(spark, sf_dir, "part")
    name = F.upper(F.concat_ws(" ", F.col("p_name"), F.lit("ST")))
    return part.select("p_partkey", titlecase_name(name).alias("name"))


def s2_tile_assignment_wkb(spark, sf_dir):
    """Flagship WKB path: identical coordinates packed as WKB points, run
    through the *real* geometry->midpoint->cell pipeline, emitted alongside
    the pure-arithmetic Morton cell (r3: absorbs the former
    ``s2_tile_assignment`` — ``cell_native`` must equal ``cell`` row by
    row, so the shared oracle pins WKB-path == arithmetic-path parity
    inside one result)."""
    ensure_package_on_workers(spark)
    from rlis2osm_spark.spatial.tiles import point_wkb, with_cell, with_tile

    pts = with_cell(spatial_sql._doc_points(spark, sf_dir),
                    spatial_sql.RES, spatial_sql.GRID)
    geo = pts.select("doc_id", F.col("cell").alias("cell_native"),
                     point_wkb("x", "y").alias("geometry"))
    tiled = with_tile(geo, spatial_sql.RES, grid=spatial_sql.GRID)
    return tiled.select(
        "doc_id", "ix", "iy", "cell", "cell_native",
        F.shiftright("cell", 2).alias("parent_cell"))


def _derived_streets(spark, sf_dir):
    """RLIS-shaped street chains from part keys: 4-segment chains with
    exactly-shared endpoints, chain-constant tags."""
    ensure_package_on_workers(spark)
    part = load(spark, sf_dir, "part")
    k = F.col("p_partkey")
    chain, seg = F.expr("p_partkey div 4"), k % 4
    x0 = (chain % 100) * 4000.0
    y0 = F.expr("(p_partkey div 4) div 100") * 2000.0
    df = part.select(
        k.alias("fid"),
        (100000 + k).cast("int").alias("LOCALID"),
        pick_int(TYPES, 1 + chain % len(TYPES)).alias("TYPE"),
        pick(DIRS, 1 + chain % 13).alias("PREFIX"),
        # chain-constant (and chain-unique) name: the 4 segments of a chain
        # form ONE dissolve group; distinct chains never share a tag group.
        # (r2 fix: upper(p_name) varied per segment, so the intended chains
        # almost never merged and the CC workload was mostly singletons.)
        F.concat(F.lit("CHAIN"), chain.cast("string")).alias("STREETNAME"),
        pick(FTYPES, 1 + chain % 11).alias("FTYPE"),
        F.lit(None).cast("string").alias("DIRECTION"),
        pick_int(ZLEVS, 1 + chain % 9).alias("F_ZLEV"),
        pick_int(ZLEVS, 1 + chain % 9).alias("T_ZLEV"),
        (x0 + seg * 500.0).alias("_x1"),
        y0.alias("_y1"),
        (x0 + seg * 500.0 + 500.0).alias("_x2"),
        y0.alias("_y2"),
    )

    return df.withColumn(
        "geometry", binary_rows_udf(_seg_wkb)("_x1", "_y1", "_x2", "_y2")
    ).drop("_x1", "_y1", "_x2", "_y2")


def _seg_wkb(x1: float, y1: float, x2: float, y2: float) -> bytes:
    from rlis2osm_spark.functions.wkb import encode_linestring

    return encode_linestring([(x1, y1), (x2, y2)])


def rlis_street_pipeline(spark, sf_dir):
    """Full street branch (expand -> translate -> titlecase) over derived
    streets; per-highway tag counts. Oracle-checked since r2: the histogram
    depends only on TYPE / z-levels (derived names are never null/'unnamed',
    so the residential downgrade can't fire), which SQL transcribes exactly;
    the Arrow-UDF name path stays covered by pytest goldens."""
    from rlis2osm_spark.operators.streets import (
        expand_street_names, translate_streets)

    streets = _derived_streets(spark, sf_dir)
    osm = translate_streets(expand_street_names(streets))
    return (
        osm.groupBy("highway")
        .agg(F.count("*").alias("n"),
             F.count("bridge").alias("n_bridge"),
             F.count("tunnel").alias("n_tunnel"),
             F.count("access").alias("n_access"))
        .orderBy("highway")
    )


def _street_pipeline_sql() -> str:
    from rlis2osm_spark.operators.streets import (
        ACCESS_BY_TYPE, HIGHWAY_BY_TYPE)

    # derivation mirrors _derived_streets: chain-constant TYPE and z-levels,
    # F_ZLEV == T_ZLEV by construction, names never null -> no downgrade
    return f"""
WITH d AS (
  SELECT p_partkey,
         {sql_int_list(sorted(HIGHWAY_BY_TYPE))}[1 + (p_partkey // 4) % {len(HIGHWAY_BY_TYPE)}] AS type,
         {sql_int_list(ZLEVS)}[1 + (p_partkey // 4) % 9] AS fz_raw
  FROM part
), z AS (
  SELECT *, CASE WHEN fz_raw IS NULL OR fz_raw = 0 THEN 1 ELSE fz_raw END AS fz
  FROM d
), l AS (
  SELECT *,
    CASE WHEN fz > 1 THEN fz - 1 WHEN fz < 0 THEN fz END AS layer,
    {case_int_map(HIGHWAY_BY_TYPE, "type")} AS highway,
    {case_int_map(ACCESS_BY_TYPE, "type")} AS access
  FROM z
)
SELECT highway, COUNT(*) AS n,
       COUNT(CASE WHEN layer > 0 THEN 1 END) AS n_bridge,
       COUNT(CASE WHEN layer < 0 THEN 1 END) AS n_tunnel,
       COUNT(access) AS n_access
FROM l GROUP BY highway ORDER BY highway
"""


def rlis_dissolve_cc(spark, sf_dir):
    """J4/A1: connected-components dissolve over derived chains — group size
    distribution. The CC runs in the dissolve kernel, but the derived
    topology's ground truth is analytic (disjoint 4-segment chains, chain-
    constant unique tags), so the histogram carries an exact oracle: every
    chain must dissolve into one component of its segment count."""
    from rlis2osm_spark.operators.dissolve import dissolve_ways
    from rlis2osm_spark.operators.streets import (
        expand_street_names, translate_streets)
    from rlis2osm_spark.queries.util import cached_stage

    # the translated frame is a CHECKPOINTED stage (r4), as dissolve's
    # input is in the production pipeline (pipeline.convert checkpoints
    # combine before dissolve) — without it the expand/translate
    # Arrow-UDF chain would recompute for every read of it
    osm = cached_stage(
        spark, sf_dir, "dissolve_input",
        lambda: translate_streets(
            expand_street_names(_derived_streets(spark, sf_dir))
        ).withColumns({"src_table": F.lit("streets"),
                       "part_idx": F.lit(0)}),
        inputs=[f"{sf_dir}/part.parquet"],
        code_modules=[
            "rlis2osm_spark.operators.streets",
            "rlis2osm_spark.functions.expand",
            "rlis2osm_spark.functions.titlecase_port",
            __name__,
        ],
    )
    # row bound from the parquet footer (free; at scale: Iceberg snapshot
    # record count) spares auto its row count (VERDICT r2 #5); the staged
    # frame is a local checkpoint, not a parquet scan, so dissolve cannot
    # read the footers itself
    from rlis2osm_spark.plans.iceberg_shim import file_row_counts

    (n_rows,) = file_row_counts([f"{sf_dir}/part.parquet"])
    dissolved = dissolve_ways(osm, approx_rows=n_rows)
    return (
        dissolved.groupBy("n_members")
        .agg(F.count("*").alias("n_groups"))
        .orderBy("n_members")
    )


QUERIES = {
    "rlis_basename_expand": rlis_basename_expand,
    "rlis_titlecase_names": rlis_titlecase_names,
    "s2_tile_assignment_wkb": s2_tile_assignment_wkb,
    "rlis_street_pipeline": rlis_street_pipeline,
    "rlis_dissolve_cc": rlis_dissolve_cc,
}

# ground truth of the derived chain topology: p_partkey//4 chains, one
# dissolve group per chain (names chain-unique), n_members = segment count
_DISSOLVE_SQL = """
SELECT cnt AS n_members, COUNT(*) AS n_groups FROM (
  SELECT p_partkey // 4 AS chain, COUNT(*) AS cnt FROM part GROUP BY 1
) GROUP BY cnt ORDER BY cnt
"""

# the WKB tile path must agree with the arithmetic oracle exactly; the
# street-pipeline histogram is TYPE/z-level-determined -> SQL-transcribable
# the WKB oracle re-emits the arithmetic cell as cell_native (must be equal)
_S2_WKB_SQL = f"""
SELECT doc_id, ix, iy, cell, cell AS cell_native, parent_cell
FROM ({spatial_sql._S2_SQL})
"""

ORACLES = {
    "s2_tile_assignment_wkb": _S2_WKB_SQL,
    "rlis_street_pipeline": _street_pipeline_sql(),
    "rlis_dissolve_cc": _DISSOLVE_SQL,
}


def _basename_sql() -> str:
    """Independent SQL transcription of the positional basename expansion
    (P4-P6, reference expand.py:139-175) — moves rlis_basename_expand from
    rows-only to oracle. Faithful to the quirks: periods stripped first,
    '-'-split parts expanded independently, separator RUNS (len > 1) count
    as words for position numbering, first/last dicts only when a part has
    more than two words."""
    from rlis2osm_spark.functions.expand import build_positional_dicts
    from rlis2osm_spark.queries.util import case_map

    d = build_positional_dicts()
    first = case_map(d["first"], "UPPER(tok)", else_sql="tok")
    middle = case_map(d["middle"], "UPPER(tok)", else_sql="tok")
    last = case_map(d["last"], "UPPER(tok)", else_sql="tok")
    name = ("UPPER(CONCAT_WS(' ', ['MT','ST','US','NFD','JQ',NULL,NULL]"
            "[1 + p_partkey % 7], p_name, "
            f"{_FTYPE_LIST}[1 + p_partkey % 11]))")
    return f"""
WITH src AS (
  SELECT p_partkey, {name} AS raw FROM part
),
parts AS (
  SELECT s.p_partkey, s.raw, u.part_idx, trim(u.part) AS part
  FROM src s, LATERAL (
    SELECT unnest(string_split(replace(s.raw, '.', ''), '-')) AS part,
           generate_subscripts(string_split(replace(s.raw, '.', ''), '-'), 1) AS part_idx
  ) u
),
toks AS (
  SELECT p.p_partkey, p.raw, p.part_idx, t.tok_idx, t.tok,
         CASE WHEN t.tok NOT IN (' ', '/') THEN 1 ELSE 0 END AS is_word
  FROM parts p LEFT JOIN LATERAL (
    SELECT unnest(regexp_extract_all(p.part, '[ /]+|[^ /]+')) AS tok,
           generate_subscripts(regexp_extract_all(p.part, '[ /]+|[^ /]+'), 1) AS tok_idx
  ) t ON TRUE
),
pos AS (
  SELECT *,
    SUM(is_word) OVER (PARTITION BY p_partkey, part_idx ORDER BY tok_idx) AS wpos,
    SUM(is_word) OVER (PARTITION BY p_partkey, part_idx) AS nw
  FROM toks
),
ex AS (
  SELECT *, CASE
    WHEN is_word = 0 THEN tok
    WHEN wpos = 1 AND nw > 2 THEN {first}
    WHEN wpos = nw AND nw > 2 THEN {last}
    ELSE {middle} END AS etok
  FROM pos
),
reb AS (
  SELECT p_partkey, raw, part_idx,
         COALESCE(STRING_AGG(etok, '' ORDER BY tok_idx), '') AS rpart
  FROM ex GROUP BY p_partkey, raw, part_idx
)
SELECT p_partkey, raw,
       STRING_AGG(rpart, '-' ORDER BY part_idx) AS expanded
FROM reb GROUP BY p_partkey, raw
"""


from rlis2osm_spark.queries.util import sql_str_list as _ssl  # noqa: E402

_FTYPE_LIST = _ssl(FTYPES)
ORACLES["rlis_basename_expand"] = _basename_sql()

_TITLECASE_SQL = """
SELECT p_partkey,
       list_aggregate(
         list_transform(string_split(upper(p_name || ' ST'), ' '),
                        w -> upper(w[1]) || lower(w[2:])),
         'string_agg', ' ') AS name
FROM part
"""
ORACLES["rlis_titlecase_names"] = _TITLECASE_SQL
