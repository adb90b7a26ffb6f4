"""The benchmark's workloads.

Each workload has three parts, run by ``run.py`` in this order:

- ``setup``: generate inputs from the seed and warm up once (untimed);
- ``op``: one repetition of the measured work, repeated for the run's
  seconds; every leg or query is one operation;
- ``check``: output checks, outside all timing. A failed check counts
  one failed operation.

Spans (``tr.span``) are no-ops unless the run is traced. A leg span wraps
the benchmark's call into one layer's public function plus the action
that executes it; its ``.plan`` child covers the call alone, before the
action.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import statistics
import time

from perfbench import checks

HERE = os.path.dirname(os.path.abspath(__file__))
SF_DIR = os.path.join(HERE, "data", "sf0.01")
EXPECTED = os.path.join(HERE, "expected.json")

# pipeline input size: streets rows; trails are a fifth of that.
# Recorded digests exist for seeds 0..N_RECORDED-1; other seeds map onto
# them, so every seed has a recorded expected output.
RLIS_STREETS = 16_000
N_RECORDED = 16
TILE_RES = 12
# replication factors of the flagship document set (sf0.01: 500
# documents) and of the generator's span documents (from DOC_STREETS
# streets and a fifth as many trails)
FLAGSHIP_MULT = 128
DOC_STREETS = 2_000
SPAN_MULT = 32

HEADLINE = [
    "s2_tile_assignment_wkb", "s3_tile_rollup", "s5_knn_points",
    "s6_raster_vector", "q01_pricing_summary", "q05_nation_revenue",
    "j2_overlay_fanout", "t13_t20_trails", "d1_exact_dedup",
    "d3_minhash_lsh", "x1_text_quality", "w2_sessionization",
    "rlis_dissolve_cc", "w4_asof_enrichment", "r1_interval_join",
    "ann_topk", "m1_media_features",
]
ORACLE_TABLES = ["region", "nation", "customer", "supplier", "part",
                 "orders", "lineitem", "events", "documents", "embeddings"]


def load_expected() -> dict:
    with open(EXPECTED) as fh:
        return json.load(fh)


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Workload:
    name = ""

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.tr = ctx.tracer

    def prime(self) -> None:
        """Once per checkout, before set-up: build what every run reuses."""

    def prepare(self) -> None:
        """Generate inputs (before the session starts)."""

    def setup(self) -> None:
        """Warm-up: one untimed repetition."""
        self.before_rep(-1)
        self.op(-1)

    def before_rep(self, rep: int) -> None:
        """Untimed clean-up before each repetition."""

    def op(self, rep: int) -> dict:
        raise NotImplementedError

    def legs_per_op(self) -> int:
        raise NotImplementedError

    def throughputs(self, outs: list[dict]) -> dict:
        """name -> (median per-repetition value, unit), for the report."""
        return {}

    def check(self, outs: list[dict]) -> list[str]:
        """Names of the operations whose output failed a check."""
        raise NotImplementedError

    def trace_probes(self) -> list[dict]:
        """Traced run only: extra per-layer probes after the timed run."""
        return []

    def check_probes(self, probes: list[dict]) -> list[str]:
        """Names of the probe operations whose output failed a check."""
        return []


class Pipeline(Workload):
    """The paper's conversion chain over synthetic RLIS streets, trails and
    bike routes, then the document legs over the interleaved documents.

    Conversion: combine, checkpoint stage, ordered dissolve + tag repair,
    checkpoint stage, tile + rollup, OSM sink. Documents: the tile + ring-
    kNN flagship over the sf0.01 documents. Traced runs add the
    span-sequence verification over the generator's documents.
    """

    name = "pipeline"
    # spatial.joins' leg runs spatial.tiles' Python UDFs
    python_layer = {"spatial.joins": "spatial.tiles"}

    def prepare(self) -> None:
        import pyarrow.parquet as pq

        from rlis2osm_spark import datagen

        self.data_seed = self.ctx.seed % N_RECORDED
        self.inputs = rlis_tables(os.path.join(self.ctx.work, "rlis"),
                                  RLIS_STREETS, self.data_seed)
        if self.ctx.trace:  # the span-verification probe's input
            self.docs_dir = os.path.join(self.ctx.work, "docs")
            paths = datagen.generate(self.docs_dir, n_streets=DOC_STREETS,
                                     n_trails=DOC_STREETS // 5,
                                     seed=self.data_seed)
            spans = pq.read_table(paths["documents_rlis"],
                                  columns=["spans"]).column("spans")
            self.n_span_docs = len(spans) * SPAN_MULT
            self.n_spans = sum(len(s) for s in spans.to_pylist()) * SPAN_MULT
        self.n_flagship_docs = pq.ParquetFile(os.path.join(
            SF_DIR, "documents.parquet")).metadata.num_rows * FLAGSHIP_MULT

    def legs_per_op(self) -> int:
        return 5

    def throughputs(self, outs: list[dict]) -> dict:
        """Input ways per second of the conversion legs, and documents per
        second of the tile + kNN leg (the BASELINE.json metric)."""
        med = statistics.median
        return {
            "ways_per_s": (med(self.n_ways / o["convert_s"] for o in outs),
                           "ways/s"),
            "docs_per_s": (med(o["flagship_docs"] / o["flagship_s"]
                               for o in outs), "docs/s"),
        }

    def before_rep(self, rep: int) -> None:
        shutil.rmtree(os.path.join(self.ctx.work, "pipeline_out"),
                      ignore_errors=True)

    def op(self, rep: int) -> dict:
        t0 = time.perf_counter()
        out = self.convert(rep, self.inputs)
        out["convert_s"] = time.perf_counter() - t0
        out.update(self.flagship(FLAGSHIP_MULT))
        return out

    @property
    def n_ways(self) -> int:
        return self.inputs["n_ways"]

    def convert(self, rep: int, inputs: dict) -> dict:
        from rlis2osm_spark.operators.combine import (
            combine, repair_and_filter_tags)
        from rlis2osm_spark.operators.dissolve import dissolve_ways
        from rlis2osm_spark.operators.osm_sink import write_osm_xml
        from rlis2osm_spark.pipeline import tile_rollup
        from rlis2osm_spark.plans.checkpoint import Checkpointer
        from rlis2osm_spark.spatial.tiles import with_tile

        spark, tr = self.spark, self.tr
        rep_dir = os.path.join(self.ctx.work, "pipeline_out", f"rep{rep}")
        streets, trails, bikes = (spark.read.parquet(inputs[n]) for n in
                                  ("streets", "trails", "bike_routes"))
        ck = Checkpointer(spark, rep_dir, run_id="ckpt")
        with tr.span("operators.combine", spark, python=True):
            with tr.span("operators.combine.plan"):
                combined_plan = combine(streets, trails, bikes)
            combined = ck.stage(
                "combined", lambda: combined_plan,
                inputs=[inputs[n] for n in ("streets", "trails",
                                            "bike_routes")])
        with tr.span("operators.dissolve", spark, python=True):
            with tr.span("operators.dissolve.plan"):
                dissolved_plan = repair_and_filter_tags(
                    dissolve_ways(combined, ordered=True))
            dissolved = ck.stage("dissolved", lambda: dissolved_plan,
                                 inputs=["combined"])
        with tr.span("spatial.tiles", spark, python=True):
            with tr.span("spatial.tiles.plan"):
                rollup = tile_rollup(with_tile(dissolved, TILE_RES))
            n_cells = len(rollup.collect())
        osm_dir = os.path.join(rep_dir, "osm")
        with tr.span("operators.osm_sink", spark, python=True):
            sink = write_osm_xml(dissolved, osm_dir).collect()
        return {"osm_dir": osm_dir,
                "osm_bytes": sum(os.path.getsize(r.part_file) for r in sink),
                "dissolved": os.path.join(rep_dir, "ckpt", "dissolved"),
                "n_cells": n_cells,
                "osm_ways": sum(r.n_ways for r in sink),
                "osm_null_geoms": sum(r.n_null_geoms for r in sink),
                "lineage": ck.report()}

    def flagship(self, mult: int) -> dict:
        """The tile + kNN leg: its Python nodes are the tile assignment's
        WKB encode and Arrow midpoint; its stages are the ring-kNN join."""
        from rlis2osm_spark.queries.scaling import scaling_flagship

        spark, tr = self.spark, self.tr
        t0 = time.perf_counter()
        with tr.span("spatial.joins", spark, python=True):
            with tr.span("spatial.joins.plan"):
                plan = scaling_flagship(spark, SF_DIR, mult=mult)
            rows = plan.collect()
        return {"flagship_s": time.perf_counter() - t0,
                "flagship_docs": sum(r.n_docs for r in rows),
                "flagship_matches": sum(r.n_matches for r in rows)}

    def span_verify(self, mult: int) -> dict:
        """The span-sequence verification leg over the generator's
        interleaved documents."""
        from rlis2osm_spark.queries.scaling import scaling_documents

        spark, tr = self.spark, self.tr
        with tr.span("sources.documents", spark):
            with tr.span("sources.documents.plan"):
                plan = scaling_documents(spark, self.docs_dir, mult=mult)
            rows = plan.collect()
        return {"span_docs": sum(r.n_docs for r in rows),
                "span_spans": sum(r.n_spans for r in rows),
                "n_mismatch": sum(r.n_mismatch for r in rows),
                "n_sampled": sum(r.n_sampled for r in rows)}

    def trace_probes(self) -> list[dict]:
        """The span-verification leg, traced runs only: warmed once, then
        measured twice."""
        tr, enabled = self.tr, self.tr.enabled
        tr.enabled = False
        self.span_verify(SPAN_MULT // 8)
        tr.enabled = enabled
        return [self.span_verify(SPAN_MULT) for _ in range(2)]

    def digests(self, out: dict) -> dict:
        dissolved = self.spark.read.parquet(out["dissolved"])
        return {"dissolved": checks.frame_digest(
                    dissolved, exclude=("component_id",)),
                "osm_ways": checks.osm_way_digest(out["osm_dir"]),
                "n_cells": out["n_cells"]}

    def check(self, outs: list[dict]) -> list[str]:
        want = load_expected()
        failed = []
        # each repetition overwrote the previous one's files
        got = self.digests(outs[-1])
        seed_want = want["pipeline"][str(self.data_seed)]
        if got["dissolved"] != seed_want["dissolved"]:
            failed.append("operators.dissolve")
        if (got["osm_ways"] != seed_want["osm_ways"]
                or outs[-1]["osm_null_geoms"]):
            failed.append("operators.osm_sink")
        if got["n_cells"] != seed_want["n_cells"]:
            failed.append("spatial.tiles")
        for out in outs:
            if (out["flagship_docs"] != self.n_flagship_docs
                    or out["flagship_matches"] != want["flagship_matches"]):
                failed.append("spatial.joins")
        return failed

    def check_probes(self, probes: list[dict]) -> list[str]:
        return ["sources.documents" for out in probes
                if out["n_mismatch"] != 0 or out["n_sampled"] <= 0
                or out["span_docs"] != self.n_span_docs
                or out["span_spans"] != self.n_spans]


def rlis_tables(d: str, n_streets: int, seed: int) -> dict:
    """Seeded synthetic RLIS streets, bike routes and trails (a fifth as
    many as streets) written as parquet in ``d``."""
    from rlis2osm_spark import datagen

    os.makedirs(d, exist_ok=True)
    streets = datagen.gen_streets(n_streets, seed)
    frames = {"streets": streets,
              "bike_routes": datagen.gen_bike_routes(streets, seed + 1),
              "trails": datagen.gen_trails(n_streets // 5, seed + 2)}
    paths = {}
    for name, frame in frames.items():
        paths[name] = os.path.join(d, f"{name}.parquet")
        frame.to_parquet(paths[name], index=False)
    paths["n_ways"] = len(streets) + len(frames["trails"])
    return paths


class QuerySuite(Workload):
    """The 17 headline queries over the fixed sf0.01 corpus, one warm
    session, noop sink; the seed permutes the query order."""

    name = "query_suite"

    def prime(self) -> None:
        prime_stage_caches(self.ctx.root, self.ctx.work)

    def prepare(self) -> None:
        self.order = list(HEADLINE)
        random.Random(self.ctx.seed).shuffle(self.order)

    def legs_per_op(self) -> int:
        return len(self.order)

    def setup(self) -> None:
        """The warm-up pass collects every query's rows; ``check`` compares
        them with the DuckDB oracles. The timed passes use the noop sink
        and leave no rows to compare."""
        from rlis2osm_spark.queries import all_queries

        self.queries = all_queries()
        self.warm_rows = {}
        for name in self.order:
            df = self.queries[name](self.spark, SF_DIR)
            self.warm_rows[name] = (df.columns,
                                    [tuple(r) for r in df.collect()])

    def op(self, rep: int) -> dict:
        spark, tr = self.spark, self.tr
        for name in self.order:
            with tr.span(f"queries.{name}", spark, python=True):
                with tr.span("queries.plan"):
                    df = self.queries[name](spark, SF_DIR)
                noop(df)
        return {}

    def check(self, outs: list[dict]) -> list[str]:
        import duckdb

        from rlis2osm_spark.queries import all_oracles

        oracles = all_oracles()
        con = duckdb.connect()
        try:
            for t in ORACLE_TABLES:
                p = os.path.join(SF_DIR, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"read_parquet('{p}')")
            failed = []
            for name in self.order:
                res = con.execute(oracles[name])
                cols, rows = self.warm_rows[name]
                if checks.rowset_mismatch(cols, rows,
                                          [d[0] for d in res.description],
                                          res.fetchall()):
                    failed.append(f"queries.{name}")
            return failed
        finally:
            con.close()

    def trace_probes(self) -> list[dict]:
        """Per-codec decode legs and the two ANN candidate generators,
        each materialized alone (the breakdown of m1 and ann_topk)."""
        from rlis2osm_spark.operators.similarity import (
            ivf_ann_topk, lsh_ann_topk)
        from rlis2osm_spark.queries.content2 import (
            _ann_artifacts, media_feature_legs)

        spark, tr = self.spark, self.tr
        for _ in range(3):  # the median pass excludes the cold first one
            for kind, frame in media_feature_legs(spark, SF_DIR).items():
                with tr.span(f"functions.codecs.{kind}", spark, python=True):
                    noop(frame)
            base, probes, cents = _ann_artifacts(spark, SF_DIR)
            with tr.span("operators.similarity.lsh", spark, python=True):
                noop(lsh_ann_topk(base, probes, dim=64, k=3, n_planes=4,
                                  n_tables=8))
            with tr.span("operators.similarity.ivf", spark, python=True):
                noop(ivf_ann_topk(base, probes, dim=64, k=3, k_centroids=8,
                                  n_probe=3, centroids=cents))
        return []


def prime_stage_caches(root: str, work: str) -> None:
    """Build the program's on-disk stage caches for the sf0.01 corpus
    (``.synth/query_stage``, ``.synth/ann_stage``) once per checkout, in a
    process of its own, so that no run's ``setup_s`` includes building
    them and every run starts from the same primed state. The marker holds
    a digest of the package source; a changed source primes again."""
    import hashlib
    import subprocess
    import sys

    h = hashlib.blake2b(digest_size=16)
    pkg = os.path.join(root, "rlis2osm_spark")
    for dirpath, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for fn in sorted(files):
            if fn.endswith(".py"):
                with open(os.path.join(dirpath, fn), "rb") as fh:
                    h.update(fn.encode() + fh.read())
    marker = os.path.join(work, "primed_stage_caches")
    if os.path.exists(marker):
        with open(marker) as fh:
            if fh.read() == h.hexdigest():
                return
    from perfbench import host

    try:
        subprocess.run([sys.executable, "-c",
                        "from perfbench.workloads import _prime; _prime()"],
                       cwd=root, check=True, timeout=900, stdout=sys.stderr)
    finally:
        # its JVM's children are reparented here once the JVM exits
        host.end_descendants()
    with open(marker, "w") as fh:
        fh.write(h.hexdigest())


def _prime() -> None:
    from perfbench import host
    from perfbench.run import session_settings, stop_spark
    from rlis2osm_spark.driver_support import ensure_package_on_workers
    from rlis2osm_spark.queries import all_queries
    from rlis2osm_spark.session import build_session

    settings = session_settings(False)
    spark = build_session(app_name="perfbench-prime",
                          master=settings["master"],
                          shuffle_partitions=settings["shuffle_partitions"],
                          extra_conf=settings["conf"])
    try:
        spark.sparkContext.setLogLevel("ERROR")
        ensure_package_on_workers(spark)
        queries = all_queries()
        for name in HEADLINE:  # building each plan builds its stages
            queries[name](spark, SF_DIR)
    finally:
        stop_spark(spark)
        host.end_descendants()


WORKLOADS = {w.name: w for w in (Pipeline, QuerySuite)}
