#!/usr/bin/env python
"""spark-submit entry point for the full pipeline (north-rule launch shape):
``pipeline.convert`` (combine -> dissolve -> OSM fragments under
``<out>/<run-id>/osm``) plus the document tile assignment and rollup, every
stage a snapshot that a rerun resumes.

Cluster:
    python -c "from rlis2osm_spark.driver_support import ensure_package_on_workers"  # builds .cache zip
    spark-submit --py-files .cache/rlis2osm_spark_pyfiles.zip \
        scripts/run_pipeline.py --data-dir <dir> --out <dir> [--no-resume] [--osm <path>]

Local:
    python scripts/run_pipeline.py --data-dir .synth/verify_demo --out /tmp/out
"""

from __future__ import annotations

import argparse
import json
import sys
import os

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--data-dir", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--run-id", default="rlis")
    ap.add_argument("--res", type=int, default=12)
    ap.add_argument("--no-resume", action="store_true",
                    help="invalidate existing snapshots first")
    ap.add_argument("--osm", default=None, metavar="PATH",
                    help="also merge the OSM fragments into this single "
                         "artifact (reference main.py:248-257 emits one "
                         "rlis.osm)")
    # reference CLI parity (main.py:171-206): -r refresh + -q/-v log control
    ap.add_argument("-r", "--refresh", action="store_true",
                    help="regenerate source data, overwriting existing files,"
                         " and invalidate checkpoint snapshots (reference"
                         " main.py:180-185)")
    log_group = ap.add_mutually_exclusive_group()
    log_group.add_argument("-q", "--quiet", action="store_true",
                           help="suppress all non-error messages")
    log_group.add_argument("-v", "--verbose", action="store_true",
                           help="display all messages describing the"
                                " conversion process")
    args = ap.parse_args()

    from rlis2osm_spark.datagen import ensure_dataset
    from rlis2osm_spark.driver_support import ensure_package_on_workers
    from rlis2osm_spark.pipeline import convert, tile_assignment, tile_rollup
    from rlis2osm_spark.plans.checkpoint import Checkpointer
    from rlis2osm_spark.session import build_session

    ensure_dataset(args.data_dir, refresh=args.refresh)
    spark = build_session(app_name="rlis2osm_spark-pipeline")
    ensure_package_on_workers(spark)
    spark.sparkContext.setLogLevel(
        "ERROR" if args.quiet else "INFO" if args.verbose else "WARN")

    ck = Checkpointer(spark, args.out, args.run_id)
    if args.no_resume or args.refresh:
        # refreshed inputs make every snapshot stale by definition
        for stage in ("combined", "dissolved", "tiled"):
            ck.invalidate(stage)

    dissolved, sink, lineage = convert(spark, args.data_dir, args.out,
                                       run_id=args.run_id, merged=args.osm)

    doc_paths = [os.path.join(args.data_dir, f"{n}.parquet")
                 for n in ("documents_rlis", "media")]
    docs, media = (spark.read.parquet(p) for p in doc_paths)
    tiled = ck.stage(
        "tiled",
        lambda: tile_assignment(docs, media, res=args.res).drop("spans"),
        inputs=doc_paths,
    )
    rollup = tile_rollup(tiled)

    summary = {
        "dissolved_ways": dissolved.count(),
        "tiled_docs": tiled.count(),
        "cells": rollup.count(),
        "osm": {k: v for k, v in sink.items() if k != "fragments"},
    }
    if not args.quiet:  # -q keeps only the result line, like the reference
        summary["lineage"] = lineage + ck.report()
    print(json.dumps(summary, indent=1, default=str))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
