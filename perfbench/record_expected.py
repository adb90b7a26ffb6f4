"""Record the expected outputs that ``pipeline``'s checks compare against.

    python3 perfbench/record_expected.py

Run from the root of a checkout whose outputs are known good. For every
recorded seed it runs the conversion legs and stores the dissolved-row
digest, the OSM way digest and the tile count; it also stores the flagship
match total, whose input is the fixed sf0.01 corpus. Writes
``perfbench/expected.json``.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.getcwd())

from perfbench import host, run, workloads  # noqa: E402


class _Args:
    workload = "pipeline"
    trace = 0

    def __init__(self, seed):
        self.seed = seed


def main() -> int:
    from rlis2osm_spark.driver_support import ensure_package_on_workers
    from rlis2osm_spark.session import build_session

    host.become_subreaper()
    settings = run.session_settings(False)
    spark = build_session(app_name="perfbench-record",
                          master=settings["master"],
                          shuffle_partitions=settings["shuffle_partitions"],
                          extra_conf=settings["conf"])
    spark.sparkContext.setLogLevel("ERROR")
    ensure_package_on_workers(spark)
    expected = {"pipeline": {}}
    try:
        for seed in range(workloads.N_RECORDED):
            ctx = run.Context(_Args(seed))
            ctx.spark = spark
            wl = workloads.Pipeline(ctx)
            wl.prepare()
            wl.before_rep(0)
            out = wl.convert(0, wl.inputs)
            expected["pipeline"][str(seed)] = wl.digests(out)
            run.log(f"seed {seed}: {expected['pipeline'][str(seed)]}")
        expected["flagship_matches"] = wl.flagship(
            workloads.FLAGSHIP_MULT)["flagship_matches"]
    finally:
        run.stop_spark(spark)
        host.end_descendants()
    with open(workloads.EXPECTED, "w") as fh:
        json.dump(expected, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
