"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
        --trace <0|1>

Run from the root of a checkout. One driver process runs the workload as
a closed loop at ``local[nproc]``: set-up (input generation, session
start, shipping the package, one untimed warm-up repetition), then
repetitions of the workload until ``--seconds`` have passed, then the
output checks. Program caches that every run reuses are primed once per
checkout, before set-up. Human-readable metrics go to stderr and the last line of
stdout is one JSON object: ``correct``, ``attempted``, ``failed`` and the
metrics (end-to-end ones with ``--trace 0``, per-layer ones with
``--trace 1``). Every run also writes one structured record under
``.perfbench_work/records/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback
import zipfile

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench_work")
PKG = "rlis2osm_spark"
SHIPPED_ZIP = os.path.join(ROOT, ".cache", "rlis2osm_spark_pyfiles.zip")


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def session_settings(trace: bool) -> dict:
    """Spark settings fitted to this host: all its cores, one shuffle
    partition per core, a fixed driver heap of an eighth of MemTotal."""
    from perfbench import host

    n = host.nproc()
    heap_mb = int(min(max(host.mem_total_bytes() // 8 // 2 ** 20, 1024), 8192))
    tmp = os.path.join(WORK, "tmp")
    return {
        "master": f"local[{n}]",
        "shuffle_partitions": n,
        "conf": {
            "spark.driver.memory": f"{heap_mb}m",
            # MB-sized inputs: give scans more than one task each
            "spark.sql.files.maxPartitionBytes": str(4 * 2 ** 20),
            "spark.ui.enabled": "true" if trace else "false",
            # the traced run reads every job of the run back from the UI
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": tmp,
            # a fixed-size heap: no resizing decisions that move peak RSS
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -Xms{heap_mb}m",
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        },
    }


def stop_spark(spark) -> None:
    """Stop the session, then end its JVM: the py4j gateway JVM exits
    once its standard input closes. ``host.end_descendants`` waits for
    it and for its children."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        spark.stop()
    finally:
        if gateway is not None:
            try:
                gateway.shutdown()
            finally:
                SparkContext._gateway = SparkContext._jvm = None
                proc = getattr(gateway, "proc", None)
                if proc is not None and proc.stdin is not None:
                    proc.stdin.close()


def verify_shipped_zips(spark) -> None:
    """Every zip shipped to the Python workers must hold exactly the
    package's current source, or workers could run code other than this
    checkout's. The check reads the copies the workers import from."""
    from pyspark import SparkFiles

    pkg_dir = os.path.join(ROOT, PKG)
    want = {}
    for dirpath, _dirs, files in os.walk(pkg_dir):
        for fn in files:
            if fn.endswith(".py"):
                full = os.path.join(dirpath, fn)
                with open(full, "rb") as fh:
                    want[os.path.relpath(full, ROOT)] = fh.read()
    for name in spark.sparkContext._python_includes:
        if not name.endswith(".zip"):
            continue
        with zipfile.ZipFile(os.path.join(SparkFiles.getRootDirectory(),
                                          name)) as zf:
            got = {n: zf.read(n) for n in zf.namelist()}
        if got != want:
            stale = sorted(set(got) ^ set(want) | {
                n for n in set(got) & set(want) if got[n] != want[n]})
            raise RuntimeError(f"shipped {name} differs from the source: "
                               f"{stale[:5]}")


class Context:
    def __init__(self, args):
        from perfbench.trace import Tracer

        self.root = ROOT
        self.work = WORK
        self.seed = args.seed
        self.trace = bool(args.trace)
        self.spark = None
        self.tracer = Tracer(f"{args.workload}-{args.seed}", False)


def timed_loop(wl, seconds: float, tracer) -> tuple[list, list, int, list]:
    """Repetitions of ``wl.op`` until ``seconds`` have passed (at least
    one): (per-repetition timings, outputs, operations attempted,
    operations failed)."""
    from perfbench import host

    reps, outs, failed, attempted = [], [], [], 0
    t_end = time.perf_counter() + seconds
    while True:
        rep = len(reps)
        wl.before_rep(rep)
        attempted += wl.legs_per_op()
        steal0, jit0 = host.steal_seconds(), host.jit_cpu_seconds()
        cpu0, t0 = host.tree_cpu_seconds(), time.perf_counter()
        try:
            with tracer.span(wl.name):
                out = wl.op(rep)
        except Exception:  # a repetition that raised fails all its legs
            log(traceback.format_exc())
            failed.extend([f"rep{rep}"] * wl.legs_per_op())
            break
        t1 = time.perf_counter()
        reps.append({"wall_s": t1 - t0,
                     "cpu_s": host.tree_cpu_seconds() - cpu0,
                     # diagnostics: CPU the hypervisor gave to other guests
                     # and CPU the JIT compiler used, during this repetition
                     "steal_s": host.steal_seconds() - steal0,
                     "jit_cpu_s": host.jit_cpu_seconds() - jit0,
                     **{k: v for k, v in out.items()
                        if isinstance(v, (int, float))}})
        outs.append(out)
        if t1 >= t_end:
            break
    return reps, outs, attempted, failed


def run_checks(check, outs: list[dict]) -> list[str]:
    """``check(outs)``; a check that raised fails one operation."""
    if not outs:
        return []
    try:
        return check(outs)
    except Exception:
        log(traceback.format_exc())
        return ["check"]


def run(args) -> tuple[dict, dict]:
    """(result line, structured record) of one benchmark run."""
    from perfbench import host
    from perfbench.workloads import WORKLOADS

    record = {"workload": args.workload, "seed": args.seed,
              "seconds": args.seconds, "trace": args.trace,
              "host_before": host.host_facts()}
    ctx = Context(args)
    wl = WORKLOADS[args.workload](ctx)
    settings = session_settings(bool(args.trace))
    record["settings"] = settings

    wl.prime()
    # ---- set-up: timed as setup_s, outside the measured section
    phases = {}
    t_setup = t = time.perf_counter()
    if os.path.exists(SHIPPED_ZIP):
        os.remove(SHIPPED_ZIP)
    wl.prepare()
    phases["prepare_s"] = time.perf_counter() - t

    from rlis2osm_spark.driver_support import ensure_package_on_workers
    from rlis2osm_spark.session import build_session

    t = time.perf_counter()
    spark = build_session(app_name=f"perfbench-{args.workload}",
                          master=settings["master"],
                          shuffle_partitions=settings["shuffle_partitions"],
                          extra_conf=settings["conf"])
    spark.sparkContext.setLogLevel("ERROR")
    phases["session_start_s"] = time.perf_counter() - t
    ctx.spark = wl.spark = spark
    try:
        t = time.perf_counter()
        ensure_package_on_workers(spark)
        verify_shipped_zips(spark)
        phases["ship_s"] = time.perf_counter() - t
        t = time.perf_counter()
        wl.setup()
        phases["warmup_s"] = time.perf_counter() - t
        setup_s = time.perf_counter() - t_setup

        # ---- measured section: closed loop, one repetition at a time
        reps, outs, attempted, failed = timed_loop(wl, args.seconds, ctx.tracer)
        record["reps"] = reps
        if args.trace and not failed:
            # the same loop with spans on, between two loops with spans
            # off: the traced median minus the untraced median is the
            # tracing overhead, with the warm-up drift on both sides
            ctx.tracer.enabled = True
            t_reps, outs, t_att, failed = timed_loop(wl, args.seconds,
                                                     ctx.tracer)
            ctx.tracer.enabled = False
            record["traced_reps"] = t_reps
            attempted += t_att
        # ---- output checks, outside all timing
        failed.extend(run_checks(wl.check, outs))
        if args.trace and not failed:
            u_reps, _, u_att, failed = timed_loop(wl, args.seconds,
                                                  ctx.tracer)
            attempted += u_att
            record["untraced_reps"] = reps + u_reps
            ctx.tracer.enabled = True
            probes = wl.trace_probes()
            ctx.tracer.enabled = False
            attempted += len(probes)
            failed.extend(run_checks(wl.check_probes, probes))
        record["failed_ops"] = failed
        if args.trace and record.get("untraced_reps"):
            from perfbench.layers import layer_metrics

            overhead = (statistics.median(r["wall_s"]
                                          for r in record["traced_reps"])
                        - statistics.median(r["wall_s"]
                                            for r in record["untraced_reps"]))
            record["layers"], record["python_reconciliation"] = layer_metrics(
                spark, ctx.tracer, wl, outs, phases, overhead)
            record["spans"] = ctx.tracer.spans
        peak_rss = host.tree_peak_rss_bytes()
    finally:
        stop_spark(spark)

    record["host_after"] = host.host_facts()
    record["setup_phases"] = phases
    wall = statistics.median(r["wall_s"] for r in reps) if reps else 0.0
    cpu = statistics.median(r["cpu_s"] for r in reps) if reps else 0.0
    e2e = {"wall_s": (wall, "s"), "cpu_s": (cpu, "s"),
           "setup_s": (setup_s, "s"), "peak_rss_mb": (peak_rss / 2 ** 20, "MB")}
    report = dict(e2e)
    report["fail_ratio"] = (len(failed) / max(attempted, 1), "ratio")
    if outs:
        report.update(wl.throughputs(outs))
    record["report"] = {k: {"value": v, "unit": u}
                        for k, (v, u) in report.items()}
    for k, (v, u) in report.items():
        log(f"{args.workload} {k} = {v:.6g} {u}")

    if args.trace:
        from perfbench.layers import PER_LAYER

        layers = record.get("layers", {})
        metrics = {k: {"value": layers.get(k, 0.0), "unit": u}
                   for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    result = {"correct": not failed and bool(reps),
              "attempted": max(attempted, 1), "failed": len(failed),
              "metrics": metrics}
    record["result"] = result
    return result, record


def write_record(record: dict) -> str:
    os.makedirs(os.path.join(WORK, "records"), exist_ok=True)
    path = os.path.join(WORK, "records",
                        f"{record['workload']}-seed{record['seed']}-"
                        f"trace{record['trace']}.json")
    with open(path, "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    return path


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PKG, "__init__.py")):
        log(f"{ROOT} holds no {PKG}/ package: run from a checkout root")
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; have {sorted(WORKLOADS)}")
        return 2
    # Spark, the JVM and pyspark write scratch files; keep them in here
    tmp = os.path.join(WORK, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    from perfbench import host

    # every process the run starts ends before it returns, on every path
    host.become_subreaper()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        result, record = run(args)
    finally:
        host.end_descendants()
    log(f"record: {write_record(record)}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
