"""Per-layer metrics of a traced run, named ``<layer>.<metric>`` where the
layer is the module path under ``rlis2osm_spark/``.

Each workload reports every name below; a layer the workload never calls
reads 0. Values are medians over the span's occurrences in the traced run
(one per repetition, query pass or probe pass).
"""

from __future__ import annotations

import statistics

from perfbench.trace import SparkRest
from perfbench.workloads import HEADLINE

# legs whose span wraps Spark actions: every stage and Python-node metric
LEG_LAYERS = ["operators.combine", "operators.dissolve", "spatial.tiles",
              "operators.osm_sink", "spatial.joins", "sources.documents"]
LEG_METRICS = {
    "wall_s": "s", "self_s": "s", "jvm_cpu_s": "s", "run_s": "s",
    "gc_s": "s", "shuffle_write_bytes": "B", "spill_bytes": "B",
    "task_skew": "ratio", "py_start_s": "s", "py_init_s": "s",
    "py_run_s": "s", "py_bytes_sent": "B", "py_bytes_returned": "B",
    "py_proc_cpu_s": "s",
}
CODEC_KINDS = ["png", "gif", "bmp", "jpeg", "avi", "wav", "stub"]

PER_LAYER: dict[str, str] = {}
for _layer in LEG_LAYERS:
    for _metric, _unit in LEG_METRICS.items():
        PER_LAYER[f"{_layer}.{_metric}"] = _unit
PER_LAYER.update({
    "operators.osm_sink.bytes_written": "B",
    "plans.checkpoint.stage_wall_s": "s",
    "plans.checkpoint.partition_skew": "ratio",
    **{f"queries.{q}.wall_s": "s" for q in HEADLINE},
    "queries.plan_s": "s",
    "queries.self_s": "s",
    **{f"functions.codecs.{k}.wall_s": "s" for k in CODEC_KINDS},
    "operators.similarity.lsh.wall_s": "s",
    "operators.similarity.ivf.wall_s": "s",
    "session.start_s": "s",
    "driver_support.ship_s": "s",
    "bench.trace_overhead_s": "s",
})

PY_KEYS = ("py_start_s", "py_init_s", "py_run_s", "py_bytes_sent",
           "py_bytes_returned", "py_proc_cpu_s")


def _median(values) -> float:
    return float(statistics.median(values)) if values else 0.0


def _recon_row(workload: str, leg: str, rows: list[dict]) -> dict:
    """Python-worker counters of one leg next to the /proc CPU time of the
    pyspark daemon and its workers over the same span (medians)."""
    row = {"workload": workload, "leg": leg, "occurrences": len(rows)}
    for k in ("wall_s", "py_start_s", "py_init_s", "py_run_s",
              "py_proc_cpu_s"):
        row[k] = _median([r[k] for r in rows])
    return row


def layer_metrics(spark, tracer, workload, outs: list[dict],
                  phases: dict, overhead_s: float) -> tuple[dict, list]:
    """(per-layer metric values, Python-worker reconciliation rows)."""
    spans = tracer.spans
    self_t = tracer.self_times()
    groups = {s["job_group"] for s in spans if "job_group" in s}
    spark_m = SparkRest(spark).group_metrics(groups)

    by_name: dict[str, list[dict]] = {}
    for s in spans:
        row = {"wall_s": s["end"] - s["start"], "self_s": self_t[s["id"]]}
        if "py_proc_cpu_s" in s:
            row["py_proc_cpu_s"] = s["py_proc_cpu_s"]
        row.update(spark_m.get(s.get("job_group"), {}))
        by_name.setdefault(s["name"], []).append(row)

    out: dict[str, float] = dict.fromkeys(PER_LAYER, 0.0)
    recon = []
    # a leg can run another layer's Python UDFs: the tile + kNN leg
    # (spatial.joins) runs spatial.tiles' WKB encode and Arrow midpoint, so
    # its Python-node metrics add to spatial.tiles'
    py_owner = getattr(workload, "python_layer", {})
    for layer in LEG_LAYERS:
        rows = by_name.get(layer, [])
        if not rows:
            continue
        leg = {m: _median([r[m] for r in rows if m in r])
               for m in LEG_METRICS}
        owner = py_owner.get(layer, layer)
        for metric, value in leg.items():
            if metric in PY_KEYS:
                out[f"{owner}.{metric}"] += value
            else:
                out[f"{layer}.{metric}"] = value
        if "py_proc_cpu_s" in rows[0]:
            recon.append(_recon_row(workload.name, layer, rows))

    for q in HEADLINE:
        rows = by_name.get(f"queries.{q}", [])
        out[f"queries.{q}.wall_s"] = _median([r["wall_s"] for r in rows])
        if rows and "py_proc_cpu_s" in rows[0] and any(
                r["py_run_s"] for r in rows):
            recon.append(_recon_row(workload.name, f"queries.{q}", rows))
    # per pass: the sum over the pass's queries, then the median pass
    passes = by_name.get(workload.name, [])
    if passes and any(f"queries.{q}" in by_name for q in HEADLINE):
        plan = by_name.get("queries.plan", [])
        n = len(passes)
        out["queries.plan_s"] = sum(r["wall_s"] for r in plan) / n
        out["queries.self_s"] = sum(
            r["self_s"] for q in HEADLINE
            for r in by_name.get(f"queries.{q}", [])) / n
    for name in ([f"functions.codecs.{k}" for k in CODEC_KINDS]
                 + ["operators.similarity.lsh", "operators.similarity.ivf"]):
        out[f"{name}.wall_s"] = _median(
            [r["wall_s"] for r in by_name.get(name, [])])

    lineage = [m for o in outs for m in o.get("lineage", [])
               if not m.get("resumed")]
    if lineage:
        per_rep: dict[int, float] = {}
        for i, o in enumerate(outs):
            per_rep[i] = sum(m["wall_seconds"] for m in o.get("lineage", []))
        out["plans.checkpoint.stage_wall_s"] = _median(list(per_rep.values()))
        out["plans.checkpoint.partition_skew"] = max(
            m["max_partition_rows"]
            / max(m["row_count"] / max(m["n_partitions"], 1), 1)
            for m in lineage)
    if outs and "osm_bytes" in outs[0]:
        out["operators.osm_sink.bytes_written"] = _median(
            [o["osm_bytes"] for o in outs])
    out["session.start_s"] = phases["session_start_s"]
    out["driver_support.ship_s"] = phases["ship_s"]
    out["bench.trace_overhead_s"] = overhead_s
    return out, recon


def markdown(records: list[dict]) -> str:
    """The per-layer table and the Python-worker reconciliation of traced
    run records, as Markdown."""
    lines = ["| workload | metric | value | unit |", "| --- | --- | --- | --- |"]
    for rec in records:
        for name, unit in PER_LAYER.items():
            value = rec["layers"].get(name, 0.0)
            if value:
                lines.append(f"| {rec['workload']} | `{name}` | "
                             f"{value:.4g} | {unit} |")
    lines += ["", "| workload | leg | runs | wall_s | py_start_s | py_init_s "
              "| py_run_s | py_proc_cpu_s |",
              "| --- | --- | --- | --- | --- | --- | --- | --- |"]
    for rec in records:
        for row in rec["python_reconciliation"]:
            lines.append(
                f"| {row['workload']} | `{row['leg']}` | {row['occurrences']}"
                + "".join(f" | {row[k]:.3g}" for k in (
                    "wall_s", "py_start_s", "py_init_s", "py_run_s",
                    "py_proc_cpu_s")) + " |")
    return "\n".join(lines) + "\n"


if __name__ == "__main__":
    import json
    import sys

    recs = []
    for path in sys.argv[1:]:
        with open(path) as fh:
            recs.append(json.load(fh))
    sys.stdout.write(markdown(recs))
