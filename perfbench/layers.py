"""Per-layer metrics of a traced run.

The Scala side (Trace.scala) sums, per span name, the span wall, its driver
time (wall minus the time its Spark jobs cover), job count, task time and
shuffle/spill bytes. Here those totals become one value per
layer and counter, normalised per traced round. A layer is the
`src/main` module doing the work: the runner stages of the daily job and
the query modules of query_mix. Every traced run reports every metric; a
layer the workload never calls reads 0. Daily spans carry the day number
(`runner.mart#3`), which growth_table turns into the per-day view of
history growth.
"""
import re

RUNNER = ["extract", "staging", "warehouse", "mart"]
MODULES = ["QueriesCore", "mart", "etl", "ext.Dedup", "ext.Stats",
           "ext.Similarity", "ext.TextStats"]
UNITS = {"wall_s": "s", "driver_s": "s", "build_s": "s", "plan_s": "s",
         "exec_s": "s", "task_s": "s", "jobs": "count",
         "shuffle_bytes": "B", "spill_bytes": "B"}
SPAN = ("wall_s", "driver_s", "jobs", "task_s", "shuffle_bytes")


def names():
    """Every per-layer metric with its unit, in report order."""
    out = [(f"runner.{s}.{k}", UNITS[k]) for s in RUNNER for k in SPAN]
    out += [("etl.dw_plan_nodes", "count"), ("etl.staging_plan_nodes", "count"),
            ("control.log_plan_nodes", "count")]
    out += [(f"query.{m}.{k}", UNITS[k]) for m in MODULES for k in
            ("build_s", "plan_s", "exec_s", "jobs", "task_s", "shuffle_bytes",
             "spill_bytes")]
    out += [("cpu_util", "ratio"), ("trace_overhead_s", "s")]
    return out


def per_layer(result):
    """({name: (value, unit)}, detail) of one traced run."""
    traced = result["rounds"]
    n = len(traced)
    by_layer = {}
    for name, tot in result["layers"].items():
        acc = by_layer.setdefault(re.sub(r"#\d+$", "", name), {})
        for k, v in tot.items():
            acc[k] = acc.get(k, 0.0) + v

    def per_round(layer, key):
        return by_layer.get(layer, {}).get(key, 0.0) / n

    v = {}
    for s in RUNNER:
        for k in SPAN:
            v[f"runner.{s}.{k}"] = per_round(f"runner.{s}", k)
    for k in ("etl.dw_plan_nodes", "etl.staging_plan_nodes", "control.log_plan_nodes"):
        v[k] = float(result["extra"].get(k, 0))
    for m in MODULES:
        parts = [f"query.{m}.{x}" for x in ("build", "plan", "exec")]
        for p in parts:
            v[f"{p}_s"] = per_round(p, "wall_s")
        for k in ("jobs", "task_s", "shuffle_bytes", "spill_bytes"):
            v[f"query.{m}.{k}"] = sum(per_round(p, k) for p in parts)
    wall = sum(r["wall_s"] for r in traced)
    task_s = sum(t.get("task_s", 0.0) for t in by_layer.values())
    v["cpu_util"] = task_s / (wall * result["cores"])
    v["trace_overhead_s"] = result["trace_overhead_s"] / n
    detail = {"spans": result["layers"], "rounds": result["rounds"],
              "cores": result["cores"],
              "extra": result["extra"], "traced_rounds": n}
    return {k: (v[k], u) for k, u in names()}, detail


def growth_table(detail):
    """Per-day lines of the runner stages' driver time and job count."""
    spans, n = detail["spans"], detail["traced_rounds"]
    days = sorted({int(k.split("#")[1]) for k in spans if "#" in k})
    if not days:
        return []
    lines = ["day  " + "".join(f"{s + ' driver_s/jobs':>26}" for s in RUNNER)]
    for d in days:
        cells = [spans.get(f"runner.{s}#{d}", {}) for s in RUNNER]
        lines.append(f"{d:>3}  " + "".join(
            f"{c.get('driver_s', 0) / n:>20.2f}/{c.get('jobs', 0) / n:<5.0f}"
            for c in cells))
    return lines
