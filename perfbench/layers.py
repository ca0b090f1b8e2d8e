"""Per-layer metrics of a traced run, from its spans and the Spark
accounting of each span's job group. Each layer is named after the engine
module it times."""

from __future__ import annotations

from collections import defaultdict
from statistics import median

from spans import sum_accs

# Spans that run the jobs producing a pass's results; gate checks are
# nested in the gate span, so they add jobs but no wall time.
EXEC_SPANS = ("exec", "sinks.write", "quality.gate")
GATE_SPANS = ("quality.gate", "quality.check")
PIPELINE_LAYERS = ("staging", "dims", "analytics")


def _dur(spans) -> float:
    return sum(s["end"] - s["start"] for s in spans)


def _acc(spans, accs):
    return sum_accs(accs[s["group"]] for s in spans if s.get("group") in accs)


def pass_layers(spans: list[dict], accs: dict, cores: int) -> dict[str, float]:
    """Layer totals over the spans of one pass."""
    by = defaultdict(list)
    for s in spans:
        by[s["name"]].append(s)
    construct = _acc(by["queries.construct"], accs)
    construct_s = _dur(by["queries.construct"])
    exec_spans = [s for n in EXEC_SPANS for s in by[n]]
    ex = _acc(exec_spans + by["quality.check"], accs)
    wall = _dur(exec_spans)
    sinks = by["sinks.write"]
    catalyst = [s["catalyst"] for s in by["exec"] if "catalyst" in s]
    out = {
        "tables.load_s": _dur(by["tables.load"]),
        "queries.construct_s": construct_s,
        "queries.construct_py_s": construct_s - construct["job_s"],
        "queries.construct_jobs": construct["jobs"],
        "queries.construct_job_s": construct["job_s"],
        "catalyst.analysis_s": float(sum(c["analysis"] for c in catalyst)),
        "catalyst.optimization_s": float(sum(c["optimization"] for c in catalyst)),
        "catalyst.planning_s": float(sum(c["planning"] for c in catalyst)),
        "exec.wall_s": wall,
        "exec.jobs": ex["jobs"],
        "exec.stages": ex["stages"],
        "exec.tasks": ex["tasks"],
        "exec.s_per_stage": wall / ex["stages"] if ex["stages"] else 0.0,
        "exec.task_run_s": ex["task_run_s"],
        "exec.task_cpu_s": ex["task_cpu_s"],
        "exec.gc_s": ex["gc_s"],
        "exec.core_busy_ratio": ex["task_run_s"] / (wall * cores) if wall else 0.0,
        "exec.shuffle_write_bytes": ex["shuffle_write_bytes"],
        "exec.shuffle_read_bytes": ex["shuffle_read_bytes"],
        "exec.spill_bytes": ex["spill_bytes"],
        "exec.input_bytes": ex["input_bytes"],
        "exec.failed_tasks": ex["failed_tasks"],
        "sinks.write_s": _dur(sinks),
        "sinks.rows": _acc(sinks, accs)["output_rows"],
        "sinks.bytes": sum(s.get("bytes", 0) for s in sinks),
        "sinks.files": sum(s.get("files", 0) for s in sinks),
        "quality.gate_s": _dur(by["quality.gate"]),
        "quality.jobs": _acc([s for n in GATE_SPANS for s in by[n]], accs)["jobs"],
    }
    for layer in PIPELINE_LAYERS:
        writes = [s for s in sinks if s.get("layer") == layer]
        out[f"pipeline.{layer}_s"] = _dur(by[f"pipeline.{layer}"]) + _dur(writes)
    return out


def layer_metrics(spans, accs, cores: int, first_pass: int, steady_passes: list[int]):
    """Medians over the steady traced passes, except the layers that set
    ``first_pass_s`` (``tables.load_s`` and the Catalyst phases), which are
    taken from the cold first pass."""
    per_pass = defaultdict(list)
    for s in spans:
        per_pass[s["pass"]].append(s)
    first = pass_layers(per_pass[first_pass], accs, cores)
    steady = [pass_layers(per_pass[p], accs, cores) for p in steady_passes]
    out = {k: median([p[k] for p in steady]) for k in first}
    for k in first:
        if k == "tables.load_s" or k.startswith("catalyst."):
            out[k] = first[k]
    return out


def op_detail(spans, accs) -> dict[str, dict]:
    """Per operation (query, table write or gate check): its cost in the
    first pass and its median over the later traced passes."""
    rows = defaultdict(dict)
    for s in spans:
        if s["op"] is None:
            continue
        key = (s["op"], s["pass"])
        row = rows[key]
        name = s["name"]
        row[f"{name}_s"] = row.get(f"{name}_s", 0.0) + s["end"] - s["start"]
        for phase, v in s.get("catalyst", {}).items():
            row[f"catalyst_{phase}_s"] = v
        a = accs.get(s.get("group"))
        if a is None:
            continue
        prefix = "construct" if name == "queries.construct" else "exec"
        for k in ("jobs", "stages", "tasks", "shuffle_read_bytes", "shuffle_write_bytes"):
            row[f"{prefix}_{k}"] = row.get(f"{prefix}_{k}", 0) + a[k]
    by_op = defaultdict(list)
    for (op, p), row in rows.items():
        by_op[op].append((p, row))
    detail = {}
    for op, rs in sorted(by_op.items()):
        rs.sort(key=lambda pr: pr[0])
        first, later = rs[0][1], [r for _, r in rs[1:]]
        keys = sorted({k for _, r in rs for k in r})
        detail[op] = {
            "first_pass": first,
            "steady_median": {k: median([r.get(k, 0) for r in later]) for k in keys}
            if later else {},
        }
    return detail
