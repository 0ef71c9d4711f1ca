"""Turns the harness's raw records into the benchmark's metrics.

End-to-end metrics come from untraced passes, per-layer metrics from traced
passes; `BENCHMARK.json` lists both sets by name.
"""
import math
import re
import statistics

NAME_RE = re.compile(r"^[A-Za-z0-9_.-]+$")

GROUPS = {
    "ipf_alloc": ["pipeline.cost_allocation", "ipf.converge_wide",
                  "relational.ipf_chains", "matrix.ops"],
    "llm_curation": ["llmdata.dedup", "llmdata.similarity", "llmdata.text",
                     "functions.kernels", "ml.fit"],
    "table_ops": ["io.write", "io.read", "streaming.glpr", "streaming.events"],
}
ALL_GROUPS = [g for gs in GROUPS.values() for g in gs]

GROUP_METRICS = [("wall_s", "s"), ("jobs", "count"), ("tasks", "count"),
                 ("cpu_s", "s"), ("gc_s", "s"), ("shuffle_mb", "MB"),
                 ("idle_core_s", "s"), ("nojob_s", "s"), ("plan_s", "s")]
EXTRA_METRICS = [
    ("pipeline.cost_allocation.sweeps", "count"),
    ("pipeline.cost_allocation.spill_mb", "MB"),
    ("ipf.converge_wide.sweeps", "count"),
    ("ipf.converge_wide.spill_mb", "MB"),
    ("io.write.commit_p50_s", "s"),
    ("io.write.commit_p90_s", "s"),
    ("streaming.glpr.batches", "count"),
    ("streaming.events.batches", "count"),
    ("task_failures", "count"),
    ("sweep_cells_per_s", "cells/s"),
    ("tracing_overhead_s", "s"),
]
END_TO_END = [("setup_s", "s"), ("cold_s", "s"), ("warm_s", "s"), ("cpu_s", "s"),
              ("heap_retained_mb", "MB")]


def per_layer_names():
    """(name, unit) of every per-layer metric, in output order."""
    names = [(f"{g}.{m}", u) for g in ALL_GROUPS for m, u in GROUP_METRICS]
    return names + EXTRA_METRICS


def percentile(values, q):
    """Nearest-rank q-quantile, or None unless at least ten samples lie
    beyond it: a percentile is reported only where ten samples support it."""
    n = len(values)
    rank = max(1, math.ceil(q * n))
    if n - rank < 10:
        return None
    return sorted(values)[rank - 1]


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(result, setup_gen_s):
    """End-to-end metrics from the untraced passes of one run."""
    passes = [p for p in result["passes"] if not p["traced"]]
    cold = passes[0]
    warm = passes[1:]
    values = {
        "setup_s": setup_gen_s + result["jvm_setup_s"],
        "cold_s": cold["wall_s"],
        "warm_s": _median([p["wall_s"] for p in warm]),
        "cpu_s": _median([p["cpu_s"] for p in warm]),
        "heap_retained_mb": _median([p["heap_mb"] for p in warm]),
    }
    return {n: {"value": values[n], "unit": u} for n, u in END_TO_END}


def per_layer(result):
    """Per-layer metrics: each group's per-pass totals over the traced warm
    passes, as medians. Groups a workload does not call read 0."""
    cores = result["cores"]
    calls = [c for c in result["calls"] if c["traced"]]
    traced_passes = sorted({c["pass"] for c in calls})
    values = {}
    for g in ALL_GROUPS:
        per_pass = []
        for p in traced_passes:
            cs = [c for c in calls if c["pass"] == p and c["group"] == g]
            tot = {k: sum(c.get(k, 0.0) for c in cs) for k in
                   ("wall_s", "jobs", "tasks", "cpu_s", "gc_s", "run_s", "shuffle_mb",
                    "nojob_s", "plan_s", "spill_mb", "sweeps", "batches")}
            tot["idle_core_s"] = cores * tot["wall_s"] - tot["run_s"]
            per_pass.append(tot)
        for m, _ in GROUP_METRICS:
            values[f"{g}.{m}"] = _median([t[m] for t in per_pass])
        for m in ("sweeps", "spill_mb", "batches"):
            values[f"{g}.{m}"] = _median([t[m] for t in per_pass])
    commits = [c["commit_s"] for c in calls if c["commit"]]
    for name, q in (("io.write.commit_p50_s", 0.50), ("io.write.commit_p90_s", 0.90)):
        v = percentile(commits, q)
        if v is None and commits:  # the harness runs until both have samples
            raise ValueError(f"{name}: {len(commits)} commit samples are too few")
        values[name] = v if commits else 0.0
    values["task_failures"] = result["task_failures"]
    fits = [c for c in calls if "cells" in c]
    fit_wall = sum(c["wall_s"] for c in fits)
    values["sweep_cells_per_s"] = (sum(c["cells"] * c["sweeps"] for c in fits) / fit_wall
                                   if fit_wall else 0.0)
    passes = result["passes"][1:]
    traced = [p["wall_s"] for p in passes if p["traced"]]
    untraced = [p["wall_s"] for p in passes if not p["traced"]]
    values["tracing_overhead_s"] = _median(traced) - _median(untraced)
    return {n: {"value": values[n], "unit": u} for n, u in per_layer_names()}
