"""Per-layer metrics of a traced run, from its spans and the results.

Timings are medians per call over the measured requests; counts are
per measured request, so they do not grow with how many requests fit in
the window. ``self.<layer>_s`` is the mean self time of a layer along
each request's blocking path; together with ``self.untraced_s`` they
sum to ``trace.request_wall_s``.
"""

from __future__ import annotations

import statistics

import stats
import tracing

PHASE1_WORKERS = 3  # degree 4 → degree - 1 workers (TaskScheduler)
OPS = ("recreate", "append_where", "append_bymax", "append_notin", "update")
LAYERS = ("untraced", "api", "plans.scheduler", "operators.load_ops", "store",
          "functions.params", "functions.dialect", "plans.calc")


def _mean(values) -> float:
    return statistics.fmean(values) if values else 0.0


def metrics(run) -> dict[str, tuple[float, str]]:
    tracer = run.tracer
    tasks = [r for r in run.results if r.label == "task"]
    calcs = [r for r in run.results if r.label != "task"]
    allr = run.results
    n_req = max(len(allr), 1)
    mrids = {r.rid for r in allr}
    roots = [s for s in tracer.spans if s.parent is None and s.rid in mrids]
    spans = [s for s in tracer.spans if s.rid in mrids]
    by_name: dict[str, list[float]] = {}
    for s in spans:
        by_name.setdefault(s.name, []).append(s.end - s.start)

    def med(name: str) -> float:
        return stats.median(by_name.get(name, []))

    def per_request(key: str) -> float:
        n = sum(n for (k, rid), n in tracer.counts.items() if k == key and rid in mrids)
        return n / n_req

    out: dict[str, tuple[float, str]] = {}
    # ---- api (client side of the round trips)
    out["api.post_task_s"] = (stats.median([r.post_s for r in tasks]), "s")
    out["api.post_calc_s"] = (stats.median([r.post_s for r in calcs]), "s")
    out["api.get_state_s"] = (stats.median([x for r in allr for x in r.state_s]), "s")
    out["api.state_bytes"] = (stats.median([x for r in allr for x in r.state_bytes]), "bytes")
    out["api.busy_refusals"] = (sum(r.busy_refusals for r in allr) / n_req, "count")

    # ---- plans.scheduler: phases from the op spans of each task
    p1, p2, busy = [], [], []
    task_rids = {s.rid for s in roots if s.name == "request.task"}
    ops_by_rid: dict[str, list] = {}
    for s in spans:
        if s.layer == "operators.load_ops" and s.rid in task_rids:
            ops_by_rid.setdefault(s.rid, []).append(s)
    for ops in ops_by_rid.values():
        ph1 = [s for s in ops if s.name != "load_ops.update"]
        ph2 = [s for s in ops if s.name == "load_ops.update"]
        if ph1:
            wall = max(s.end for s in ph1) - min(s.start for s in ph1)
            p1.append(wall)
            busy.append(sum(s.end - s.start for s in ph1) / (wall * PHASE1_WORKERS))
        p2.append(sum(s.end - s.start for s in ph2))
    out["scheduler.phase1_s"] = (stats.median(p1), "s")
    out["scheduler.phase2_s"] = (stats.median(p2), "s")
    out["scheduler.worker_busy_ratio"] = (stats.median(busy), "ratio")

    # ---- operators.load_ops
    for op in OPS:
        out[f"load_ops.{op}_s"] = (med(f"load_ops.{op}"), "s")
        out[f"load_ops.{op}_rows"] = (
            _mean([r.rows_by_op.get(op, 0) for r in tasks]), "rows")
    out["load_ops.update_full_merges"] = (per_request("load_ops.update_full_merges"), "count")
    out["load_ops.update_files_rewritten"] = (
        per_request("load_ops.update_files_rewritten"), "files")

    # ---- store
    for m in tracing.STORE_WRITES:
        out[f"store.{m}_s"] = (med(f"store.{m}"), "s")
    out["store.commits"] = (per_request("store.commits"), "count")
    out["store.read_s"] = (stats.median(
        [d for m in tracing.STORE_READS for d in by_name.get(f"store.{m}", [])]), "s")
    out["store.meta_s"] = (stats.median(
        [d for m in tracing.STORE_META for d in by_name.get(f"store.{m}", [])]), "s")
    files, bpr = run.store_shape()
    out["store.files_per_table"] = (files, "files")
    out["store.bytes_per_row"] = (bpr, "bytes")
    out["store.conflicts"] = (per_request("store.conflicts"), "count")

    # ---- functions + plans.calc
    out["params.bind_s"] = (med("params.bind"), "s")
    out["dialect.translate_s"] = (med("dialect.translate"), "s")
    for k in ("plan", "materialize", "export", "promote"):
        out[f"calc.{k}_s"] = (med(f"calc.{k}"), "s")
    out["calc.export_rows"] = (stats.median(
        [v for (k, rid), vs in tracer.values.items() if k == "calc.export_rows" and rid in mrids
         for v in vs]), "rows")

    # ---- Spark engine
    out["spark.jobs_per_task"] = (_mean([r.spark_jobs for r in tasks]), "count")
    out["spark.jobs_per_calc"] = (_mean([r.spark_jobs for r in calcs]), "count")

    # ---- blocking-path decomposition and tracing overhead
    per_layer: dict[str, list[float]] = {layer: [] for layer in LAYERS}
    for root in roots:
        mine = [s for s in spans if s.rid == root.rid]
        split = stats.blocking_path(mine, root)
        for layer in LAYERS:
            per_layer[layer].append(split.get(layer, 0.0))
    for layer in LAYERS:
        out[f"self.{layer}_s"] = (_mean(per_layer[layer]), "s")
    wall = _mean([r.end - r.start for r in roots])
    out["trace.request_wall_s"] = (wall, "s")
    per_req = len(spans) / max(len(roots), 1)
    overhead = per_req * tracing.wrapper_cost_s()
    out["trace.spans_per_request"] = (per_req, "count")
    out["trace.overhead_s"] = (overhead, "s")
    out["trace.overhead_ratio"] = (overhead / wall if wall else 0.0, "ratio")
    # the request figures as measured in this traced run, under the
    # name of the workload's class (0 for the classes it does not drive)
    fig = run.figures()
    for label, name in (("task", "task_p50_s"), ("calc", "calc_star_p50_s")):
        out[name] = (fig["p50_s"] if run.label == label else 0.0, "s")
    out["sync_rows_per_s"] = (fig.get("sync_rows_per_s", 0.0), "rows/s")
    out["failed_ratio"] = (fig["failed_ratio"], "ratio")
    return out

