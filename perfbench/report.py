"""Turn a run's measurements into the end-to-end and per-layer metrics.

Every workload prints the same metric names (BENCHMARK.json lists
them); README.md gives each one's meaning per workload. Metrics that
only some workloads have go into the detail line with their unit and
sample count.
"""

from __future__ import annotations

import json
import os
import time

from harness import CACHE, gmean, median, metric, pct_nearest, tail
from spans import self_times

END_TO_END = ("setup_s", "run_wall_s", "lat_gmean_s", "peak_rss_mb")

PER_LAYER = {
    "session.start_s": "s",
    "sources.register_views_s": "s",
    "dsl.parse_ms": "ms",
    "queries.build_s": "s",
    "queries.eager_jobs": "count",
    "engine.execute_s": "s",
    "engine.eager_jobs": "count",
    "ml.train_jobs": "count",
    "ml.predict_jobs": "count",
    "ml.evaluate_jobs": "count",
    "ml.registry_bytes_written": "bytes",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.failed_tasks": "count",
    "exec.task_busy_s": "s",
    "exec.core_util": "ratio",
    "exec.input_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "result.fetch_s": "s",
    "result.rows": "count",
    "caching.persisted_frames": "count",
    "caching.persisted_bytes": "bytes",
    "streaming.batches": "count",
    "streaming.trigger_ms": "ms",
    "streaming.query_planning_ms": "ms",
    "streaming.backlog_rows": "count",
    "trace.overhead_s": "s",
}


def end_to_end(wl, measured, setup_s: float, rss_mb: float) -> tuple[dict, dict]:
    """The gated metrics (value and unit) and every metric of the
    workload (value, unit, sample count) for the detail line."""
    extra = {
        "setup_s": metric(setup_s, "s", 1),
        **wl.detail_metrics(measured),
        "peak_rss_mb": metric(rss_mb, "MB", 1),
    }
    return {k: {"value": extra[k]["value"], "unit": extra[k]["unit"]} for k in END_TO_END}, extra


def closed_loop_detail(outcomes, walls: list[float], kinds: dict[str, str]) -> dict:
    """run_wall_s, the statement latency geometric mean, p50 and tail,
    and a p50 per statement kind (``kinds`` maps a kind to its metric
    name).

    The geometric mean is the gated latency: it weighs every statement
    alike whatever its length, as TPC-H's power metric does, so each
    run averages the noise of all its statements. The median of a
    short list of statements of different lengths is the latency of
    one of them, and swings further from run to run (README.md)."""
    lats = [o.wall_s for o in outcomes]
    out = {
        "run_wall_s": metric(median(walls), "s", len(walls)),
        "lat_gmean_s": metric(gmean(lats), "s", len(lats)),
        "lat_p50_s": metric(median(lats), "s", len(lats)),
    }
    t = tail(lats)
    if t is not None:
        out["stmt_tail_s"] = metric(t["value"], "s", t["n"], percentile=t["percentile"], beyond=t["beyond"])
    for kind, name in kinds.items():
        xs = [o.wall_s for o in outcomes if o.stmt.kind == kind]
        if xs:
            out[name] = metric(median(xs), "s", len(xs))
    return out


def _sum(outcomes, key, pred=lambda o: True, sub=None) -> float:
    total = 0.0
    for o in outcomes:
        if not pred(o):
            continue
        v = o.layers.get(key)
        if sub is not None and isinstance(v, dict):
            v = v.get(sub)
        if v is not None:
            total += v
    return total


def per_layer(wl, ctx, measured, tracer) -> tuple[dict, dict]:
    """Per-layer metrics from the traced run, and the trace detail.

    Sums are per pass (totals divided by the number of passes). A
    counter the status store could not give is reported as ``null``
    in the detail and left out of the sum.
    """
    spans = tracer.spans

    def setup_span(name):
        return next((s["end"] - s["start"] for s in spans if s["trace"] == "setup" and s["name"] == name), 0.0)

    outcomes, walls = measured.outcomes, measured.walls
    passes = max(1, len(walls))
    is_query = lambda o: o.stmt.layer == "queries.build"  # noqa: E731
    is_engine = lambda o: o.stmt.layer == "engine.execute"  # noqa: E731

    def ml_jobs(kind):
        return _sum(outcomes, "exec", lambda o: o.stmt.ml == kind, "jobs") / passes

    parse = [o.layers["parse_ms"] for o in outcomes if "parse_ms" in o.layers]
    busy = _sum(outcomes, "exec", sub="task_busy_s")
    wall = sum(walls) if walls else 0.0
    v = {
        "session.start_s": setup_span("session.start"),
        "sources.register_views_s": setup_span("sources.register_views"),
        "dsl.parse_ms": median(parse) if parse else 0.0,
        "queries.build_s": _sum(outcomes, "build_s", is_query) / passes,
        "queries.eager_jobs": _sum(outcomes, "eager_jobs", is_query) / passes,
        "engine.execute_s": _sum(outcomes, "build_s", is_engine) / passes,
        "engine.eager_jobs": _sum(outcomes, "eager_jobs", is_engine) / passes,
        "ml.train_jobs": ml_jobs("train"),
        "ml.predict_jobs": ml_jobs("predict"),
        "ml.evaluate_jobs": ml_jobs("evaluate"),
        "ml.registry_bytes_written": float(_dir_bytes(ctx.dirs.models)),
        "catalyst.analysis_ms": _sum(outcomes, "catalyst", sub="analysis") / passes,
        "catalyst.optimization_ms": _sum(outcomes, "catalyst", sub="optimization") / passes,
        "catalyst.planning_ms": _sum(outcomes, "catalyst", sub="planning") / passes,
        "exec.core_util": busy / (wall * ctx.spark.sparkContext.defaultParallelism) if wall else 0.0,
        "result.fetch_s": _sum(outcomes, "fetch_s") / passes,
        "result.rows": _sum(outcomes, "rows") / passes,
        "caching.persisted_frames": max((o.layers.get("persisted_frames", 0) for o in outcomes), default=0),
        "caching.persisted_bytes": max((o.layers.get("persisted_bytes", 0) for o in outcomes), default=0),
        "trace.overhead_s": ctx.overhead_s / passes,
    }
    for k in ("jobs", "stages", "tasks", "failed_tasks", "task_busy_s", "input_bytes",
              "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"):
        v[f"exec.{k}"] = _sum(outcomes, "exec", sub=k) / passes
    v.update(streaming_layers(measured.legs))
    for k in PER_LAYER:
        v.setdefault(k, 0.0)

    selfs = self_times(spans)
    per_stmt = []
    for o in outcomes:
        sid = o.layers.get("span")
        by_name = {"stmt": selfs[sid]}
        for s in spans:
            if s["parent"] == sid:
                by_name[s["name"]] = by_name.get(s["name"], 0.0) + selfs[s["id"]]
        per_stmt.append({
            "stmt": o.stmt.name, "pass": o.pass_no, "wall_s": round(o.wall_s, 4),
            "self_s": {k: round(x, 4) for k, x in by_name.items()},
            **{k: o.layers.get(k) for k in ("eager_jobs", "exec", "catalyst", "rows")},
        })
    path = CACHE / "traces" / f"{wl.name}-seed{ctx.seed}-{os.getpid()}.json"
    path.parent.mkdir(parents=True, exist_ok=True)
    with open(path, "w") as f:
        json.dump({"workload": wl.name, "seed": ctx.seed, "written": time.time(), "spans": spans}, f)
    detail = {
        "file": str(path.relative_to(CACHE.parent)),
        "statements": per_stmt,
        "unavailable": sorted({k for o in outcomes for k, x in (o.layers.get("exec") or {}).items() if x is None}),
        "traced_run_wall_s": median(walls) if walls else None,
    }
    return {k: {"value": float(v[k]), "unit": u} for k, u in PER_LAYER.items()}, detail


def streaming_layers(legs: dict) -> dict:
    batches = [p for leg in legs.values() for p in leg["progress"] if p["numInputRows"] > 0]
    if not batches:
        return {}
    return {
        "streaming.batches": float(len(batches)),
        "streaming.trigger_ms": median([p["durationMs"]["triggerExecution"] for p in batches]),
        "streaming.query_planning_ms": median([p["durationMs"].get("queryPlanning", 0) for p in batches]),
        "streaming.backlog_rows": float(max(leg["backlog_rows"] for leg in legs.values())),
    }


def _dir_bytes(path) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def serving_detail(legs: dict, limit_ms: float) -> dict:
    """Per-rate latency percentiles and the highest rate that met the
    p99 limit without a growing backlog."""
    out = {}
    best = None
    for label, leg in legs.items():
        lats = leg["lat_ms"]
        p50 = pct_nearest(lats, 50)
        p99 = pct_nearest(lats, 99)
        out[f"serve_p50_ms.{label}"] = metric(p50, "ms", len(lats))
        out[f"serve_p99_ms.{label}"] = metric(p99, "ms", len(lats))
        out[f"serve_lag_growth_s.{label}"] = metric(leg["lag_growth_s"], "s", leg["batches"])
        if p99 <= limit_ms and leg["lag_growth_s"] <= 0.5:
            best = max(best or 0, leg["rate"])
    out["serve_max_rate_rps"] = metric(best or 0, "rps", len(legs))
    return out
