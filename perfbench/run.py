"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload jobs_bound --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. Each run is one process at
local[nproc]. The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0``
the metrics are the end-to-end ones, with ``--trace 1`` the
per-layer ones. The line before it (``{"detail": ...}``) carries
every workload-specific metric with its unit and sample count, the
host probes and the failures. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
sys.path.insert(1, str(Path(__file__).resolve().parent.parent))

from harness import (  # noqa: E402
    Ctx, RunDirs, cpu_steal_s, host_probe, log, nproc, peak_rss_mb, process_age_s, stop_spark,
)
from report import end_to_end, per_layer  # noqa: E402
from spans import Tracer  # noqa: E402

DRIVER_MEMORY = "2g"


def setup(wl, dirs: RunDirs, sf_dir: str, tracer: Tracer, cores: int):
    """Session, views, Engine and one trivial statement: ready."""
    from declarativeml_spark.engine import Engine
    from declarativeml_spark.session import get_spark
    from declarativeml_spark.sources.catalog import register_views

    with tracer.span("setup", trace_id="setup"):
        with tracer.span("session.start"):
            spark = get_spark("perfbench", cpus=str(cores))
            spark.sparkContext.setCheckpointDir(str(dirs.checkpoints))
        with tracer.span("sources.register_views"):
            register_views(spark, sf_dir)
            wl.views(spark)
        with tracer.span("engine.init"):
            engine = Engine(spark, model_dir=str(dirs.models))
        with tracer.span("trivial_statement"):
            engine.execute("PROFILE nation ON n_nationkey").toPandas()
    return spark, engine


def execute(wl, seed: int, seconds: float, trace: bool, from_process_start: bool = True) -> tuple[dict, dict]:
    """Set up, measure, check and tear down one workload run.

    The set-up is timed from process start, or from this call when
    ``from_process_start`` is false (a second run in one process).
    Returns the detail record and the result line.
    """
    t_call = time.perf_counter()
    age_at_call = process_age_s() if from_process_start else 0.0
    from workloads import dataset

    cores = nproc()
    dirs = RunDirs(wl.name)
    dirs.export_env(DRIVER_MEMORY)
    tracer = Tracer(trace)
    spark = None
    try:
        t0 = time.perf_counter()
        sf_dir = dataset(wl.sf, wl.data_seed, dirs.base)
        gen_s = time.perf_counter() - t0
        spark, engine = setup(wl, dirs, sf_dir, tracer, cores)
        # process start to ready: interpreter, imports, JVM launch and
        # the set-up itself, data generation excluded
        setup_s = age_at_call + time.perf_counter() - t_call - gen_s
        log(f"# setup_s: {setup_s:.3f} (data generation {gen_s:.3f})")
        ctx = Ctx(spark, engine, dirs, sf_dir, seed, tracer)
        probe_before = host_probe(spark, cores)
        steal0, t_measure = cpu_steal_s(), time.perf_counter()
        measured = wl.measure(ctx, seconds)
        measure_s = time.perf_counter() - t_measure
        steal_s = cpu_steal_s() - steal0
        probe_after = host_probe(spark, cores)
        rss, rss_split = peak_rss_mb(spark)
        attempted, failures = wl.verify(ctx, measured)
        e2e, extra = end_to_end(wl, measured, setup_s, rss)
        extra["failed_frac"] = {"value": len(failures) / max(1, attempted), "unit": "ratio", "n": attempted}
        detail = {
            "workload": wl.name, "seed": seed, "cores": cores,
            "default_parallelism": spark.sparkContext.defaultParallelism,
            "measure_s": round(measure_s, 3),
            "probes": {"before": probe_before, "after": probe_after, "steal_s": round(steal_s, 3)},
            "failures": failures,
            "peak_rss_mb_split": rss_split,
            "stmt_wall_s": [[o.stmt.name, o.pass_no, round(o.wall_s, 4)] for o in measured.outcomes],
            "metrics": extra,
        }
        metrics = e2e
        if trace:
            metrics, detail["trace"] = per_layer(wl, ctx, measured, tracer)
    finally:
        if spark is not None:
            stop_spark(spark)
        dirs.cleanup()
    result = {
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": metrics,
    }
    return detail, result


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    import declarativeml_spark  # noqa: F401  (fails fast outside a checkout)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
    detail, result = execute(WORKLOADS[args.workload](args.seed), args.seed, args.seconds, bool(args.trace))
    print(json.dumps({"detail": detail}, default=str), flush=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
