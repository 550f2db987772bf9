"""Run plumbing shared by every workload: per-run directories, the
Spark session, timed statements, host probes and summary statistics.

A statement is run closed loop: its text (or registered query) is
issued, the result is fetched in full with Arrow ``toPandas``, and
only then is the next statement issued. Output checks run after the
timed passes, on the fetched results, so they never sit between two
timed statements.
"""

from __future__ import annotations

import math
import os
import resource
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time
from contextlib import contextmanager, suppress
from dataclasses import dataclass, field
from pathlib import Path
from typing import Any, Callable, Optional

import pandas as pd

from spans import Tracer, cached_rdds, catalyst_phases, exec_counters, group_jobs

ROOT = Path(__file__).resolve().parent.parent
CACHE = ROOT / ".bench_cache"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


class RunDirs:
    """Fresh model dir, warehouse, local dir, checkpoint dir and temp
    dir for one run, removed by ``cleanup``.

    They sit inside the checkout, because a run reads and writes
    nowhere else. So ``spark.local.dir`` (shuffle and spill files) is
    on the checkout's file system, not on the tmpfs the package's
    session picks by default.
    """

    def __init__(self, tag: str) -> None:
        self.base = CACHE / "runs" / f"{tag}-{os.getpid()}"
        shutil.rmtree(self.base, ignore_errors=True)
        self.models = self.base / "models"
        self.warehouse = self.base / "warehouse"
        self.local = self.base / "local"
        self.checkpoints = self.base / "checkpoints"
        self.tmp = self.base / "tmp"
        for d in (self.models, self.warehouse, self.local, self.checkpoints, self.tmp):
            d.mkdir(parents=True)

    def export_env(self, driver_memory: str) -> None:
        """Environment for the JVM and Python workers started later.

        Python workers need the package on PYTHONPATH; temp files of
        the JVM, the workers and the package's fixtures go to the run
        directory instead of the host's /tmp.
        """
        import tempfile

        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
        )
        os.environ["TMPDIR"] = str(self.tmp)
        tempfile.tempdir = str(self.tmp)
        os.environ["SPARK_LOCAL_DIRS"] = str(self.local)
        os.environ["SPARK_DRIVER_MEMORY"] = driver_memory
        # every JVM here (spark-submit's launcher too) would otherwise
        # write /tmp/hsperfdata_*, whatever java.io.tmpdir says
        os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
        confs = {
            "spark.sql.warehouse.dir": str(self.warehouse),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.tmp} -Dderby.system.home={self.tmp}",
            "spark.ui.showConsoleProgress": "false",
        }
        os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
            f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items()
        ) + " pyspark-shell"

    def cleanup(self) -> None:
        shutil.rmtree(self.base, ignore_errors=True)


def _descendants(pid: int) -> list[int]:
    """Processes below ``pid`` (the JVM's Python workers), from /proc."""
    parent = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    parent[int(entry)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:  # the process ended while we listed
                continue
    found, todo = [], [pid]
    while todo:
        p = todo.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        found += kids
        todo += kids
    return found


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in and the Python workers
    it started, and wait until each has ended."""
    from pyspark import SparkContext

    workers = _descendants(spark.sparkContext._jvm.ProcessHandle.current().pid())
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.monotonic() + 10
    for pid in workers:
        while _alive(pid):
            if time.monotonic() > deadline:
                with suppress(ProcessLookupError):
                    os.kill(pid, signal.SIGKILL)
            time.sleep(0.05)


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    return True


def process_age_s() -> float:
    """Seconds since this process started (interpreter start included)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def peak_rss_mb(spark) -> tuple[float, dict]:
    """Peak resident memory of this Python process plus the JVM, and
    the two parts."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{jvm_pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024.0, {"python": py_kb / 1024.0, "jvm": jvm_kb / 1024.0}


def cpu_steal_s() -> float:
    """CPU time the hypervisor has given other guests while this
    machine's vCPUs wanted to run, summed over vCPUs (``steal`` in
    /proc/stat). It grows when the host is busy and this run slows
    for reasons outside it."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def host_probe(spark, cores: int) -> dict:
    """Two fixed probes sized for ``cores``: a codegen-only scan and a
    hash shuffle over generated rows. They read no files, so their
    time moves only with the host and the JVM."""
    out = {}
    probes = {
        "codegen_scan_s": lambda: spark.range(0, 5_000_000 * cores, 1, cores)
        .selectExpr("sum((id % 100000) * 3 + id % 7) AS s").collect(),
        "shuffle_s": lambda: spark.range(0, 20_000 * cores, 1, cores)
        .selectExpr("id % 100000 AS k", "id AS v").groupBy("k").sum("v")
        .selectExpr("count(*) AS n").collect(),
    }
    for key, fn in probes.items():
        t0 = time.perf_counter()
        fn()
        out[key] = round(time.perf_counter() - t0, 4)
    return out


# -- statements -----------------------------------------------------------


@dataclass
class Stmt:
    """One unit of closed-loop work.

    ``run(ctx)`` builds the result (a DataFrame is fetched in full
    afterwards); ``check(ctx, result)`` returns ``None`` when the
    fetched result is right and a reason otherwise. ``layer`` names
    the public entry point ``run`` calls into: ``queries.build`` for a
    registered query, ``engine.execute`` for a DSL statement.
    """

    name: str
    kind: str  # "query", "read" or "write"
    layer: str
    run: Callable[[Any], Any]
    check: Callable[[Any, Any], Optional[str]]
    text: Optional[str] = None
    ml: Optional[str] = None  # "train", "predict" or "evaluate"


@dataclass
class Outcome:
    stmt: Stmt
    pass_no: int
    wall_s: float
    result: Any = None
    error: Optional[str] = None
    layers: dict = field(default_factory=dict)


class Ctx:
    """What statements and checks see: the session, the engine, the
    run's directories, the data directory and the run seed."""

    def __init__(self, spark, engine, dirs: RunDirs, sf_dir: str, seed: int, tracer: Tracer) -> None:
        self.spark = spark
        self.engine = engine
        self.dirs = dirs
        self.sf_dir = sf_dir
        self.seed = seed
        self.tracer = tracer
        self.n = 0
        self.overhead_s = 0.0

    @contextmanager
    def overhead(self, name: str = "trace.read"):
        """A span of time spent on tracing only: reads and waits an
        untraced run does not make. They add up to the traced run's
        added wall time."""
        t0 = time.perf_counter()
        try:
            with self.tracer.span(name) as sp:
                yield sp
        finally:
            self.overhead_s += time.perf_counter() - t0


def fetch(out):
    """A DataFrame result fetched in full; anything else is already in hand."""
    from pyspark.sql import DataFrame

    return out.toPandas() if isinstance(out, DataFrame) else out


def run_stmt(ctx: Ctx, stmt: Stmt, pass_no: int) -> Outcome:
    """Issue one statement under its own job group, fetch its result
    in full, then release what a registered query persisted (the
    engine releases its own frames when the next statement starts)."""
    from pyspark.sql import DataFrame

    from declarativeml_spark.operators.caching import capture, release_all

    spark, tracer = ctx.spark, ctx.tracer
    ctx.n += 1
    group = f"s{ctx.n}"
    spark.sparkContext.setJobGroup(group, stmt.name)
    layers: dict = {}
    result = error = None
    t0 = time.perf_counter()
    with tracer.span("stmt", trace_id=group, stmt=stmt.name, kind=stmt.kind) as root:
        try:
            with capture() as persisted:
                if tracer.enabled and stmt.text is not None:
                    with ctx.overhead("dsl.parse") as sp:
                        from declarativeml_spark.dsl.parser import parse

                        parse(stmt.text)
                    layers["parse_ms"] = (sp["end"] - sp["start"]) * 1000.0
                with tracer.span(stmt.layer) as sp:
                    out = stmt.run(ctx)
                if tracer.enabled:
                    layers["build_s"] = sp["end"] - sp["start"]
                    with ctx.overhead():
                        layers["eager_jobs"] = len(spark.sparkContext.statusTracker().getJobIdsForGroup(group))
                    if isinstance(out, DataFrame):
                        with tracer.span("catalyst.plan"):
                            layers["catalyst"] = catalyst_phases(out)
                with tracer.span("result.fetch") as sp:
                    result = fetch(out)
                if tracer.enabled:
                    layers["fetch_s"] = sp["end"] - sp["start"]
                    layers["rows"] = len(result) if isinstance(result, pd.DataFrame) else 0
                    with ctx.overhead():
                        layers["persisted_frames"], layers["persisted_bytes"] = cached_rdds(spark)
            if stmt.layer == "queries.build":
                with tracer.span("caching.release"):
                    release_all(persisted)
        except Exception as exc:  # a failed statement is counted; the run goes on
            error = exc
    wall = time.perf_counter() - t0
    if error is not None:  # formatted off the clock: py4j errors read their message from the JVM
        first = str(error).splitlines()[0][:300] if str(error) else ""
        error = f"{type(error).__name__}: {first}"
    if tracer.enabled:
        with ctx.overhead():
            layers["exec"] = exec_counters(spark, group_jobs(spark, group))
        layers["span"] = root["id"]
        root["attrs"]["error"] = error
    return Outcome(stmt, pass_no, wall, result, error, layers)


def run_passes(ctx: Ctx, stmts: list[Stmt], passes: int) -> tuple[list[Outcome], list[float]]:
    """``passes`` closed-loop passes over ``stmts``: every outcome, and
    each pass's wall time (first statement issued to last result in
    hand)."""
    outcomes: list[Outcome] = []
    walls: list[float] = []
    for p in range(passes):
        t0 = time.perf_counter()
        with ctx.tracer.span("pass", trace_id=f"pass{p}"):
            for stmt in stmts:
                outcomes.append(run_stmt(ctx, stmt, p))
        walls.append(time.perf_counter() - t0)
    return outcomes, walls


def check_outcomes(ctx: Ctx, outcomes: list[Outcome]) -> list[dict]:
    """Run each statement's check on its fetched result; failures out."""
    failures = []
    for o in outcomes:
        reason = o.error
        if reason is None:
            try:
                reason = o.stmt.check(ctx, o.result)
            except Exception as exc:  # a check that cannot run is a failed check
                reason = f"check raised {type(exc).__name__}: {exc}"
        if reason is not None:
            failures.append({"stmt": o.stmt.name, "pass": o.pass_no, "reason": str(reason)[:400]})
    return failures


# -- statistics ----------------------------------------------------------


def median(xs: list[float]) -> float:
    return float(statistics.median(xs))


def gmean(xs: list[float]) -> float:
    return float(statistics.geometric_mean(xs))


def tail(xs: list[float]) -> Optional[dict]:
    """Latency at the highest percentile that has at least 10 samples
    beyond it (nearest rank), for runs of at least 20 samples."""
    n = len(xs)
    if n < 20:
        return None
    rank = n - 10  # 1-based rank with exactly 10 samples above it
    pct = 100.0 * rank / n
    return {"value": sorted(xs)[rank - 1], "percentile": round(pct, 2), "beyond": 10, "n": n}


def pct_nearest(xs: list[float], p: float) -> float:
    s = sorted(xs)
    return s[max(0, math.ceil(p / 100.0 * len(s)) - 1)]


def metric(value: float, unit: str, n: int = 1, **extra) -> dict:
    return {"value": value, "unit": unit, "n": n, **extra}


def log(*parts) -> None:
    print(*parts, file=sys.stderr, flush=True)
