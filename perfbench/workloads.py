"""The benchmark's workloads.

``jobs_bound`` and ``dsl_session`` are closed loop with one client;
``dsl_session`` ends with an open-loop serving phase. Every workload
takes its inputs from the run seed: ``jobs_bound`` the generated
tables, ``dsl_session`` the data slices and parameters. Tables come
from ``scripts/gen_fixtures.py``, generated into the run directory.
"""

from __future__ import annotations

import contextlib
import json
import math
import random
import sys
import time
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np

import checks
from harness import ROOT, Ctx, Stmt, check_outcomes, median, metric, run_passes
from report import closed_loop_detail, serving_detail

DATA_SEED = 42
DATA_POOL = 8


def dataset(sf: str, seed: int, under: Path) -> str:
    """Generate the tables for (scale factor, seed) under ``under``
    and return their directory."""
    sys.path.insert(0, str(ROOT / "scripts"))
    try:
        import gen_fixtures
    finally:
        sys.path.pop(0)
    out = under / f"sf{sf}-seed{seed}"
    with contextlib.redirect_stdout(sys.stderr):
        gen_fixtures.generate(float(sf), str(out), seed)
    return str(out)


# -- jobs_bound ------------------------------------------------------------

SCAN = Path(__file__).resolve().parent / "jobs_bound_scan.json"
# the rows the size-aware execution work targets
JOBS_BOUND_TARGETS = ("nation_trade_pagerank", "score_agreement_spearman", "dedup_clusters")
JOBS_BOUND_EXTRA = 4


def jobs_bound_queries() -> tuple[str, ...]:
    """A fixed subset of the queries jobs_bound_scan.json froze (those
    that issued at least 10 jobs at sf0.1): the targets, then the
    ``JOBS_BOUND_EXTRA`` others with the most jobs per second of wall
    time in the scan. It is sized so that one cold pass fits a run."""
    scan = json.loads(SCAN.read_text())["queries"]
    rate = {n: q["jobs"] / q["wall_s"] for n, q in scan.items() if n not in JOBS_BOUND_TARGETS}
    return JOBS_BOUND_TARGETS + tuple(sorted(rate, key=lambda n: (-rate[n], n))[:JOBS_BOUND_EXTRA])


@dataclass
class Measured:
    """What a run measured: closed-loop outcomes with each pass's wall
    time, and the serving legs (empty for workloads without them)."""

    outcomes: list
    walls: list[float]
    legs: dict = field(default_factory=dict)
    serve_wall_s: float = 0.0


class ClosedLoop:
    """A fixed list of statements, issued one after another.

    ``pass_s`` is the nominal length of one pass on the reference
    host; a run makes ``round(seconds / pass_s)`` passes (at least
    one), so the work done depends on ``--seconds`` and never on how
    fast this run happens to be.
    """

    name = ""
    sf = "0.1"
    pass_s = 24.0
    kinds: dict = {}

    def __init__(self, seed: int) -> None:
        self.seed = seed
        self.data_seed = DATA_SEED
        self.rng = random.Random(seed)

    def views(self, spark) -> None:
        """Derived views, registered as part of every setup."""

    def statements(self) -> list[Stmt]:
        raise NotImplementedError

    def measure(self, ctx: Ctx, seconds: float) -> Measured:
        passes = max(1, round(seconds / self.pass_s))
        return Measured(*run_passes(ctx, self.statements(), passes))

    def verify(self, ctx: Ctx, m: Measured) -> tuple[int, list[dict]]:
        return len(m.outcomes), check_outcomes(ctx, m.outcomes)

    def detail_metrics(self, m: Measured) -> dict:
        return closed_loop_detail(m.outcomes, m.walls, self.kinds)


class JobsBound(ClosedLoop):
    """Registered queries on tables generated from the run seed, in a
    fixed order: the first statements of a cold JVM pay its warm-up,
    and a fixed order keeps that cost in one place."""

    name = "jobs_bound"
    sf = "0.1"

    def __init__(self, seed: int) -> None:
        super().__init__(seed)
        # one of DATA_POOL datasets, so DuckDB answers are computed at
        # most DATA_POOL times per checkout and then read from cache
        self.data_seed = seed % DATA_POOL

    def statements(self) -> list[Stmt]:
        from declarativeml_spark.queries import ORACLES, QUERIES

        return [
            Stmt(
                name=n, kind="query", layer="queries.build",
                run=lambda ctx, n=n: QUERIES[n](ctx.spark, ctx.sf_dir),
                check=lambda ctx, got, n=n: checks.compare_with_oracle(n, ORACLES[n], ctx.sf_dir, got),
            )
            for n in jobs_bound_queries()
        ]


# -- dsl_session -------------------------------------------------------------


class DslSession(ClosedLoop):
    """DSL statements through ``Engine.execute``: model writes beside
    reads, each read after the write it depends on. The seed picks
    slices and parameters; the order is fixed."""

    name = "dsl_session"
    sf = "0.01"
    kinds = {"write": "write_stmt_p50_s", "read": "read_stmt_p50_s"}
    # the serving phase takes this share of --seconds, split over the legs
    serve_share = 0.125

    def __init__(self, seed: int) -> None:
        super().__init__(seed)
        r = self.rng
        self.train_mod = r.randrange(5)
        self.score_mod = r.randrange(97)
        self.label_mod = r.randrange(2)
        self.lam = r.choice([10.0, 100.0, 1000.0])
        self.gap = r.choice([15, 30, 60])
        self.rate = r.choice([0.05, 0.1, 0.2])
        self.window = r.choice([6, 12, 24])
        self.qty_mod = r.choice([47, 50, 53])
        self.scored: dict = {}

    def views(self, spark) -> None:
        spark.sql(
            "SELECT o_orderkey, o_custkey, o_totalprice,"
            " CAST(o_totalprice > 250000 AS INT) AS expensive, o_orderdate"
            f" FROM orders WHERE o_orderkey % 2 = {self.label_mod}"
        ).createOrReplaceTempView("orders_labeled")
        spark.sql(f"SELECT * FROM lineitem WHERE {self.train_where}").createOrReplaceTempView("li_train")
        spark.sql(f"SELECT * FROM lineitem WHERE {self.score_where}").createOrReplaceTempView("li_score")

    @property
    def train_where(self) -> str:
        return f"l_orderkey % 5 = {self.train_mod}"

    @property
    def score_where(self) -> str:
        return f"l_orderkey % 97 = {self.score_mod}"

    def _table_rows(self, ctx, sql: str) -> int:
        return int(checks.duck_df(ctx.sf_dir, sql).iloc[0, 0])

    def statements(self) -> list[Stmt]:
        def dsl(name, kind, text, check, ml=None):
            return Stmt(name=name, kind=kind, layer="engine.execute",
                        run=lambda ctx, t=text: ctx.engine.execute(t),
                        check=check, text=text, ml=ml)

        def rows_of(table, col=None, what=""):
            return lambda ctx, got: checks.check_count(
                got, col, self._table_rows(ctx, f"SELECT COUNT(*) FROM {table}"), what)

        def remember(key, check):
            def wrapped(ctx, got):
                self.scored[key] = got
                return check(ctx, got)
            return wrapped

        ridge = [
            dsl("train_ridge", "write",
                f"TRAIN MODEL ridge USING ridge_closed_form(lam={self.lam!r}) FROM li_train"
                " PREDICT l_extendedprice WITH FEATURES(l_quantity, l_discount)",
                lambda ctx, m: None if m.version >= 1 and "rmse" in m.metrics else "TRAIN returned no model",
                ml="train"),
            dsl("predict_ridge", "read", "PREDICT USING MODEL ridge FROM li_score",
                lambda ctx, got: checks.check_ridge_predict(
                    got, checks.ridge_predictions(ctx.sf_dir, self.train_where, self.score_where, self.lam)),
                ml="predict"),
        ]
        clf = [
            dsl("train_logistic", "write",
                "TRAIN MODEL clf USING logistic_regression(max_iter=10) FROM orders_labeled"
                " PREDICT expensive WITH FEATURES(o_totalprice)",
                lambda ctx, m: None if m.version >= 1 and "accuracy" in m.metrics else "TRAIN returned no model",
                ml="train"),
            dsl("predict_logistic", "read", "PREDICT USING MODEL clf FROM orders_labeled",
                remember("clf", lambda ctx, got: (
                    checks.check_count(got, None, self._table_rows(
                        ctx, f"SELECT COUNT(*) FROM orders WHERE o_orderkey % 2 = {self.label_mod}"), "PREDICT rows")
                    or (None if got["prediction"].notna().all() else "NULL predictions"))),
                ml="predict"),
            dsl("evaluate_logistic", "read", "EVALUATE MODEL clf ON orders_labeled METRICS (accuracy, f1)",
                lambda ctx, m: checks.check_evaluate(m, self.scored["clf"], "expensive"),
                ml="evaluate"),
        ]
        reads = [
            dsl("dedup_exact", "read", "DEDUPLICATE documents USING exact",
                lambda ctx, got: checks.check_exact_dedup(got, ctx.sf_dir)),
            dsl("profile", "read", "PROFILE lineitem ON l_quantity, l_extendedprice, l_discount",
                lambda ctx, got: checks.check_profile(got, ctx.sf_dir, "lineitem",
                                                      ["l_quantity", "l_extendedprice", "l_discount"])),
            dsl("redact", "read", "REDACT documents ON text", rows_of("documents", None, "REDACT rows")),
            dsl("sessionize", "read", f"SESSIONIZE events BY user_id GAP {self.gap} MINUTES ON ts",
                rows_of("events", "n_events", "events in sessions")),
            dsl("audit_anonymity", "read", "AUDIT ANONYMITY events ON event_type, user_id RISK 10",
                rows_of("events", "n_members", "events in classes")),
            dsl("sample", "read", f"SAMPLE documents RATE {self.rate}",
                lambda ctx, got: None if 0 < len(got) < self._table_rows(ctx, "SELECT COUNT(*) FROM documents")
                and got["doc_id"].is_unique else f"SAMPLE returned {len(got)} rows"),
            dsl("mix", "read", "MIX documents BY lang TEMPERATURE 2",
                lambda ctx, got: checks.check_mix(got, ctx.sf_dir, "lang")),
            dsl("pack", "read", "PACK documents INTO 512 TOKEN CHUNKS BUCKETS 8",
                rows_of("documents", None, "PACK rows")),
            dsl("chunk", "read", "CHUNK documents INTO 32 TOKEN WINDOWS STRIDE 24",
                lambda ctx, got: None if len(got) and got["doc_id"].nunique() == self._table_rows(
                    ctx, "SELECT COUNT(*) FROM documents") else "CHUNK lost documents"),
            dsl("score_quality", "read", "SCORE QUALITY documents",
                lambda ctx, got: checks.check_count(got, None, self._table_rows(
                    ctx, "SELECT COUNT(*) FROM documents"), "SCORE QUALITY rows")
                or (None if got["margin"].notna().all() else "NULL quality margins")),
            dsl("detect_anomalies", "read", f"DETECT ANOMALIES events BY event_type ON ts WINDOW {self.window}",
                lambda ctx, got: checks.check_rate_anomalies(got, ctx.sf_dir)),
        ]
        # a fixed order: the first statements of a cold JVM pay its
        # warm-up, and a fixed order keeps that cost in one place
        return ridge + reads[:5] + clf + reads[5:]

    def measure(self, ctx: Ctx, seconds: float) -> Measured:
        """The statement passes, then the serving phase: the session's
        ridge model served at each offered rate."""
        m = super().measure(ctx, seconds * (1 - self.serve_share))
        t0 = time.perf_counter()
        leg_s = seconds * self.serve_share / len(RATES)
        for label, rate in RATES.items():
            with ctx.tracer.span("serve.leg", trace_id=f"serve_{label}", rate=rate):
                m.legs[label] = serve_leg(ctx, "ridge", label, rate, leg_s, self.qty_mod)
        m.serve_wall_s = time.perf_counter() - t0
        return m

    def verify(self, ctx: Ctx, m: Measured) -> tuple[int, list[dict]]:
        attempted, failures = super().verify(ctx, m)
        coef = checks.ridge_predictions(ctx.sf_dir, self.train_where, "false", self.lam).attrs["coef"]
        for label, leg in m.legs.items():
            attempted += leg["offered"]
            failures += check_served_rows(leg, coef)
        return attempted, failures

    def detail_metrics(self, m: Measured) -> dict:
        out = super().detail_metrics(m)
        out.update(serving_detail(m.legs, LIMIT_P99_MS))
        firsts = [leg["t_first"] - leg["t_start"] for leg in m.legs.values()]
        out["serve_first_commit_s"] = metric(median(firsts), "s", len(firsts))
        out["serve_wall_s"] = metric(m.serve_wall_s, "s", 1)
        return out


# -- serving ----------------------------------------------------------------

RATES = {"mid": 10_000, "high": 100_000}
LIMIT_P99_MS = 2_000.0
WARMUP_S = 0.5


def serve_leg(ctx: Ctx, model: str, label: str, rate: int, seconds: float, qty_mod: int) -> dict:
    """One open-loop leg: ``serve_model_stream`` scores a rate source
    offering ``rate`` rows a second for ``seconds`` after the first
    committed batch. A row's latency runs from its due time (the rate
    source's timestamp) to the end of the micro-batch that made it
    visible in the memory sink."""
    from pyspark.sql import functions as F

    from declarativeml_spark.streaming.serving import serve_model_stream

    spark = ctx.spark
    stream = (
        spark.readStream.format("rate").option("rowsPerSecond", str(rate))
        .option("numPartitions", str(spark.sparkContext.defaultParallelism)).load()
        .withColumn("l_quantity", (F.col("value") % qty_mod + 1).cast("double"))
        .withColumn("l_discount", ((F.col("value") % 11) / 100.0).cast("double"))
    )
    qname = f"serve_{label}"
    spark.sparkContext.setJobGroup(qname, qname)
    t_start = time.time()
    q = serve_model_stream(spark, model, stream, base=str(ctx.dirs.models), query_name=qname)
    try:
        _wait(q, lambda: any(p["numInputRows"] > 0 for p in q.recentProgress))
        t_first = time.time()
        # due time of row v is t0 + v / rate; the source offers whole
        # seconds, so a leg that ends on a second boundary is complete
        # once the batch ending there commits
        t0 = spark.table(qname).agg(F.min(F.unix_micros("timestamp"))).first()[0] / 1e6
        k_end = math.ceil(time.time() - t0 + seconds)
        t_end = t0 + k_end
        while time.time() < t_end:
            _raise(q)
            time.sleep(0.01)
        visible_at_end = sum(p["numInputRows"] for p in q.recentProgress)
        _wait(q, lambda: sum(p["numInputRows"] for p in q.recentProgress) >= k_end * rate)
    finally:
        q.stop()
    rows = spark.table(qname).select(
        F.unix_micros("timestamp").alias("due_us"), "value", "l_quantity", "l_discount", "prediction"
    ).toPandas()
    spark.catalog.dropTempView(qname)
    leg = {"label": label, "rate": rate, "t_start": t_start, "t_first": t_first, "t_end": t_end,
           "offered": k_end * rate, "visible_at_end": visible_at_end,
           "progress": list(q.recentProgress), "rows": rows}
    _latencies(leg)
    return leg


def check_served_rows(leg: dict, coef) -> list[dict]:
    """Every offered row (due before the leg ended) arrives once, with
    the prediction the ridge solve gives for its features."""
    rows, offered = leg["rows"], leg["offered"]
    seen = rows[rows.value < offered]
    counts = seen.value.value_counts()
    nulls = int(seen.prediction.isna().sum())
    want = coef[0] + coef[1] * seen.l_quantity + coef[2] * seen.l_discount
    wrong = int((~np.isclose(seen.prediction, want, rtol=1e-7, atol=1e-6)).sum()) - nulls
    bad = {"lost": offered - len(counts), "duplicated": int((counts > 1).sum()), "null": nulls, "wrong": wrong}
    return [{"stmt": f"serve_{leg['label']}", "reason": f"{what} row"} for what, n in bad.items() for _ in range(n)]


def _latencies(leg: dict) -> None:
    """Per-row latency (ms) from due time to the end of the batch that
    made the row visible, for rows due in the measured window; the
    offered row count; backlog and lag growth."""
    rate, rows = leg["rate"], leg["rows"]
    batches = sorted((p for p in leg["progress"] if p["numInputRows"] > 0), key=lambda p: p["batchId"])
    ends, done = [], []
    total = 0
    for p in batches:
        total += p["numInputRows"]
        ends.append(total)
        done.append(_epoch(p["timestamp"]) + p["durationMs"]["triggerExecution"] / 1000.0)
    ends, done = np.asarray(ends), np.asarray(done)
    order = rows.sort_values("value")
    due = order.due_us.to_numpy() / 1e6
    vis = done[np.searchsorted(ends, order.value.to_numpy(), side="right").clip(max=len(done) - 1)]
    window = (due >= leg["t_first"] + WARMUP_S) & (due < leg["t_end"])
    leg["lat_ms"] = ((vis - due) * 1000.0)[window].tolist()
    leg["backlog_rows"] = max(0, leg["offered"] - leg["visible_at_end"])
    # lag of each batch's end behind its newest due row: a pipeline
    # that keeps up holds it flat; a growing lag is a growing backlog
    t_src = due[0] if len(due) else 0.0
    lag = [d - (t_src + e / rate) for d, e in zip(done, ends)]
    half = len(lag) // 2
    leg["lag_growth_s"] = float(max(lag[half:]) - max(lag[:half])) if half else 0.0
    leg["batches"] = len(batches)


def _epoch(ts: str) -> float:
    from datetime import datetime, timezone

    return datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=timezone.utc).timestamp()


def _raise(q) -> None:
    if q.exception() is not None:
        raise q.exception()


def _wait(q, cond, timeout: float = 60.0) -> None:
    deadline = time.time() + timeout
    while not cond():
        _raise(q)
        if time.time() > deadline:
            raise TimeoutError(f"streaming query {q.name} made no progress in {timeout:.0f} s")
        time.sleep(0.02)


WORKLOADS = {w.name: w for w in (JobsBound, DslSession)}
