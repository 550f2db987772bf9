"""Self-test of the benchmark itself, on generated sf0.001 data.

    python3 perfbench/selftest.py

It runs a small closed-loop workload with a short serving leg twice,
untraced and traced, and checks three things:

1. every end-to-end and per-layer metric prints with its unit, under
   the names and units BENCHMARK.json declares, and every detail
   metric carries a unit and a sample count;
2. an injected failing statement and an injected oracle mismatch both
   count toward ``failed`` and ``failed_frac``, and nothing else does;
3. in the traced run, each statement's span covers its wall time,
   its child spans lie inside it without overlap, and the time in no
   layer span (the statement span's own self time) is at most
   ``UNATTRIBUTED`` of the wall time, so the self times of the layer
   spans add up to the statement's wall time.

Exits 0 when all hold, 1 otherwise.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
sys.path.insert(1, str(Path(__file__).resolve().parent.parent))

import checks  # noqa: E402
from harness import CACHE, ROOT, Ctx, Stmt  # noqa: E402
from report import END_TO_END, PER_LAYER  # noqa: E402
from run import execute  # noqa: E402
from spans import self_times  # noqa: E402
from workloads import ClosedLoop, Measured, check_served_rows, serve_leg  # noqa: E402

INJECTED = {"injected_error", "injected_mismatch"}
# time a statement may spend outside every layer span: a share of its
# wall time, or a floor for statements of a few milliseconds
UNATTRIBUTED = (0.02, 0.005)


class SelfTest(ClosedLoop):
    name = "selftest"
    sf = "0.001"
    pass_s = 1.0
    kinds = {"write": "write_stmt_p50_s", "read": "read_stmt_p50_s"}
    lam = 10.0

    def statements(self) -> list[Stmt]:
        from pyspark.sql import functions as F

        from declarativeml_spark.queries import ORACLES, QUERIES

        def query(name, run):
            return Stmt(name=name, kind="query", layer="queries.build", run=run,
                        check=lambda ctx, got: checks.compare_with_oracle(
                            "q6_discount_revenue", ORACLES["q6_discount_revenue"], ctx.sf_dir, got))

        def dsl(name, kind, text, check):
            return Stmt(name=name, kind=kind, layer="engine.execute",
                        run=lambda ctx: ctx.engine.execute(text), check=check, text=text)

        q6 = QUERIES["q6_discount_revenue"]
        return [
            query("q6_discount_revenue", lambda ctx: q6(ctx.spark, ctx.sf_dir)),
            # the oracle's answer, off by a factor the normalization shows
            query("injected_mismatch", lambda ctx: q6(ctx.spark, ctx.sf_dir).select(
                *[(F.col(c) * 1.5).alias(c) for c in q6(ctx.spark, ctx.sf_dir).columns])),
            dsl("train_ridge", "write",
                f"TRAIN MODEL ridge USING ridge_closed_form(lam={self.lam!r}) FROM lineitem"
                " PREDICT l_extendedprice WITH FEATURES(l_quantity, l_discount)",
                lambda ctx, m: None if m.version >= 1 else "no model"),
            dsl("profile", "read", "PROFILE lineitem ON l_quantity",
                lambda ctx, got: checks.check_profile(got, ctx.sf_dir, "lineitem", ["l_quantity"])),
            dsl("injected_error", "read", "PROFILE lineitem ON no_such_column", lambda ctx, got: None),
        ]

    def measure(self, ctx: Ctx, seconds: float) -> Measured:
        m = super().measure(ctx, seconds)
        m.legs["mid"] = serve_leg(ctx, "ridge", "mid", 10_000, 1.0, 50)
        return m

    def verify(self, ctx: Ctx, m: Measured) -> tuple[int, list[dict]]:
        attempted, failures = super().verify(ctx, m)
        coef = checks.ridge_predictions(ctx.sf_dir, "true", "false", self.lam).attrs["coef"]
        attempted += m.legs["mid"]["offered"]
        return attempted, failures + check_served_rows(m.legs["mid"], coef)

    def detail_metrics(self, m: Measured) -> dict:
        from report import serving_detail

        return {**super().detail_metrics(m), **serving_detail(m.legs, 2_000.0)}


def check_metrics(result: dict, names: dict, problems: list[str], what: str) -> None:
    got = result["metrics"]
    if set(got) != set(names):
        problems.append(f"{what}: printed {sorted(got)}, expected {sorted(names)}")
    for k, unit in names.items():
        m = got.get(k, {})
        if m.get("unit") != unit or not isinstance(m.get("value"), (int, float)):
            problems.append(f"{what}: {k} printed as {m}, expected a number in {unit}")


def main() -> int:
    problems: list[str] = []
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    e2e_units = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layer_units = {m["name"]: m["unit"] for m in bench["per_layer"]}
    if list(e2e_units) != list(END_TO_END):
        problems.append(f"BENCHMARK.json end_to_end {list(e2e_units)} != {list(END_TO_END)}")
    if layer_units != PER_LAYER:
        problems.append("BENCHMARK.json per_layer names or units differ from report.PER_LAYER")

    for trace in (False, True):
        what = "traced" if trace else "untraced"
        detail, result = execute(SelfTest(0), 0, 1.0, trace, from_process_start=not trace)
        # 1. metrics with units
        check_metrics(result, layer_units if trace else e2e_units, problems, what)
        for k, m in detail["metrics"].items():
            if isinstance(m, dict) and not ({"value", "unit", "n"} <= set(m)):
                problems.append(f"{what}: detail metric {k} lacks a value, unit or sample count")
        # 2. injected failures, and only those, are counted
        failed = {f["stmt"] for f in detail["failures"]}
        if failed != INJECTED or result["failed"] != len(INJECTED):
            problems.append(f"{what}: failures {detail['failures']}, expected exactly {sorted(INJECTED)}")
        frac = detail["metrics"]["failed_frac"]["value"]
        if abs(frac - len(INJECTED) / result["attempted"]) > 1e-12:
            problems.append(f"{what}: failed_frac {frac} != {len(INJECTED)}/{result['attempted']}")
        # 3. the layer spans' self times add up to statement wall time
        if trace:
            spans = json.loads((CACHE.parent / detail["trace"]["file"]).read_text())["spans"]
            by_id = {s["id"]: s for s in spans}
            selfs = self_times(spans)
            stmt_spans = [s for s in spans if s["name"] == "stmt"]
            for st, row in zip(stmt_spans, detail["trace"]["statements"]):
                wall = row["wall_s"]
                if abs(st["end"] - st["start"] - wall) > 0.002:
                    problems.append(f"{row['stmt']}: span covers {st['end'] - st['start']:.4f} s, wall {wall:.4f} s")
                kids = sorted((s for s in spans if s["parent"] == st["id"]), key=lambda s: s["start"])
                for a, b in zip(kids, kids[1:]):
                    if b["start"] < a["end"]:
                        problems.append(f"{row['stmt']}: spans {a['name']} and {b['name']} overlap")
                if kids and (kids[0]["start"] < st["start"] or kids[-1]["end"] > st["end"]):
                    problems.append(f"{row['stmt']}: a child span lies outside the statement")
                share, floor = UNATTRIBUTED
                if selfs[st["id"]] > max(floor, share * wall):
                    problems.append(f"{row['stmt']}: {selfs[st['id']]:.4f} s of {wall:.4f} s is in no layer span")
            if not stmt_spans or any(by_id[s["parent"]]["name"] != "pass" for s in stmt_spans):
                problems.append("statement spans are missing or not children of a pass span")
        print(json.dumps({"run": what, "result": result, "failures": detail["failures"]}), flush=True)

    for p in problems:
        print("FAIL:", p, flush=True)
    print("selftest:", "ok" if not problems else f"{len(problems)} problem(s)", flush=True)
    return 0 if not problems else 1


if __name__ == "__main__":
    sys.exit(main())
