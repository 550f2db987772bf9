"""Size-aware execution: dimension-sized planes run on the driver.

PageRank over the nation graph, the Spearman rank plane and the
near-dup pair graph are collected (``collect_bounded``) and computed
in Python instead of in per-iteration Spark jobs. These tests pin the
two things that keeps honest: the driver path mirrors Spark's
arithmetic exactly, and the targeted queries stay at their job counts.
"""

import random
from decimal import Decimal

import pytest

from declarativeml_spark.operators import caching
from declarativeml_spark.operators.caching import local_frame
from declarativeml_spark.queries import QUERIES
from declarativeml_spark.queries.registry import spark_decimal

# Spark jobs per query on the smoke fixture, query build plus the
# fetch of its result, as measured on a fresh session (a warm one
# issues fewer: parquet schemas are cached). The distributed loops
# took 31, 18 and 30 there; moving one back to Spark breaks these.
JOB_BOUNDS = {
    "nation_trade_pagerank": 12,
    "score_agreement_spearman": 10,
    "dedup_clusters": 12,
}


def _jobs(spark, fn) -> int:
    sc = spark.sparkContext
    group = f"job_guard_{random.getrandbits(32)}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setJobGroup("", "")
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("name", sorted(JOB_BOUNDS))
def test_dimension_sized_queries_job_bound(spark, smoke_dir, name):
    jobs = _jobs(spark, lambda: QUERIES[name](spark, smoke_dir).toPandas())
    assert jobs <= JOB_BOUNDS[name], f"{name}: {jobs} jobs"


def test_spearman_paths_agree(spark, smoke_dir, monkeypatch):
    from declarativeml_spark.operators import ordered

    ranked = []

    def spy(*args, **kwargs):
        ranked.append(1)
        return global_rank_multi(*args, **kwargs)

    global_rank_multi = ordered.global_rank_multi
    monkeypatch.setattr(ordered, "global_rank_multi", spy)
    q = QUERIES["score_agreement_spearman"]
    local = [tuple(r) for r in q(spark, smoke_dir).collect()]
    assert ranked == []
    monkeypatch.setattr(caching, "LOCAL_MAX_ROWS", -1)
    fallback = [tuple(r) for r in q(spark, smoke_dir).collect()]
    assert ranked == [1]
    assert local == fallback
    assert local[0][0] > 0


def test_spark_decimal_mirrors_spark_casts(spark):
    """CAST(double AS DECIMAL(38, s)) and the cast of the decimal back
    to double, on Spark and on the driver, over random doubles of many
    magnitudes and the HALF_UP boundaries."""
    rng = random.Random(7)
    xs = [
        0.0, -0.0, 5e-7, -5e-7, 2.5e-7, 1.0000005, 0.1 + 0.2, 5e-13,
        1.5e-12, -1.5e-12, 1e-300, 123456789.1234565, 1e20,
    ]
    xs += [rng.uniform(-1, 1) * 10 ** rng.randint(-15, 12) for _ in range(2000)]
    xs += [rng.random() * rng.random() for _ in range(1000)]
    got = (
        local_frame(spark, [(x,) for x in xs], "x double")
        .selectExpr(
            "x",
            "CAST(x AS DECIMAL(38,6)) AS d6",
            "CAST(x AS DECIMAL(38,12)) AS d12",
            "CAST(CAST(x AS DECIMAL(38,12)) AS DOUBLE) AS back12",
        )
        .collect()
    )
    for r in got:
        assert spark_decimal(r.x, 6) == r.d6, r.x
        assert spark_decimal(r.x, 12) == r.d12, r.x
        assert float(spark_decimal(r.x, 12)) == r.back12, r.x
    assert spark_decimal(5e-7, 6) == Decimal("0.000001")
    assert spark_decimal(-5e-7, 6) == Decimal("-0.000001")
