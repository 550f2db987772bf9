"""Cache-lifecycle contract: localCheckpoint generations must be
releasable NOW (DataFrame.unpersist() only clears CacheManager
entries, not checkpoint RDD blocks), and the release helper must be
inert on frames it does not apply to."""

import pytest

from declarativeml_spark.operators.caching import (
    collect_bounded,
    local_frame,
    release_checkpoint,
)


def _n_stored_rdds(spark) -> int:
    return len(spark.sparkContext._jsc.sc().getRDDStorageInfo())


def test_release_checkpoint_frees_blocks(spark):
    base = _n_stored_rdds(spark)
    df = spark.range(10000).selectExpr("id", "id * 2 AS v").localCheckpoint(
        eager=True
    )
    assert _n_stored_rdds(spark) == base + 1
    # the documented no-op: unpersist() does NOT free checkpoint blocks
    df.unpersist()
    assert _n_stored_rdds(spark) == base + 1
    release_checkpoint(df)
    assert _n_stored_rdds(spark) == base


def test_release_checkpoint_inert_on_plain_frames(spark):
    base = _n_stored_rdds(spark)
    plain = spark.range(100).selectExpr("id", "id * 3 AS v")
    release_checkpoint(plain)  # no analyzed LogicalRDD: must not raise
    assert plain.count() == 100

    persisted = spark.range(100).selectExpr("id AS i").persist()
    persisted.count()
    release_checkpoint(persisted)  # not a checkpoint: blocks untouched
    assert _n_stored_rdds(spark) == base + 1
    assert persisted.count() == 100
    persisted.unpersist()
    assert _n_stored_rdds(spark) == base


def test_iterative_loops_do_not_accumulate_generations(spark, plane_path):
    """connected_components' fallback runs multiple localCheckpoint
    rounds; at most ONE label generation (the returned frame) may
    remain stored afterwards — without per-round release every
    round's blocks would survive until driver GC. The driver-local
    path stores nothing."""
    from declarativeml_spark.operators.dedup import connected_components

    base = _n_stored_rdds(spark)
    # a diameter-5 chain forces >= 5 propagation rounds
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 7)], "id_a LONG, id_b LONG"
    )
    out = connected_components(pairs)
    assert {(r["doc_id"], r["cluster_id"]) for r in out.collect()} == {
        (i, 1) for i in range(1, 8)
    }
    assert _n_stored_rdds(spark) <= base + 1


def test_lsh_keyed_index_persist_base_flag(spark, smoke_dir):
    """persist_base=False must create NO tracked persist (CREATE
    INDEX persists the exploded frame itself — the inner cache would
    double-hold every vector); the default keeps exactly one. Scope
    membership is the contract — global storage counts are avoided
    here because the shared session's context cleaner releases other
    tests' blocks asynchronously."""
    from pyspark import StorageLevel

    from declarativeml_spark.operators import caching
    from declarativeml_spark.operators.dedup import lsh_keyed_index

    emb = spark.read.parquet(f"{smoke_dir}/embeddings.parquet")

    with caching.capture() as scope:
        keyed = lsh_keyed_index(emb, persist_base=False)
        keyed.count()
        assert len(scope) == 0  # no internal persist entered the scope

    with caching.capture() as scope:
        keyed = lsh_keyed_index(emb)  # default keeps the inner persist
        keyed.count()
        assert len(scope) == 1
        assert scope[0].storageLevel != StorageLevel.NONE
    caching.release_all(scope)


def test_collect_bounded_boundary(spark):
    df = spark.range(5)
    assert sorted(r.id for r in collect_bounded(df, 5)) == list(range(5))
    assert collect_bounded(df, 4) is None
    assert collect_bounded(df.filter("id < 0"), 5) == []


def test_local_frame_runs_no_job_and_keeps_values(spark):
    """Big ints stay exact and NULLs stay NULL (a pandas int column
    with a None would widen to float64), and building the frame runs
    no Spark job."""
    from decimal import Decimal

    sc = spark.sparkContext
    rows = [(2**62 + 1, None, "a", Decimal("12.5")), (None, -0.0, None, None)]
    sc.setJobGroup("local_frame_test", "local_frame_test")
    try:
        df = local_frame(spark, rows, "i long, d double, s string, m decimal(38,1)")
        assert sc.statusTracker().getJobIdsForGroup("local_frame_test") == []
    finally:
        sc.setJobGroup("", "")
    assert [tuple(r) for r in df.collect()] == rows
