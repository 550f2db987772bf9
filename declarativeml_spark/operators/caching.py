"""Explicit cache lifecycle for operator-persisted DataFrames.

Dedup/ANN operators persist intermediates (LSH hash tables, normed
vector bases, edge frontiers) that are reused several times inside one
query plan. In the standalone query path that's fine — the session dies
with the process and LRU eviction covers the rest. In the DSL engine
path a long-lived session runs MANY statements, and leaving every
statement's persists to LRU means storage memory only ever grows until
eviction pressure (VERDICT r1 watch-item).

This module gives persists an owner. Operators call
:func:`track_persist` instead of ``df.persist()``; when a tracking
scope is active (the engine opens one per statement) the frame is
recorded there, and the engine unpersists the lot once the NEXT
statement begins (or on an explicit ``Engine.release()``) — by which
point the prior result has either been consumed or can be lazily
recomputed. With no active scope, ``track_persist`` degrades to a
plain ``persist()`` — query-path behavior is unchanged.

Unpersist-after-return is always semantically safe in Spark: a cached
plan that lost its cache recomputes from source. The lifecycle here is
purely a memory-footprint contract.

The module also holds the two halves of size-aware execution. An
operator whose plane a dimension bounds (a nation graph, one row per
document, a near-dup pair list) pulls it to the driver with
:func:`collect_bounded`, which returns ``None`` above
``LOCAL_MAX_ROWS`` so the caller keeps its distributed path. The
driver-built result goes back to Spark through :func:`local_frame`,
an Arrow transfer that runs no Spark job.
"""

from __future__ import annotations

import threading
from contextlib import contextmanager
from typing import Iterator, List, Optional, Sequence, Union

import pandas as pd
from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql.types import StructType, _parse_datatype_string

_local = threading.local()

# Planes up to this many rows run on the driver. Each row is a few
# Python objects, so the cap keeps a collected plane near 100 MB.
LOCAL_MAX_ROWS = 1_000_000


def track_persist(df: DataFrame) -> DataFrame:
    """``df.persist()``, registered with the active scope (if any)."""
    df = df.persist()
    scope = getattr(_local, "scope", None)
    if scope is not None:
        scope.append(df)
    return df


@contextmanager
def capture() -> Iterator[List[DataFrame]]:
    """Collect every ``track_persist`` on this thread into a list.

    The caller OWNS the returned list — frames are *not* unpersisted on
    exit (the statement's result DataFrame may still read them);
    release them later with :func:`release_all`.
    """
    prev = getattr(_local, "scope", None)
    scope: List[DataFrame] = []
    _local.scope = scope
    try:
        yield scope
    finally:
        _local.scope = prev


def scope_mark() -> int:
    """Current length of the active tracking scope (0 if none) — pair
    with :func:`adopt_since` to take ownership of frames persisted by
    a bounded stretch of operator code."""
    scope = getattr(_local, "scope", None)
    return len(scope) if scope is not None else 0


def adopt_since(mark: int) -> List[DataFrame]:
    """Remove and return every frame tracked since ``mark``.

    The caller takes ownership: the scope owner's release (the
    engine's next-statement unpersist) will no longer touch them.
    Used by long-lived artifacts (CREATE INDEX) whose caches must
    outlive the statement that built them; release them explicitly
    with :func:`release_all` when the artifact is dropped.
    """
    scope = getattr(_local, "scope", None)
    if scope is None:
        return []
    owned = list(scope[mark:])
    del scope[mark:]
    return owned


def release_all(frames: List[DataFrame]) -> None:
    """Unpersist every frame; tolerant of already-released ones."""
    for df in frames:
        try:
            df.unpersist()
        except Exception:
            pass
    frames.clear()


def release_checkpoint(df: DataFrame) -> None:
    """Free a ``localCheckpoint``'d frame's storage blocks NOW.

    ``DataFrame.unpersist()`` only clears CacheManager entries — a
    local checkpoint's RDD blocks are untouched and survive until the
    driver happens to GC the RDD reference, so a T-round iterative
    loop holds T generations of label blocks simultaneously. This
    reaches the checkpointed RDD through the analyzed ``LogicalRDD``
    and unpersists it directly (best-effort: any py4j/plan-shape
    mismatch degrades to the context-cleaner behavior).

    Only call on frames NO LONGER referenced by any live plan — a
    released checkpoint cannot recompute (the lineage was truncated);
    subsequent actions on it raise CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND.
    """
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:
        pass


def collect_bounded(df: DataFrame, max_rows: int) -> Optional[List[Row]]:
    """Every row of ``df``, or ``None`` when it has more than
    ``max_rows`` (the caller then stays distributed).

    One ``limit(max_rows + 1).collect()``: a plane that fits arrives
    whole, and one that does not is cut off after ``max_rows + 1``
    rows, never collected in full.
    """
    rows = df.limit(max_rows + 1).collect()
    return rows if len(rows) <= max_rows else None


def local_frame(
    spark: SparkSession, rows: Sequence[Sequence], schema: Union[StructType, str]
) -> DataFrame:
    """A DataFrame over driver-side ``rows`` (tuples in ``schema``'s
    field order), shipped as Arrow batches.

    ``createDataFrame`` over a Python list runs a Spark job through
    Python workers to convert the rows; over a pandas frame it builds
    the Arrow batches on the driver and runs none. Object-dtype
    columns keep ints exact and ``None`` as null, where pandas would
    widen an int column with a null to float64.
    """
    if isinstance(schema, str):
        schema = _parse_datatype_string(schema)
    pdf = pd.DataFrame(
        {
            name: pd.Series([r[i] for r in rows], dtype=object)
            for i, name in enumerate(schema.names)
        }
    )
    return spark.createDataFrame(pdf, schema)
