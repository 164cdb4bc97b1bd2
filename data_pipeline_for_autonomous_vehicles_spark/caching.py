"""The one module that pins executor storage for an intermediate.

Two entry points feed one registry:

- ``materialize(df, label)`` is a lazy ``cache()``: the first action fills
  it and every plan holding the same fragment reads it. Use it when a frame
  feeds several plan branches and recomputing it is the only cost.
- ``checkpoint(df, label)`` is an eager ``localCheckpoint``: one job runs
  now and the returned frame's lineage is cut. Use it in iterative loops,
  whose plans would otherwise grow per round, and for small frames that a
  broadcast or self-join would otherwise re-execute.

``release_plan_caches()`` unpersists both kinds. Calling it means the caller
is done with every frame built since the last release; the bench, sweep and
dashboard hosts call it between queries, after collecting. A frame over a
released ``materialize`` still evaluates (it recomputes from lineage). A
frame over a released ``checkpoint`` does not: its blocks were the only
copy, so Spark raises ``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

# (label, frame, is a local checkpoint): the label names a leaked intermediate
_PINS: list[tuple[str, DataFrame, bool]] = []


def materialize(df: DataFrame, label: str) -> DataFrame:
    """Cache `df` lazily until the next `release_plan_caches`."""
    _PINS.append((label, df.cache(), False))
    return df


def checkpoint(df: DataFrame, label: str) -> DataFrame:
    """Materialize `df` now and return a frame with its lineage cut; its
    blocks live until the next `release_plan_caches`."""
    out = df.localCheckpoint(eager=True)
    _PINS.append((label, out, True))
    return out


def release_plan_caches(blocking: bool = False) -> int:
    """Unpersist every registered cache and checkpoint, and return how many
    were released. The caller must be done with every frame built since the
    last release: frames over a released checkpoint can no longer run."""
    n = 0
    while _PINS:
        _, frame, cut = _PINS.pop()
        try:
            if cut:
                frame._jdf.logicalPlan().rdd().unpersist(blocking)
            else:
                frame.unpersist(blocking=blocking)
            n += 1
        except Exception:
            pass  # session already stopped — nothing left to release
    return n
