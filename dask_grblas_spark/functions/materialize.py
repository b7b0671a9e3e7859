"""Size-gated shared-subplan materialization (optimization round 12).

A relation consumed by several downstream plan branches is re-executed
once PER BRANCH unless materialized (Spark dedupes identical Exchange
subtrees only when schemas/pushdowns line up, which per-branch column
pruning routinely defeats — guide §2.4). But an eager
``localCheckpoint`` is itself a blocking job plus an executor-disk
write and an RDD-backed re-read; at small scale that fixed cost
exceeds the recomputes it saves (measured in this round: +1.4-2.2 s
per query at sf0.1 for unconditional checkpoints in the Apriori and
heavy-hitters paths, while the SAME checkpoints are the difference
between 1 and 33 input scans at scale).

So the decision is made the way AQE makes its runtime decisions: from
a size estimate, not a constant tuned for either local mode or a
cluster (guide §2: "make partitioning scale-adaptive"). The gate reads
the optimizer's OWN statistics off the logical plan — no job, no
scan — and keeps the lazy recompute-per-branch plan below the
threshold, materializing above it. Results are identical either way
(the gated relation is deterministic; only the physical sharing
changes).

Threshold: ``$SPARK_GRAFT_MATERIALIZE_BYTES`` (default 64 MB) —
comfortably above every sf<=1 intermediate in the test grid, orders of
magnitude below any 100 TB intermediate, and parameterised so a
cluster profile can tune it without code edits.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

_DEFAULT_THRESHOLD = 64 << 20


def _size_threshold() -> int:
    try:
        return int(os.environ.get("SPARK_GRAFT_MATERIALIZE_BYTES",
                                  _DEFAULT_THRESHOLD))
    except (TypeError, ValueError):
        return _DEFAULT_THRESHOLD


def estimated_bytes(df: DataFrame) -> int | None:
    """The optimizer's sizeInBytes estimate for ``df``'s logical plan
    (heuristic upper bound without CBO — fine for an order-of-magnitude
    gate). None when the estimate is unavailable."""
    try:
        stats = df._jdf.queryExecution().optimizedPlan().stats()
        return int(stats.sizeInBytes())  # py4j maps scala BigInt -> int
    except Exception:
        return None


def should_materialize(df: DataFrame,
                       threshold_bytes: int | None = None) -> bool:
    """The gate's decision alone: True when the plan's estimated output
    exceeds the threshold (or no estimate exists — the safe side at
    scale). For call sites where the BELOW-gate fallback is a different
    (cheaper-locally, equivalent) plan shape rather than simply the
    un-checkpointed relation — e.g. skipping a pre-aggregation that
    only pays for itself once it is materialized and shared."""
    thr = _size_threshold() if threshold_bytes is None else threshold_bytes
    est = estimated_bytes(df)
    return est is None or est > thr


def materialize(df: DataFrame) -> DataFrame:
    """The checkpoint mechanics in ONE place (r12 advice item): every
    gated site — including call sites that already made the gate
    decision themselves via ``should_materialize`` (q326 picks an
    ALGORITHM, not just a checkpoint) — materializes through this
    helper, so a future change of mechanism (reliable checkpoint on a
    cluster profile, storage level) cannot silently diverge per
    site."""
    return df.localCheckpoint(eager=True)


def materialize_if_large(df: DataFrame,
                         threshold_bytes: int | None = None) -> DataFrame:
    """``materialize(df)`` when the plan's estimated output exceeds
    the threshold, ``df`` unchanged otherwise. An unavailable estimate
    materializes (the safe side at scale: the only cost of a false
    positive is one small checkpoint job)."""
    if should_materialize(df, threshold_bytes):
        return materialize(df)
    return df


_DEFAULT_BROADCAST_THRESHOLD = 256 << 20


def _broadcast_threshold() -> int:
    try:
        return int(os.environ.get("SPARK_GRAFT_BROADCAST_BYTES",
                                  _DEFAULT_BROADCAST_THRESHOLD))
    except (TypeError, ValueError):
        return _DEFAULT_BROADCAST_THRESHOLD


def broadcast_if_small(df: DataFrame,
                       threshold_bytes: int | None = None,
                       size_of: DataFrame | None = None) -> DataFrame:
    """``F.broadcast(df)`` when the plan's estimated output is at or
    below the threshold, ``df`` un-hinted otherwise (the planner then
    falls back to SMJ / runtime-SHJ). The size-gate discipline of
    ``materialize_if_large`` applied to join-strategy hints (guide
    §3.1): an unconditional broadcast hint on an INPUT-PROPORTIONAL
    relation (a customer segment, a part slice, a regional supplier
    lookup) is correct at bench scale but a scale hazard — broadcast
    relations are hard-capped at 8 GB / 512M rows, and long before the
    cap every executor pays the build's memory. The safe side here is
    the OPPOSITE of ``materialize_if_large``: an unavailable estimate
    drops the hint (a wrongly-dropped hint costs one shuffle; a
    wrongly-kept hint can OOM the driver at scale).

    Threshold: ``$SPARK_GRAFT_BROADCAST_BYTES`` (default 256 MB —
    guide §3.1's "a few hundred MB is usually fine"; tune down on
    memory-tight executors, up toward the 8 GB cap on fat drivers).
    Structurally-bounded relations (1-row aggregates, fixed 25-row
    nation / 5-row region dims, k-row sketches) keep their plain
    ``F.broadcast`` hints — their bound does not need a gate.

    ``size_of``: a scan-fed relation whose estimate linearly bounds
    ``df``'s true size, for gating JOIN-FED lookups. Without CBO a
    join's sizeInBytes is the product of its children's (measured at
    sf0.1: a supplier⋈nation lookup estimates 30 GB for a 1 MB
    relation), so the gate would always drop the hint; an inner join
    against a key-unique dimension cannot exceed its fact-side scan,
    so that scan's linear estimate is the meaningful proxy.
    """
    from pyspark.sql import functions as F

    thr = (_broadcast_threshold() if threshold_bytes is None
           else threshold_bytes)
    est = estimated_bytes(df if size_of is None else size_of)
    if est is not None and est <= thr:
        return F.broadcast(df)
    return df
