"""Execution posture for iterative driver loops (r13 optimization).

Every iterative operator in this engine (connected components, the k-core
peel, Lloyd's k-means, PQ training) runs a driver loop whose per-round plan
shape is FIXED and KNOWN: the big side is pre-partitioned/persisted once,
the per-round frames are node-/index-sized, and the aggregations are
partial-aggregable map-side. Under AQE, every exchange of every round is
materialized as its own query-stage JOB — measured on q100's 11-round
component graph: 87 jobs / 201 stages with AQE vs 29 / 88 without,
identical results — and AQE's runtime re-planning buys nothing back,
because there is nothing left for it to decide (join sides and partition
sizing are already fixed by the operator).

:func:`loop_execution` scopes that posture to the loop body only: AQE off
and a shuffle width DERIVED from the loop's materialized row count (the
coalescing AQE would have performed, decided once instead of per stage),
both restored on exit — callers' plans before and after the loop, and
every consumer of the loop's returned frame, run under the session's own
settings. The derived width is scale-adaptive, never a constant tuned to
local cores or to a cluster: 1 partition on the bench's thousand-row label
frames, thousands of partitions at 100 TB.

Contract: single-threaded, loop-at-a-time — the same query-at-a-time
contract `plans/common.py`'s deferred-release ledger documents. A session
driving queries concurrently must not interleave two loops (the conf is
session-scoped while the loop runs).
"""

from __future__ import annotations

from contextlib import contextmanager

#: Target rows per loop shuffle partition. Loop frames are slim rows
#: (two bigints for labels/edges, (cid, dim, n, m) for centroid updates
#: — ~50 B shuffled), so 2 M rows ≈ 100 MB per partition, the guide's
#: §2.2 "fewer, larger reduce partitions" band.
LOOP_ROWS_PER_PARTITION = 2_000_000


@contextmanager
def loop_execution(spark, n_rows: int):
    """Run an iterative loop body with AQE off and a shuffle width derived
    from ``n_rows`` (the loop's dominant materialized row count), restoring
    the session's settings on every exit path. Yields the derived width so
    the caller can pin explicit repartitions to the same number."""
    conf = spark.conf
    loop_parts = max(1, -(-int(n_rows) // LOOP_ROWS_PER_PARTITION))
    old_aqe = conf.get("spark.sql.adaptive.enabled", "true")
    old_sp = conf.get(
        "spark.sql.shuffle.partitions",
        str(spark.sparkContext.defaultParallelism),
    )
    try:
        conf.set("spark.sql.adaptive.enabled", "false")
        conf.set("spark.sql.shuffle.partitions", str(loop_parts))
        yield loop_parts
    finally:
        conf.set("spark.sql.adaptive.enabled", old_aqe)
        conf.set("spark.sql.shuffle.partitions", old_sp)


def bounded_tail(spark, head, build, head_pins=()):
    """Execute a statistic's index-scale tail eagerly under the loop
    posture (the daily-series statistics family).

    ``head`` is a frame whose row count is BOUNDED BY CONSTRUCTION
    regardless of corpus size (the |days| daily pre-agg, a ≤k-bin
    histogram): its subtree is the query's only corpus-sized stage, and
    its several tail consumers would otherwise re-execute that subtree
    once each (measured: q295 ran the events scan + day groupBy three
    times — idx, totals, and the den re-read). ``build(head_frame)``
    constructs the tail and returns ``(result_df, pins)``.

    The head is ``localCheckpoint``-ed once — every consumer then reads a
    |days|-row LogicalRDD, ONE corpus pass total — and counted; the tail
    then runs through :func:`posture_tail` sized by that count. The
    corpus-sized head stage itself runs under the session's own settings
    (AQE sizing, skew splits intact).

    Scale honesty (the loop_execution argument): the tail's shape is
    fixed and its frames are bounded by construction, so the derived
    shuffle width (1 partition until 2M head rows) is scale-correct and
    AQE's per-exchange query-stage jobs — driver round-trips ANY
    cluster pays — buy nothing. Checkpoints preserve the computed row
    order, so an ORDER BY tail returns its rows in order.

    ``head_pins``: frames persisted inside the HEAD's subtree (e.g. a
    per-user pre-agg feeding two head consumers) — released right after
    the head checkpoint, whether it succeeds or fails.

    FAULT TOLERANCE (the q240 caveat, centralized): ``localCheckpoint``
    stores blocks with NO lineage, so an executor loss mid-query fails
    the converted query instead of recomputing — the standard trade for
    truncating iterative/tail plans. At cluster scale, swap to reliable
    ``checkpoint()`` (a checkpoint dir) when retry-safety matters more
    than the write, or rely on job-level retry; on local mode there is
    no executor to lose.
    """
    try:
        h = head.localCheckpoint()
    finally:
        _release(_as_pins(head_pins))
    return posture_tail(spark, h.count(), lambda _parts: build(h))


def posture_tail(spark, n_rows: int, build, pins=()):
    """Run a FIXED-SHAPE tail over already-materialized (persisted)
    inputs under the loop posture and checkpoint its result, so the tail
    EXECUTES under the posture (the conf is execution-time state; a lazy
    return would run under the caller's session settings). This is
    :func:`bounded_tail` without the head checkpoint, for operators
    whose reused frame is corpus-scale and already pinned by the caller
    (an extra checkpoint copy of it would be waste at any scale; q259's
    customer×brand edge projection is the archetype).

    ``n_rows`` sizes the posture width. ``build(parts)`` receives the
    derived width (for explicit repartitions) and returns
    ``(result_df, pins)``; both its pins and the caller's ``pins`` are
    released on every exit path. A ``build`` that raises can only leak
    cache-registry MARKS, never blocks — ``persist()`` is lazy and
    nothing materializes until the result checkpoint runs the job — and
    the checkpoint itself is wrapped so a mid-job failure unpersists
    whatever ``build`` pinned. The posture is honest only when the
    tail's aggregations are map-side partial-aggregable and its join
    fan-outs are bounded by construction — the caller documents that
    argument at the call site. Same localCheckpoint fault-tolerance
    trade as bounded_tail.
    """
    out_pins: list = []
    try:
        with loop_execution(spark, n_rows) as parts:
            res, built = build(parts)
            out_pins = _as_pins(built)
            return res.localCheckpoint()
    finally:
        _release(out_pins + _as_pins(pins))


def _release(pins: list) -> None:
    """Unpersist every pin, best-effort: a failing release never masks
    the error (or result) that reached this cleanup."""
    for p in pins:
        try:
            p.unpersist(False)
        except Exception:
            pass


def _as_pins(pins) -> list:
    if pins is None:
        return []
    if isinstance(pins, (list, tuple)):
        return [p for p in pins if p is not None]
    return [pins]
