"""Cross-engine determinism helpers.

Float aggregation order differs between Spark (partial aggs, partition order)
and DuckDB — a raw SUM(double) diverges in the low bits and breaks the
oracle's value-hash. Every oracle-compared double aggregation therefore sums
EXACT decimals and casts the result back to double:

    Spark:  F.sum(expr.cast("decimal(25,6)")).cast("double")
    DuckDB: CAST(SUM(CAST(expr AS DECIMAL(25,6))) AS DOUBLE)

Per-row double arithmetic is IEEE-identical across engines, so row-level
expressions stay plain doubles. This costs ~nothing at scale (decimal adds
are still partial-aggregable map-side) and buys bit-exact reproducibility.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

DEC = "decimal(25,6)"


def dsum(col: Column) -> Column:
    """Order-insensitive exact sum of a double expression, as double."""
    return F.sum(col.cast(DEC)).cast("double")


def sql_dsum(expr: str) -> str:
    """DuckDB mirror of :func:`dsum`."""
    return f"CAST(SUM(CAST({expr} AS DECIMAL(25,6))) AS DOUBLE)"


def ts_str(col: Column, fmt: str = "yyyy-MM-dd HH:mm:ss") -> Column:
    """Render a timestamp as a string (UTC session) — engine-portable output."""
    return F.date_format(col, fmt)


def md5_sample_gate(col: Column, frac: float, salt: str = "sample") -> Column:
    """Deterministic membership gate keeping ~``frac`` of distinct values:
    md5(value:salt) mod 1e6 < frac·1e6. The sampling knob the recall
    harnesses (q114/q126/q138) use so their EXACT ground-truth side
    prices at sample size, not corpus size, at 100x — deterministic (no
    RNG, so reruns and oracles see the same sample) and value-keyed (the
    same id samples in or out regardless of partitioning)."""
    h = F.conv(
        F.substring(F.md5(F.concat(col.cast("string"), F.lit(f":{salt}"))), 1, 15),
        16,
        10,
    ).cast("bigint")
    return F.pmod(h, F.lit(1_000_000)) < F.lit(int(round(frac * 1_000_000)))


def materialize_release(out, *pinned):
    """Return ``out`` and release ``pinned`` after the caller's action.

    The one pin rule. A persisted frame ("pin") is released by whoever
    returns the frame that last reads it:

    - a lazy operator whose returned frame still reads a frame it
      persisted returns ``(frame, pins)`` and releases nothing;
    - an eager operator, one that runs its own jobs and returns a
      checkpointed frame (``connected_components``, ``semantic_dedup``),
      unpersists its pins before it returns;
    - a registry query function passes every pin it holds, its own and
      its operators', to this function ONCE, in its return statement.
      Iterative tails pass them to ``execution.posture_tail`` /
      ``bounded_tail`` instead.

    The release is DEFERRED: the pins stay registered until the NEXT
    materialize_release call (or an explicit :func:`flush_pending_release`),
    so the caller's first action on ``out`` still reads the cache — the
    persist materializes once, inside that action — and nothing outlives
    one query in a session that keeps calling queries. That is also why
    a call must come last: every call first flushes the ledger, so pins
    registered earlier in the same query (or by a query function it
    composes) would be dropped before the caller's action reads them,
    and the action would recompute their subtrees. The gate/bench
    harnesses additionally clearCache at query entry.
    `tests/test_plans.py::test_registry_leaks_no_pins` names any query
    that leaves a pin cached.

    Why not materialize eagerly here (the round-6 mechanism)? Measured at
    sf0.1 best-of-3: an eager ``localCheckpoint`` OR ``persist+count`` of
    the result costs 2-4.5x wall-clock on node-/doc-cardinality outputs
    (q132 0.79s lazy vs 3.5s eager; q90 1.19 vs 2.8; q124 0.54 vs 1.0)
    because it materializes EVERY output column in an extra pass, while
    the caller's own action usually prunes columns / aggregates.
    """
    _assert_release_owner()
    flush_pending_release()
    _PENDING_RELEASE.extend(pinned)
    return out


def flush_pending_release() -> None:
    """Unpersist every pin deferred by :func:`materialize_release`.
    Harness entry points call this (or ``clearCache``) between queries;
    unpersisting an already-cleared frame is a no-op."""
    while _PENDING_RELEASE:
        _PENDING_RELEASE.pop().unpersist(blocking=False)


#: Pins whose release is deferred until the next materialize_release
#: call / explicit flush — at most one query's pins at any time.
#:
#: CONTRACT: single-threaded, query-at-a-time. The gate/bench/test
#: harnesses all drive one query to completion before starting the
#: next, so "the next materialize_release call" is always the SAME
#: query stream and a deferred release can never drop another query's
#: pins. A session driving queries concurrently from multiple threads
#: must not share this module-level ledger — materialize_release
#: asserts the owning thread below so a violation fails loudly instead
#: of silently unpersisting a sibling's cache.
_PENDING_RELEASE: list = []

#: Thread holding the deferred-release ledger while it is non-empty.
#: Ownership transfers freely when the ledger is empty (sequential use
#: from different threads is fine); what the guard forbids is a SECOND
#: thread flushing pins a first thread's live query still reads.
_PENDING_RELEASE_OWNER: list = []


def _assert_release_owner() -> None:
    import threading

    me = threading.get_ident()
    if not _PENDING_RELEASE:
        _PENDING_RELEASE_OWNER[:] = [me]
    elif _PENDING_RELEASE_OWNER and _PENDING_RELEASE_OWNER[0] != me:
        raise RuntimeError(
            "materialize_release's deferred-pin ledger is query-at-a-time: "
            f"thread {me} would release pins deferred by thread "
            f"{_PENDING_RELEASE_OWNER[0]} whose query may still read them. "
            "Concurrent drivers must scope pins per-thread."
        )


def _default_parts(df) -> int:
    spark = df.sparkSession
    conf = spark.conf.get("spark.sql.shuffle.partitions", None)
    if conf is not None and str(conf).isdigit():
        return int(conf)
    return spark.sparkContext.defaultParallelism


def dist_cumsum(df, order_cols, sum_cols, group_cols=()):
    """Distributed prefix sum WITHOUT a single-partition window (the
    KS/CUSUM, rank and stratified-split shape). Each ``sum_cols`` entry
    gains a ``<col>_cum`` column holding the inclusive prefix sum in
    ``order_cols`` order, restarted per ``group_cols`` group:

    repartitionByRange on (group, order) at the session's shuffle width
    (``spark.sql.shuffle.partitions``) — range partitions are globally
    ordered and a group spans a CONTIGUOUS run of them — then running
    sums per (partition, group), then a broadcast offset table of
    per-(partition, group) totals cumulated across the partition order
    within each group. The result is partitioning-independent, so the
    width follows the cluster with nothing to tune.

    Contracts: ``order_cols`` totally orders the rows within a group
    (append a unique id); ``sum_cols`` are EXACT types (bigint /
    decimal) — a float prefix sum would depend on the partitioning;
    group keys are non-NULL (the offset join is an equi-join) and
    low-cardinality, since the offset table has one row per present
    (partition, group) pair — at most |groups| + width rows — and is
    broadcast.

    Returns ``(frame, pinned)``: ``frame`` is ``df.columns`` plus the
    ``_cum`` columns. The pinned range-partitioned frame feeds both the
    running sums and the offsets, so the CALLER releases it through
    :func:`materialize_release`.
    """
    from pyspark import StorageLevel
    from pyspark.sql import Window

    keys = ["_pid", *group_cols]
    parted = (
        df.repartitionByRange(_default_parts(df), *group_cols, *order_cols)
        .withColumn("_pid", F.spark_partition_id())
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    lw = (
        Window.partitionBy(*keys)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = parted.select(
        "*", *[F.sum(c).over(lw).alias(f"_l_{c}") for c in sum_cols]
    )
    ow = (
        Window.partitionBy(*group_cols)
        .orderBy("_pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = (
        parted.groupBy(*keys)
        .agg(*[F.sum(c).alias(f"_t_{c}") for c in sum_cols])
        .select(
            *keys,
            *[
                F.coalesce(F.sum(f"_t_{c}").over(ow), F.lit(0)).alias(f"_o_{c}")
                for c in sum_cols
            ],
        )
    )
    out = local.join(F.broadcast(offsets), keys).select(
        *df.columns,
        *[(F.col(f"_o_{c}") + F.col(f"_l_{c}")).alias(f"{c}_cum") for c in sum_cols],
    )
    return out, parted


def dist_rank(df, order_cols, out: str = "rank", group_cols=()):
    """1-based rank in ``order_cols`` order, per ``group_cols`` group,
    WITHOUT a single-partition window: :func:`dist_cumsum` of a literal
    1, since the inclusive prefix count is the rank. Same contracts and
    ``(frame, pinned)`` return as :func:`dist_cumsum`; ``frame`` is
    ``df.columns`` plus the bigint ``out``."""
    ranked, pin = dist_cumsum(
        df.withColumn("_one", F.lit(1)), order_cols, ["_one"], group_cols
    )
    return ranked.select(*df.columns, F.col("_one_cum").alias(out)), pin


def doubled_midranks(hist, value_col):
    """Doubled midranks of a distinct-value histogram: ``hist`` has one
    row per distinct ``value_col`` with its bigint tie count ``n_v``.
    Returns ``(frame, pinned)`` — ``hist.columns`` plus ``w2`` =
    2·midrank = 2·(rows below v) + n_v + 1, DECIMAL(19,0), integral
    however many ties — with the :func:`dist_cumsum` pin convention.
    The oracle twin is ``relational.py::_MIDRANK_SQL``."""
    cum, pin = dist_cumsum(hist, [value_col], ["n_v"])
    w2 = F.lit(2) * (F.col("n_v_cum") - F.col("n_v")) + F.col("n_v") + 1
    return cum.select(*hist.columns, w2.cast("decimal(19,0)").alias("w2")), pin


def tie_term() -> Column:
    """Aggregate Σ(t³−t) over the tie counts ``n_v`` of a
    :func:`doubled_midranks` histogram — the rank tests' variance
    correction — exact in DECIMAL(38,0)."""
    t = F.col("n_v").cast("decimal(12,0)")
    return F.sum(t * t * t - t).cast("decimal(38,0)")
