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
    """Cache-hygiene idiom for a plan that persists a shared subtree its
    RETURNED frame still references: DEFER the release. The pins stay
    registered until the NEXT materialize_release call (or an explicit
    :func:`flush_pending_release`), so the caller's first action on
    ``out`` still reads the cache — the persist materializes once, inside
    that action — and nothing outlives one query in a session that keeps
    calling queries. The gate/bench harnesses additionally clearCache at
    query entry, which makes the later unpersist a no-op.

    Why not materialize eagerly here (the round-6 mechanism)? Measured at
    sf0.1 best-of-3: an eager ``localCheckpoint`` OR ``persist+count`` of
    the result costs 2-4.5x wall-clock on node-/doc-cardinality outputs
    (q132 0.79s lazy vs 3.5s eager; q90 1.19 vs 2.8; q124 0.54 vs 1.0)
    because it materializes EVERY output column in an extra pass, while
    the caller's own action usually prunes columns / aggregates. The
    deferred form keeps the r5 wall-clock exactly and still bounds cache
    lifetime to one query.
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


def dist_rank(df, order_cols, out: str = "rank", n_parts: int | None = None):
    """Global 1-based total-order rank WITHOUT a single-partition window
    (q77/q95's distributed shape): repartitionByRange on the sort key →
    per-partition row_number (range partitions are globally ordered) →
    broadcast partition-offset table. ``order_cols`` must be a total
    order (append a unique id). Returns ``(ranked_frame, pinned)`` — the
    pinned frame feeds both the rank and the offsets, so the CALLER must
    release it (pass through :func:`materialize_release`).

    ``n_parts`` defaults to the session's configured shuffle width
    (``spark.sql.shuffle.partitions``, falling back to
    ``sparkContext.defaultParallelism``), so on a 1000-executor cluster
    the rank fans out with the cluster instead of pinning 32 ranges —
    the 100 TB knob turns itself. The rank values are partitioning-
    independent (range partitions are globally ordered and offsets are
    exact counts), so any ``n_parts`` yields identical results.
    """
    from pyspark import StorageLevel
    from pyspark.sql import Window

    if n_parts is None:
        n_parts = _default_parts(df)
    parted = (
        df.repartitionByRange(n_parts, *[F.col(c) for c in order_cols])
        .withColumn("_pid", F.spark_partition_id())
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    lw = Window.partitionBy("_pid").orderBy(*[F.col(c) for c in order_cols])
    local = parted.withColumn("_lrn", F.row_number().over(lw))
    sizes = parted.groupBy("_pid").agg(F.count(F.lit(1)).alias("_cnt"))
    ow = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = sizes.select(
        "_pid", F.coalesce(F.sum("_cnt").over(ow), F.lit(0)).alias("_off")
    )
    ranked = (
        local.join(F.broadcast(offsets), "_pid")
        .withColumn(out, (F.col("_off") + F.col("_lrn")).cast("bigint"))
        .drop("_pid", "_lrn", "_off")
    )
    return ranked, parted


def _default_parts(df) -> int:
    spark = df.sparkSession
    conf = spark.conf.get("spark.sql.shuffle.partitions", None)
    if conf is not None and str(conf).isdigit():
        return int(conf)
    return spark.sparkContext.defaultParallelism


def dist_cumsum(df, order_cols, sum_cols, n_parts: int | None = None):
    """Distributed prefix sum WITHOUT a single-partition window —
    dist_rank's sibling for running totals (the KS/CUSUM shape):
    repartitionByRange on the total order → per-partition running sum →
    broadcast per-partition-total offset table → add. Each ``sum_cols``
    entry gains a ``<col>_cum`` column holding the inclusive prefix sum
    in the global ``order_cols`` order. ``order_cols`` must be a total
    order (append a unique id); ``sum_cols`` must already be EXACT types
    (bigint / decimal) — a float prefix sum is order-defined and this
    helper's whole point is that partitioning doesn't change results.

    Returns ``(frame, pinned)`` — release the pin through
    :func:`materialize_release`, the dist_rank convention. ``n_parts``
    defaults to the session's shuffle width (the 100 TB knob turns
    itself).
    """
    from pyspark import StorageLevel
    from pyspark.sql import Window

    if n_parts is None:
        n_parts = _default_parts(df)
    parted = (
        df.repartitionByRange(n_parts, *[F.col(c) for c in order_cols])
        .withColumn("_pid", F.spark_partition_id())
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    lw = (
        Window.partitionBy("_pid")
        .orderBy(*[F.col(c) for c in order_cols])
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    local = parted
    for c in sum_cols:
        local = local.withColumn(f"_l_{c}", F.sum(F.col(c)).over(lw))
    totals = parted.groupBy("_pid").agg(
        *[F.sum(F.col(c)).alias(f"_t_{c}") for c in sum_cols]
    )
    ow = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.select(
        "_pid",
        *[
            F.coalesce(F.sum(F.col(f"_t_{c}")).over(ow), F.lit(0)).alias(f"_o_{c}")
            for c in sum_cols
        ],
    )
    out = local.join(F.broadcast(offsets), "_pid")
    for c in sum_cols:
        out = out.withColumn(f"{c}_cum", F.col(f"_o_{c}") + F.col(f"_l_{c}"))
    return (
        out.drop("_pid", *[f"_l_{c}" for c in sum_cols], *[f"_o_{c}" for c in sum_cols]),
        parted,
    )


def dist_rank_grouped(
    df,
    group_cols,
    order_cols,
    out: str = "rank",
    n_parts: int | None = None,
    broadcast_offsets: bool = True,
):
    """Per-GROUP 1-based rank without a per-group single-partition sort
    (the stratified-split shape): a plain ``row_number() OVER
    (PARTITION BY group ORDER BY ...)`` puts each whole group on one
    task, so one 10 TB stratum melts an executor. Instead:
    repartitionByRange on (group, order) — a group spans a CONTIGUOUS
    run of range partitions — then per-(partition, group) row_number,
    then an offset table of per-(partition, group) counts cumulated
    within the group across the partition order.

    SIZE BOUND of the offset table (corrected — ADVICE r8 #3): one row
    per PRESENT (partition, group) pair, i.e. |groups| + (number of
    group runs that cross a partition boundary) ≤ |groups| + n_parts
    rows. It is NOT n_parts-bounded alone: the forced broadcast assumes
    a LOW-CARDINALITY group key (current callers: q232/q235
    per-source strata — a handful of groups). For a high-cardinality
    group key pass ``broadcast_offsets=False`` and the offset join
    falls back to a shuffle join that Catalyst/AQE sizes itself.

    ``order_cols`` must totally order rows WITHIN a group. Returns
    ``(ranked, pinned)`` — the dist_rank convention.
    """
    from pyspark import StorageLevel
    from pyspark.sql import Window

    if n_parts is None:
        n_parts = _default_parts(df)
    gcols = [F.col(c) for c in group_cols]
    ocols = [F.col(c) for c in order_cols]
    parted = (
        df.repartitionByRange(n_parts, *gcols, *ocols)
        .withColumn("_pid", F.spark_partition_id())
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    lw = Window.partitionBy("_pid", *group_cols).orderBy(*ocols)
    local = parted.withColumn("_lrn", F.row_number().over(lw))
    sizes = parted.groupBy("_pid", *group_cols).agg(F.count(F.lit(1)).alias("_cnt"))
    ow = (
        Window.partitionBy(*group_cols)
        .orderBy("_pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = sizes.select(
        "_pid",
        *group_cols,
        F.coalesce(F.sum("_cnt").over(ow), F.lit(0)).alias("_off"),
    )
    if broadcast_offsets:
        offsets = F.broadcast(offsets)
    ranked = (
        local.join(offsets, ["_pid", *group_cols])
        .withColumn(out, (F.col("_off") + F.col("_lrn")).cast("bigint"))
        .drop("_pid", "_lrn", "_off")
    )
    return ranked, parted
