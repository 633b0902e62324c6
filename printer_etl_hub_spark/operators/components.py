"""Connected components for duplicate-cluster labeling.

Near-dup detectors (MinHash-LSH, n-gram Jaccard, SimHash — operators/
dedup.py) emit PAIRS; a training-data pipeline needs per-document CLUSTER
labels ("keep one doc per component"). The operator starts from a
union-find over edge partitions (the two-phase/local-contraction CC idea
of Kiveris et al. 2014, "Connected Components in MapReduce and Beyond"):
one narrow Arrow pass per partition contracts its own slice with
union-by-min, so each node's label is the minimum id of its
within-partition component.

The union-find runs over the edges coalesced to the loop width
(``execution.loop_execution``: one partition per
``LOOP_ROWS_PER_PARTITION`` symmetrized edge rows).

- **Width 1** (≤ 1M edge rows): the one task sees every edge, so the
  union-find's labels ARE the component minima — the fixpoint the rounds
  below converge to. The labels are checkpointed in one job and returned:
  no probe, no round, no symmetrized edge table. That task holds ≤ 1M
  edge rows and ≤ 2M nodes in a Python dict.
- **Wider graphs** seed the distributed rounds from the per-partition
  labels (each coalesced partition holds ~1M edge rows), so the loop only
  pays rounds for chains that CROSS partitions.

Round structure (each is a shuffle join on node id):
1. neighbor-min message: component(n) ← min over neighbors' components —
   plain label propagation, advances a min label ONE hop per round
   (O(diameter) alone — a 10^6-node chain would need 10^6 rounds);
2. pointer jump: component(n) ← previous_labels(component(n)) — labels are
   node ids, so resolving each stepped label through the PREVIOUS round's
   (already-materialized) label table halves every label-chain, giving the
   O(log n) convergence of hash-to-min / Kiveris-style MapReduce CC with
   the same join primitives and a LINEAR per-round plan (resolving through
   the round's own output would duplicate the message-join subtree in
   every plan).

Each round ends in a lazy ``localCheckpoint`` (materialized by the round's
convergence probe): without truncation the logical plan grows per round and
ANALYSIS time (not execution — the cache serves reads) grows exponentially
(measured: 0.5s → 3.5s → 27s → 159s per round on a 100-node chain).
Checkpointing flattens the plan to a LogicalRDD each round — the same
lineage-cut every iterative Spark algorithm (GraphX/GraphFrames) performs.
localCheckpoint is executor-local: an executor lost mid-loop loses the
round's labels and fails the query.

The round loop runs with AQE disabled and a shuffle width derived from the
materialized edge count (both restored on exit): AQE turns every exchange
of every round into its own query-stage job for a plan whose shape is
fixed and already known — see the inline notes for the measured job/stage
counts.

The convergence probe is one scalar sum per round, not a join.
Non-convergence RAISES — silently returning partial labels would split
clusters without any signal.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..bounded import bounded_collect
from ..execution import loop_execution


def connected_components(
    edges: DataFrame,
    src: str = "a_id",
    dst: str = "b_id",
    *,
    max_iter: int = 25,
    stats: dict | None = None,
) -> DataFrame:
    """Label every node of the pair graph with its component's minimum id.

    Returns ``(node, component)`` for each node incident to an edge
    (singletons never enter the pair stream — callers keep them implicitly
    as their own component). Raises RuntimeError if ``max_iter`` rounds do
    not converge (needs ~log2(diameter) + 2 rounds). Both id columns must
    be bigint (the partition-local union-find and the exact DECIMAL sum
    probe rely on it); any other type raises TypeError before any job.

    ``stats``: optional dict the call fills with convergence telemetry
    (``rounds`` = distributed rounds executed, 0 when the union-find alone
    labeled the graph; ``edges`` = input edge rows) — the observability
    hook the scale audit reads. Filling it runs no extra job.
    """
    edges = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    id_types = dict(edges.dtypes)
    if set(id_types.values()) != {"bigint"}:
        raise TypeError(
            f"connected_components needs bigint ids; got {src}: "
            f"{id_types['a']}, {dst}: {id_types['b']}"
        )

    # Materialize the edge input ONCE before the symmetrization union — its
    # two branches would otherwise re-execute the caller's whole pair
    # pipeline (measured: the q72 near-dup DAG ran twice, ~9s of a 13s run).
    # The cut is LAZY and the sizing count is its materializing action
    # (r14): an eager cut followed by a count paid two job submissions for
    # one materialization (the CC round idiom, applied to the edge cut).
    edges = edges.localCheckpoint(eager=False)
    n_edges = edges.count()
    spark = edges.sparkSession
    # Round-loop execution posture (r13 optimization, guide §1.2/§2):
    # AQE OFF and a shuffle width derived from the symmetrized edge count
    # for the duration of the loop only (see execution.loop_execution;
    # restored on exit). AQE materializes every exchange of every round
    # as its own query-stage JOB — measured on q100's 11-round graph: 87
    # jobs/201 stages with AQE vs 29/88 without, identical labels — and
    # its per-round re-planning buys nothing here: the loop's plan shape
    # is fixed and known (sym pre-partitioned and pre-sorted on the join
    # key, label frames node-sized), and the min() aggregations are
    # partial-aggregable map-side, so a hot node folds before its
    # shuffle. Callers' plans outside the loop (including the returned
    # labels' consumers) run with the session's own settings.
    with loop_execution(spark, 2 * n_edges) as loop_parts:
        # Initial labels (two-phase CC, the local-contraction idea of
        # Kiveris et al. 2014): instead of the identity labeling, run a
        # union-find over the edge cut coalesced to the loop width (one
        # narrow mapInPandas — the only Python stage in the operator,
        # (id, id) pairs through Arrow) and label each node with its
        # WITHIN-PARTITION component minimum. Correctness: union-by-min
        # keeps every root the MINIMUM id of its tree, so the labels
        # satisfy exactly the loop's invariants (label(x) ≤ x, label(x) in
        # x's component). Per-task memory: a dict and a set over the
        # task's nodes; 2·n_edges ≤ loop_parts·LOOP_ROWS_PER_PARTITION, so
        # at width 1 the task holds ≤ 1M edge rows and ≤ 2M nodes.
        def _local_uf(batches):
            import pandas as pd

            parent: dict = {}

            def find(x):
                r = x
                while parent.get(r, r) != r:
                    r = parent[r]
                while parent.get(x, x) != x:
                    parent[x], x = r, parent[x]
                return r

            seen = set()
            for pdf in batches:
                for a, b in zip(pdf["a"].tolist(), pdf["b"].tolist()):
                    seen.add(a)
                    seen.add(b)
                    ra, rb = find(a), find(b)
                    if ra == rb:
                        continue
                    if rb < ra:
                        ra, rb = rb, ra
                    parent[rb] = ra
            nodes = sorted(seen)
            yield pd.DataFrame(
                {"node": nodes, "component": [find(x) for x in nodes]}
            )

        init = edges.coalesce(loop_parts).mapInPandas(
            _local_uf, schema="node bigint, component bigint"
        )
        if loop_parts == 1:
            # The one task saw every edge, so every root is its whole
            # component's minimum: the labels are the fixpoint the rounds
            # would converge to. Checkpointed so consumers never re-run
            # the Python pass. They come back as one partition with no
            # hash partitioning: a consumer's join on node shuffles both
            # sides at the session width (AQE then broadcasts the labels)
            # rather than funnelling its own side into one task.
            if stats is not None:
                stats["rounds"] = 0
                stats["edges"] = n_edges
            return init.localCheckpoint()
        # Wider graphs: every within-partition chain collapses before the
        # first distributed round, so round count drops from O(log
        # diameter) to O(log cross-partition diameter) (measured on q100's
        # chain-like cosine graph: 12 rounds → 1). Any valid contraction
        # start converges to the same component-min fixpoint under the
        # monotone Σ-probe below. A node seen by several partitions
        # carries one candidate label per partition — fold to one row per
        # node (min is a valid same-component contraction of
        # contractions).
        init = init.groupBy("node").agg(F.min("component").alias("component"))
        # Partition AND sort the symmetrized edge table by its JOIN KEY
        # before pinning it (r13 optimization, guide §2.4): every round's
        # message join probes sym on "a". The cached outputPartitioning /
        # outputOrdering satisfy the sort-merge join's requirements, so
        # rounds exchange and sort only the (node-sized) label side —
        # the edge table (at 100 TB the whole graph) is never re-shuffled
        # or re-sorted after this one materialization.
        sym = (
            edges.union(edges.select(F.col("b").alias("a"), F.col("a").alias("b")))
            .distinct()
            .repartition(loop_parts, "a")
            .sortWithinPartitions("a")
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        # Lazy cut + initial Σ-probe in ONE job (the round idiom below):
        # with a contraction start, round 0 can already be the fixpoint,
        # so the old "round 0 always changes" shortcut no longer holds —
        # seed prev_sum from the initial labels instead.
        labels = init.localCheckpoint(eager=False)
        prev_sum = bounded_collect(
            labels.agg(
                F.sum(F.col("component").cast("decimal(38,0)")).alias("s")
            ),
            1,
            "connected_components initial-label probe",
        )[0].s
        for it in range(max_iter):
            # LP step as (neighbor messages ∪ self-label) → one min per
            # node (r13 optimization): the former shape computed neighbor
            # minima with a groupBy, then LEFT-JOINED them back onto
            # labels to coalesce message-less nodes — a second node-keyed
            # join (and its exchange) per round. Every node is present in
            # ``labels``, so unioning the self-label rows into the message
            # stream makes the single min(component) aggregation compute
            # least(own, nbr_min) directly: same monotone update, one join
            # and one exchange fewer per round.
            stepped = (
                sym.join(labels, sym["a"] == labels["node"])
                .select(F.col("b").alias("node"), F.col("component"))
                .union(labels.select("node", "component"))
                .groupBy("node")
                .agg(F.min("component").alias("component"))
            )
            # Pointer jump THROUGH THE PREVIOUS ROUND'S labels (r13
            # optimization): labels are node ids of the same component
            # with label(x) ≤ x, so resolving the stepped label through
            # ANY label table contracts chains while preserving the
            # component invariant — and the previous round's table is
            # already materialized (the localCheckpoint below), so the
            # jump join is one linear chain over cached blocks. The
            # former self-jump (resolving through ``stepped`` itself)
            # halves chains one round sooner but duplicates the whole
            # message-join+groupBy subtree inside every round's plan —
            # measured on q100's 11-round chain graph: self-jump 37
            # jobs/111 stages/1608 tasks vs stale-jump 29/88/1010 at one
            # extra round, identical labels. Skipped in round 0: near-dup
            # cliques converge on LP alone by round 1 and never pay the
            # jump join. (A hash-to-min root relay and a SECOND jump per
            # round were tried this round and REVERTED: they halve the
            # round count on long-chain graphs, but each adds a
            # |nodes|-sized shuffle stage per round, and on the bench's
            # cliquey near-dup graphs job count rose ~2x and wall clock
            # regressed 20-45%. Per guide §1.2: the round schedule is
            # already O(log D); per-round stage count is what this
            # operator pays for.)
            if it > 0:
                lbl_map = labels.select(
                    F.col("node").alias("_ln"), F.col("component").alias("_lc")
                )
                stepped = stepped.join(
                    lbl_map, stepped["component"] == F.col("_ln"), "left"
                ).select(
                    "node",
                    F.coalesce("_lc", "component").alias("component"),
                )
            # Lazy cut (r13 optimization): the convergence probe below is
            # the round's first action on new_labels, so it materializes
            # the checkpoint AND reads the sum in ONE job submission
            # instead of an eager-checkpoint job followed by a probe job —
            # one fewer driver barrier per round, same lineage truncation
            # (the RDD is marked before the action; every later consumer
            # reads the persisted blocks).
            new_labels = stepped.localCheckpoint(eager=False)
            # Convergence probe: per-node labels are MONOTONE
            # non-increasing across rounds (least(old, nbr_min) ≤ old, and
            # the jump resolves through label(x) ≤ x), so Σ component is
            # strictly decreasing until the fixed point — equal sums ⇔ no
            # node changed, and a stable sum implies plain-LP stability
            # (the jump only ever lowers labels), i.e. labels constant per
            # component = the component minimum. One shuffle-free scalar
            # agg per round instead of the former old⋈new join probe (a
            # broadcast-join + count job — measured at ~2 extra job
            # submissions per round on q100's driver-latency-bound
            # profile). DECIMAL(38,0) keeps the sum exact for any bigint
            # id set. prev_sum is seeded from the initial labels, so a
            # round-0 fixpoint (the common case under the union-find
            # init) is detected immediately.
            new_sum = bounded_collect(
                new_labels.agg(
                    F.sum(F.col("component").cast("decimal(38,0)")).alias("s")
                ),
                1,
                "connected_components convergence probe",
            )[0].s
            changed = int(new_sum != prev_sum)
            prev_sum = new_sum
            labels = new_labels
            if changed == 0:
                if stats is not None:
                    stats["rounds"] = it + 1
                    stats["edges"] = n_edges
                sym.unpersist()
                return labels
        sym.unpersist()
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            "(graph diameter too large for the iteration budget)"
        )
