from __future__ import annotations

import hashlib
import os
import re
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from printer_etl_hub_spark.session import get_spark  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", shuffle_partitions=8)
    yield s


def duck_views(sf_dir: str):
    """A DuckDB connection with one view per corpus table of ``sf_dir``."""
    import duckdb

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


def count_jobs(spark, group: str, fn):
    """Run ``fn`` in its own job group; return its result and the number of
    Spark jobs it launched, read from the status tracker."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group, False)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # the tracker is fed by the listener bus asynchronously
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def collect_released(result):
    """Collect a lazy operator's ``(frame, pins)`` result, then unpersist
    the pins, as a query's ``materialize_release`` would."""
    frame, pins = result
    try:
        return frame.collect()
    finally:
        for p in pins:
            p.unpersist()


def count_round_trips(fn):
    """Run ``fn``; return its result and the number of py4j commands this
    thread sent the JVM meanwhile. py4j's finalizer thread, which frees
    stale Java references whenever Python collects them, is not counted."""
    import threading

    from py4j.clientserver import ClientServerConnection

    send, me, n = ClientServerConnection.send_command, threading.get_ident(), 0

    def counted(self, *args, **kwargs):
        nonlocal n
        n += threading.get_ident() == me
        return send(self, *args, **kwargs)

    ClientServerConnection.send_command = counted
    try:
        out = fn()
    finally:
        ClientServerConnection.send_command = send
    return out, n


@pytest.fixture(scope="session")
def duck():
    return duck_views(SF_ORACLE)


# Textbook pieces the independent-reference tests (test_wave*_refs.py)
# share; each recomputes its statistic from raw rows, not from the engine.


def arm_a(uid) -> bool:
    """The A/B experiment arm of ``uid``, from hashlib rather than SQL md5."""
    return int(hashlib.md5(f"{uid}:exp1".encode()).hexdigest()[:15], 16) % 2 == 0


def daily_event_counts(duck) -> list:
    """``(day, n_events)`` for every day with a stamped event, by day."""
    return duck.execute(
        "SELECT CAST(date_trunc('day', ts) AS DATE), count(*) FROM events "
        "WHERE ts IS NOT NULL GROUP BY 1 ORDER BY 1"
    ).fetchall()


def midranks(values):
    """Textbook average ranks with ties (1-based), plain Python floats."""
    order = sorted(range(len(values)), key=lambda i: values[i])
    ranks = [0.0] * len(values)
    i = 0
    while i < len(order):
        j = i
        while j + 1 < len(order) and values[order[j + 1]] == values[order[i]]:
            j += 1
        avg = (i + 1 + j + 1) / 2.0
        for k in range(i, j + 1):
            ranks[order[k]] = avg
        i = j + 1
    return ranks


# ---------------------------------------------------------------------------
# One registry walk for every plan-shape check (no-Python, BNLJ/Cartesian,
# unpartitioned windows): each query is built ONCE, exactly as production
# runs it, and the checks read the facts this walk records.
# ---------------------------------------------------------------------------

# Nodes that merely pass rows through (or reshuffle them) between a window
# and the operator that actually determines its input's size class.
_PASS_THROUGH = (
    "Project",
    "Filter",
    "Sort",
    "Exchange",
    "ShuffleQueryStage",
    "AQEShuffleRead",
    "InputAdapter",
    "WholeStageCodegen",
    "ColumnarToRow",
    "Coalesce",
    "ReusedExchange",
)
# A window whose input went through any of these is head-sized by definition.
_LIMIT_NODES = (
    "TakeOrderedAndProject",
    "GlobalLimit",
    "LocalLimit",
    "CollectLimit",
)
_AGG_NODES = ("HashAggregate", "ObjectHashAggregate", "SortAggregate")
# Aggregates grouped ONLY by a physical-partition id or a fixed bucket id
# are shuffle-width-/n_buckets-bounded however big the corpus is: the
# dist_cumsum / q77 offset-table discipline (plans/common.py).
_BOUNDED_KEY = ("_pid#", "_bucket#")


def _children(node):
    ch = node.children()
    return [ch.apply(i) for i in range(ch.size())]


def _window_input_class(node):
    """Descend from a window's child through pass-through nodes and return
    ('limit'|'offset_agg'|'other', node_name)."""
    cur = node
    while True:
        name = cur.nodeName()
        if any(name.startswith(p) for p in _LIMIT_NODES):
            return "limit", name
        if any(name.startswith(p) for p in _AGG_NODES):
            head = cur.toString().splitlines()[0]
            keys = head.split("keys=[", 1)[1].split("]", 1)[0] if "keys=[" in head else ""
            cols = [k.strip() for k in keys.split(",") if k.strip()]
            if cols and all(any(b in c for b in _BOUNDED_KEY) for c in cols):
                return "offset_agg", name
            return "other", name
        kids = _children(cur)
        if any(name.startswith(p) for p in _PASS_THROUGH) and len(kids) == 1:
            cur = kids[0]
            continue
        return "other", name


def _scan_unbounded_windows(node, hits):
    """Append the input class of every empty-partition-spec window whose
    input is not provably small (a limit head or an offset aggregate)."""
    if node.nodeName() == "Window" and node.partitionSpec().size() == 0:
        kids = _children(node)
        cls, nm = _window_input_class(kids[0]) if kids else ("other", "?")
        if cls == "other":
            hits.append(nm)
    for k in _children(node):
        _scan_unbounded_windows(k, hits)


#: Every Python execution node of the physical plan: Batch/Arrow
#: EvalPython(UDTF), (FlatMap)(Co)Groups/Map In Pandas/Arrow, and the
#: pandas-UDF aggregate and window nodes.
_PYTHON_EXEC = re.compile(
    r"InPandas|InArrow|EvalPython|PythonUDTF|ArrowAggregatePython|ArrowWindowPython"
)


def _plan_facts(plans):
    """What the plan-shape checks assert on, over one query's physical
    plans: Python-evaluation node lines, BNLJ and Cartesian node counts,
    and the unbounded unpartitioned windows."""
    text = "\n".join(s for s, _ in plans)
    windows: list = []
    for _, plan in plans:
        if "Adaptive" in plan.getClass().getName():
            plan = plan.initialPlan()
        _scan_unbounded_windows(plan, windows)
    return {
        "python": [ln.strip() for ln in text.splitlines() if _PYTHON_EXEC.search(ln)],
        "bnlj": text.count("BroadcastNestedLoopJoin"),
        "cartesian": text.count("CartesianProduct"),
        "windows": windows,
    }


@pytest.fixture(scope="session")
def registry_plans(spark):
    """Build every registry query once and record its plan facts.

    A query's plans are the plan of the frame it returns plus the plan of
    every frame it ``localCheckpoint``s on the way (tail postures, loop
    rounds): production truncates those plans, so the returned frame
    alone would hide them. Each checkpointed plan is captured BEFORE the
    checkpoint runs — read after execution, an adaptive plan prints its
    final and its initial plan, doubling every node count. Each query
    starts from an empty cache, as the bench and gate harnesses start it.

    ``pin_leak`` records whether anything is still cached once the
    query's deferred pins are flushed: a pin it never handed to
    ``materialize_release`` outlives the query.
    """
    from printer_etl_hub_spark.plans import REGISTRY
    from printer_etl_hub_spark.plans.common import flush_pending_release

    cache = spark._jsparkSession.sharedState().cacheManager()
    frame_cls = type(spark.range(1))
    checkpoint = frame_cls.localCheckpoint
    plans: list = []

    def capturing_checkpoint(self, *args, **kwargs):
        plan = self._jdf.queryExecution().executedPlan()
        plans.append((plan.toString(), plan))
        return checkpoint(self, *args, **kwargs)

    facts = {}
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(frame_cls, "localCheckpoint", capturing_checkpoint)
        for name, spec in REGISTRY.items():
            spark.catalog.clearCache()
            flush_pending_release()
            plans.clear()
            plan = spec.fn(spark, SF_SMOKE)._jdf.queryExecution().executedPlan()
            facts[name] = _plan_facts([(plan.toString(), plan), *plans])
            flush_pending_release()
            facts[name]["pin_leak"] = not cache.isEmpty()
        plans.clear()
    spark.catalog.clearCache()
    flush_pending_release()
    return facts
