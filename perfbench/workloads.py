"""The benchmark's workloads: which ops a pass runs and how one op runs.

An op returns the seconds it spent building its plan (the query-function
call, eager jobs inside it included) and materializing the result. Each
workload also checks its outputs outside the timed ops.
"""

from __future__ import annotations

import os

#: TPC-H shapes plus the generalized fleet operators (pivot, severity
#: argmax, tolerant-JSON harvest). A few Spark jobs per op; scan, shuffle
#: and the final action dominate. Runnable with ``--workload relational``
#: but not listed in BENCHMARK.json: one run needs about 80 s (a cold first
#: pass, then ~10 s passes that are still warming), too long to repeat
#: 22 times within the benchmark's total time budget.
RELATIONAL = (
    "q01_pricing_summary",
    "q34_tpch_q3",
    "q35_tpch_q5",
    "q40_tpch_q10",
    "q42_tpch_q18",
    "q58_tpch_q7",
    "q59_tpch_q8",
    "q60_tpch_q9",
    "q61_tpch_q13",
    "q64_tpch_q21",
    "q66_tpch_q2",
    "q06_pivot_orderstatus",
    "q08_severity_argmax",
    "q71_json_harvest",
)

#: Iterative operators: dup clusters (n-gram pair generation, then
#: connected components). Many jobs per op, most of them eager inside the
#: query-function call. One op keeps a run short enough to repeat; k-core
#: and k-means (q240, q94) add 2.5-3.5 s a pass each.
ITERATIVE = ("q72_dup_clusters",)

#: Printers in the fleet_cycle workload, and distinct telemetry sets drawn.
FLEET_PRINTERS = 1000
FLEET_CYCLES = 8


def _release(spark) -> None:
    """Drop the previous op's cached frames, as the engine's harnesses do."""
    from printer_etl_hub_spark.plans.common import flush_pending_release

    spark.catalog.clearCache()
    flush_pending_release()


class QueryOp:
    """One registry query over the benchmark corpus."""

    def __init__(self, name: str, tables_dir: str):
        from printer_etl_hub_spark.plans import REGISTRY

        self.name = name
        self._fn = REGISTRY[name].fn
        self._dir = tables_dir

    def run(self, spark, clock) -> tuple[float, float]:
        """Build, then write every result column to the no-op sink (a
        ``count()`` would let the optimizer prune the projected columns)."""
        _release(spark)
        t0 = clock()
        df = self._fn(spark, self._dir)
        t1 = clock()
        df.write.format("noop").mode("overwrite").save()
        return t1 - t0, clock() - t1

    def result(self, spark):
        """The op's result as pandas, for the output check."""
        _release(spark)
        return self._fn(spark, self._dir).toPandas()


class FleetCycle:
    """One poll cycle: the fleet toner report over this cycle's SNMP walk and
    alerts, merged into the versioned state table."""

    name = "fleet_cycle"

    def __init__(self, fleet_dir: str, state_dir: str):
        self._dir = fleet_dir
        self.state_dir = state_dir
        self.cycle = 0
        self.bytes_written = 0

    def run(self, spark, clock) -> tuple[float, float]:
        from pyspark.sql import functions as F

        from printer_etl_hub_spark.plans.fleet import fleet_toner_report
        from printer_etl_hub_spark.streaming.sink import merge_last_state, vacuum

        c = self.cycle
        _release(spark)
        t0 = clock()
        read = spark.read.parquet
        k = c % FLEET_CYCLES
        report = fleet_toner_report(
            read(os.path.join(self._dir, "printers.parquet")),
            read(os.path.join(self._dir, f"walk_{k}.parquet")),
            read(os.path.join(self._dir, f"alerts_{k}.parquet")),
            read(os.path.join(self._dir, "toner_types.parquet")),
        ).withColumn("cycle", F.lit(c))
        t1 = clock()
        merge_last_state(spark, report, self.state_dir, "id", "cycle", c)
        vacuum(self.state_dir, keep_last=2)
        t2 = clock()
        self.cycle += 1
        newest = max(d for d in os.listdir(self.state_dir) if d.startswith("v"))
        self.bytes_written += _dir_bytes(os.path.join(self.state_dir, newest))
        return t1 - t0, t2 - t1

    def versions(self) -> int:
        return sum(1 for d in os.listdir(self.state_dir) if d.startswith("v"))


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(path, f))
        for f in os.listdir(path)
        if not f.startswith(".")
    )
