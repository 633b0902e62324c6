#!/usr/bin/env python3
"""Benchmark of the printer_etl_hub_spark engine, driven from outside.

    python3 perfbench/run.py --workload iterative --seed 1 --seconds 10 --trace 0

One run: build the seeded inputs, start the engine's session at local[4]
and run a fixed warm-up (``setup_s``), run untimed warm passes over the
workload's ops and check their outputs, then run timed passes for
``--seconds`` (at least ``MIN_PASSES``). The last stdout line is the
result; the line before it is the run record (per-op figures, host probe,
driver heap and JVM options). ``--trace 1`` starts the session with Spark's
event log on, runs each op in its own job group, wraps the engine's eager
entry points in spans and reports the per-layer metrics instead of the
end-to-end ones.

Exits 2 when the engine package is not beside this directory, 1 when an
output is wrong or an op failed.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import check  # noqa: E402
import datagen  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402

CPUS = 4
#: Driver heap, well below the memory of a 16 GB host (the engine's own
#: default is 48g).
DRIVER_MEMORY = "4g"
#: The driver JVM compiles with C1 only. With the default tiered JIT, passes
#: keep speeding up for 25+ passes (over a minute) as C2 reaches more of the
#: planner, at a rate that varies from run to run, so a median over any
#: window a short run can afford sits at a different point of that slope in
#: each run. C1 alone also shrinks the JVM's default code cache from 240 MB
#: to 48 MB, which the planner and Spark's generated code fill within about
#: ten passes; the JVM then flushes compiled code and recompiles it in a
#: burst that costs a pass or two a third more. The tiered default size
#: keeps the whole run's code (about 50 MB), and passes are level from the
#: second one on.
JVM_OPTIONS = "-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=240m"
#: Untimed passes before timing starts (the cold first one included); the
#: first one's outputs are checked. The rest of a run goes to the timed
#: window: on a shared 4-vCPU virtual machine the host's speed wanders by a
#: fifth over seconds to minutes (a pure-Python loop alone does), and only a
#: longer window averages that out.
WARM_PASSES = {"relational": 2, "iterative": 3, "fleet_cycle": 3}
#: Fewest timed passes per run, for a host slow enough that ``--seconds``
#: would leave too few samples for a median.
MIN_PASSES = 5
#: Samples of the 1-job host probe, before and after the timed passes.
PROBE_SAMPLES = 10
#: Samples a tail percentile must leave beyond it.
TAIL_BEYOND = 10

clock = time.perf_counter


def _pass_wall(passes) -> float:
    return statistics.median(r["wall_s"] for r in passes)


def host_ms_per_job(spark) -> float:
    """Median wall of a 1-job ``spark.range(1).collect()``: the host's fixed
    per-job cost."""
    walls = []
    for _ in range(PROBE_SAMPLES):
        t0 = clock()
        spark.range(1).collect()
        walls.append(clock() - t0)
    return 1000.0 * statistics.median(walls)


def shutdown(spark, stop: bool) -> None:
    """Stop the session, then close the JVM's stdin and wait for it to exit."""
    from pyspark import SparkContext

    if stop:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def warm_up(spark) -> None:
    """The fixed warm-up counted in ``setup_s``: string functions (their
    one-time ICU init) and an Arrow collect."""
    from pyspark.sql import functions as F

    spark.range(1).select(
        F.lower(F.lit("WARMUP")), F.md5(F.lit("x")), F.regexp_replace(F.lit("a b"), r"\s+", " ")
    ).collect()
    spark.range(4).toPandas()


class Bench:
    def __init__(self, args, work: str):
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.work = work
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.jvm_dead = False

    # ------------------------------------------------------------ inputs
    def _inputs(self) -> None:
        if self.workload != "fleet_cycle":
            self.tables_dir = os.path.join(self.work, "tables")
            datagen.write_tables(self.tables_dir)
        else:
            self.fleet = datagen.Fleet(self.seed, workloads.FLEET_PRINTERS, workloads.FLEET_CYCLES)
            self.fleet_dir = os.path.join(self.work, "fleet")
            self.fleet.write(self.fleet_dir)

    def _session(self):
        for d in ("local", "tmp", "warehouse", "eventlog"):
            os.makedirs(os.path.join(self.work, d), exist_ok=True)
        os.environ.update(
            SPARK_GRAFT_CPUS=str(CPUS),
            SPARK_DRIVER_MEMORY=DRIVER_MEMORY,
            SPARK_GRAFT_LOCAL_DIR=os.path.join(self.work, "local"),
            TMPDIR=os.path.join(self.work, "tmp"),
            TZ="UTC",
            PYSPARK_PYTHON=sys.executable,
        )
        os.environ.pop("SPARK_MASTER", None)
        time.tzset()
        conf = {
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')} {JVM_OPTIONS}"
            ),
        }
        if self.trace:
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + os.path.join(self.work, "eventlog"),
                    "spark.eventLog.compress": "false",
                }
            )
        from printer_etl_hub_spark.session import get_spark

        return get_spark("perfbench", extra_conf=conf)

    def _ops(self):
        if self.workload == "fleet_cycle":
            return [workloads.FleetCycle(self.fleet_dir, os.path.join(self.work, "state"))]
        names = workloads.RELATIONAL if self.workload == "relational" else workloads.ITERATIVE
        return [workloads.QueryOp(n, self.tables_dir) for n in names]

    # ---------------------------------------------------------- running
    def _fail(self, spark, what: str) -> None:
        """Count a failed op. A dead JVM also fails every op left in the
        pass and ends the run; it is never restarted."""
        self.failed += 1
        self.errors.append(what[:300])
        print(f"# FAILED {what[:300]}", file=sys.stderr)
        if spark is not None and not self.jvm_dead:
            try:
                self.jvm_dead = spark.sparkContext._jsc.sc().isStopped()
            except Exception:  # the gateway itself is gone
                self.jvm_dead = True

    def _run_pass(self, spark, ops, label: str, tracer) -> dict:
        """Run every op once, in an order drawn from the seed. A pass with a
        failed op is not a steady sample (``ok`` is false)."""
        order = list(ops)
        random.Random(f"{self.seed}:{label}").shuffle(order)
        sc = spark.sparkContext
        rec = {"ops": {}, "ok": True}
        t0 = clock()
        for op in order:
            self.attempted += 1
            group = f"{label}/{op.name}"
            if self.jvm_dead:
                self._fail(None, f"{group}: not run, the JVM died")
                rec["ok"] = False
                continue
            if self.trace:
                sc.setJobGroup(group, op.name, False)
            try:
                build, action = op.run(spark, clock)
            except Exception as exc:  # one op's failure is a counted result
                self._fail(spark, f"{group}: {type(exc).__name__}: {exc}")
                rec["ok"] = False
                continue
            finally:
                if self.trace and not self.jvm_dead:
                    sc.setLocalProperty("spark.jobGroup.id", None)
            calls, eager = tracer.take() if tracer else (0, 0.0)
            rec["ops"][op.name] = {
                "group": group,
                "build_s": build,
                "action_s": action,
                "eager_calls": calls,
                "eager_s": eager,
            }
        rec["wall_s"] = clock() - t0
        return rec

    def _check_queries(self, spark, ops) -> None:
        """Digest every op's result against the pinned oracle digest."""
        with open(os.path.join(HERE, "digests.json"), encoding="utf-8") as fh:
            pinned = json.load(fh)
        for op in ops:
            self.attempted += 1
            if self.jvm_dead:
                self._fail(None, f"check/{op.name}: not run, the JVM died")
                continue
            try:
                got = check.digest(op.result(spark))
            except Exception as exc:
                self._fail(spark, f"check/{op.name}: {type(exc).__name__}: {exc}")
                continue
            if got != pinned.get(op.name):
                self._fail(spark, f"check/{op.name}: digest {got} != pinned {pinned.get(op.name)}")

    def _check_fleet(self, spark, op) -> None:
        """The committed state must be the last cycle's report, with the
        counts the generator derived from that cycle's inputs. A mismatch
        fails that cycle."""
        if self.jvm_dead:
            return
        last = op.cycle - 1
        want = self.fleet.expected(last)
        want.update(min_cycle=last, max_cycle=last)
        try:
            got = check.fleet_state_counts(spark, op.state_dir)
        except Exception as exc:
            self._fail(spark, f"check/fleet_cycle {last}: {type(exc).__name__}: {exc}")
            return
        if got != want:
            self._fail(spark, f"check/fleet_cycle {last}: state {got} != expected {want}")

    def _measure(self, spark):
        """Warm passes with output checks, then the timed passes."""
        probe_pre = host_ms_per_job(spark)
        ops = self._ops()
        tracer = None
        if self.trace:
            tracer = spans.EagerSpans()
            tracer.install()

        warm_walls = []
        for w in range(WARM_PASSES[self.workload]):
            if self.workload != "fleet_cycle" and w == 0:
                t = clock()
                self._check_queries(spark, ops)
                warm_walls.append(clock() - t)
            else:
                warm_walls.append(self._run_pass(spark, ops, f"w{w}", tracer)["wall_s"])
        if self.workload == "fleet_cycle":
            self._check_fleet(spark, ops[0])

        passes = []
        t_start = clock()
        while not self.jvm_dead and (
            len(passes) < MIN_PASSES or clock() - t_start < self.seconds
        ):
            passes.append(self._run_pass(spark, ops, f"p{len(passes)}", tracer))
        timed_s = clock() - t_start

        probe_post = host_ms_per_job(spark) if not self.jvm_dead else 0.0
        versions = 0
        if self.workload == "fleet_cycle" and not self.jvm_dead:
            self._check_fleet(spark, ops[0])
            versions = ops[0].versions()
        return ops, warm_walls, passes, timed_s, (probe_pre, probe_post), versions

    def run(self) -> tuple[dict, dict]:
        self._inputs()
        t0 = clock()
        spark = self._session()
        try:
            start_s = clock() - t0
            warm_up(spark)
            setup_s = clock() - t0
            ops, warm_walls, passes, timed_s, probes, versions = self._measure(spark)
        finally:
            shutdown(spark, stop=not self.jvm_dead)
        probe_pre, probe_post = probes
        groups = spans.read_event_log(os.path.join(self.work, "eventlog")) if self.trace else {}

        steady = [r for r in passes if r["ok"]]
        record = {
            "workload": self.workload,
            "seed": self.seed,
            "seconds": self.seconds,
            "trace": int(self.trace),
            "master": f"local[{CPUS}]",
            "driver_memory": DRIVER_MEMORY,
            "jvm_options": JVM_OPTIONS,
            "setup_s": setup_s,
            "warm_pass_s": warm_walls,
            "timed_s": timed_s,
            "pass_walls_s": [r["wall_s"] for r in passes],
            "host_ms_per_job": {"pre": probe_pre, "post": probe_post},
            "fail_ratio": self.failed / max(1, self.attempted),
            "errors": self.errors,
        }
        correct = self.failed == 0 and bool(steady)
        if not steady:
            metrics = {}
        elif self.trace:
            metrics = self._layer_metrics(
                steady, groups, start_s, warm_walls, probe_pre, probe_post, versions, ops, record
            )
        else:
            metrics = self._e2e_metrics(steady, setup_s, record)
        result = {
            "correct": correct,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": metrics,
        }
        return record, result

    # ---------------------------------------------------------- metrics
    def _e2e_metrics(self, steady, setup_s, record) -> dict:
        samples: dict[str, list[float]] = {}
        for r in steady:
            for name, o in r["ops"].items():
                samples.setdefault(name, []).append(o["build_s"] + o["action_s"])
        medians = {n: statistics.median(v) for n, v in samples.items()}
        # The tail is the highest sample with TAIL_BEYOND samples above it.
        # It is recorded, not reported: a run short enough to be repeated
        # many times per workload has fewer samples, so it stays unresolved.
        pooled = sorted(x for v in samples.values() for x in v)
        n = len(pooled)
        k = n - TAIL_BEYOND - 1
        record.update(
            op_median_s=medians,
            op_tail={
                "samples": n,
                "value_s": pooled[k] if k >= 0 else None,
                "percentile": 100.0 * (k + 1) / n if k >= 0 else None,
            },
        )
        geomean = math.exp(statistics.fmean(math.log(m) for m in medians.values()))
        return {
            "setup_s": {"value": setup_s, "unit": "s"},
            "pass_wall_s": {"value": _pass_wall(steady), "unit": "s"},
            "op_geomean_s": {"value": geomean, "unit": "s"},
        }

    def _layer_metrics(
        self, steady, groups, start_s, warm_walls, probe_pre, probe_post, versions, ops, record
    ) -> dict:
        per_pass: dict[str, list[float]] = {}

        def add(key, values):
            per_pass.setdefault(key, []).append(sum(values))

        per_op_counts = {}
        for r in steady:
            ops_r = r["ops"].values()
            add("plans.build_s", (o["build_s"] for o in ops_r))
            add("plans.action_s", (o["action_s"] for o in ops_r))
            add("execution.eager_calls", (o["eager_calls"] for o in ops_r))
            add("execution.eager_s", (o["eager_s"] for o in ops_r))
            g = [groups.get(o["group"], {}) for o in ops_r]
            for key, field, scale in (
                ("spark.jobs", "jobs", 1),
                ("spark.stages", "stages", 1),
                ("spark.tasks", "tasks", 1),
                ("spark.executor_run_s", "executor_run_ms", 1e-3),
                ("spark.executor_cpu_s", "executor_cpu_ns", 1e-9),
                ("spark.gc_s", "gc_ms", 1e-3),
                ("spark.input_bytes", "input_bytes", 1),
                ("spark.shuffle_read_bytes", "shuffle_read_bytes", 1),
                ("spark.shuffle_write_bytes", "shuffle_write_bytes", 1),
                ("spark.spill_bytes", "spill_bytes", 1),
            ):
                add(key, (x.get(field, 0) * scale for x in g))
            for name, o in r["ops"].items():
                c = groups.get(o["group"], {})
                per_op_counts.setdefault(name, set()).add((c.get("jobs", 0), c.get("stages", 0)))
        record["op_jobs_stages"] = {n: sorted(v) for n, v in per_op_counts.items()}
        units = {
            "plans.build_s": "s",
            "plans.action_s": "s",
            "execution.eager_calls": "count",
            "execution.eager_s": "s",
            "spark.jobs": "count",
            "spark.stages": "count",
            "spark.tasks": "count",
            "spark.executor_run_s": "s",
            "spark.executor_cpu_s": "s",
            "spark.gc_s": "s",
            "spark.input_bytes": "B",
            "spark.shuffle_read_bytes": "B",
            "spark.shuffle_write_bytes": "B",
            "spark.spill_bytes": "B",
        }
        metrics = {
            k: {"value": statistics.median(per_pass[k]), "unit": u}
            for k, u in units.items()
        }
        fleet = self.workload == "fleet_cycle"
        merge = statistics.median(per_pass["plans.action_s"]) if fleet else 0.0
        written = ops[0].bytes_written / max(1, ops[0].cycle) if fleet else 0.0
        metrics.update(
            {
                "session.start_s": {"value": start_s, "unit": "s"},
                "session.warm_pass_s": {"value": sum(warm_walls), "unit": "s"},
                "spark.host_ms_per_job": {"value": probe_post, "unit": "ms"},
                "spark.host_ms_per_job_pre": {"value": probe_pre, "unit": "ms"},
                "streaming.sink.merge_s": {"value": merge, "unit": "s"},
                "streaming.sink.bytes_written": {"value": written, "unit": "B"},
                "streaming.sink.versions": {"value": versions, "unit": "count"},
                "trace.pass_wall_s": {"value": _pass_wall(steady), "unit": "s"},
            }
        )
        return metrics


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WARM_PASSES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops the JVM and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isfile(os.path.join(ROOT, "printer_etl_hub_spark", "__init__.py")):
        print(f"perfbench: no printer_etl_hub_spark package in {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(HERE, ".work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        record, result = Bench(args, work).run()
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's work directory is still there
    print(json.dumps({"record": record}))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
