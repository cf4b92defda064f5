"""One benchmark run: a fresh Python process with one SparkSession.

Started by ``run.py``; prints one JSON object as its last line. Every
figure is measured from outside the engine: wall clocks around calls
into the package's public functions, the JVM's management beans,
Spark's status store and listener bus, and /proc for this process tree.
Results are checked in a separate checker process (``checker.py``).
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import statistics
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import probes  # noqa: E402
from checker import Checker  # noqa: E402
import workloads  # noqa: E402
from trace import Tracer  # noqa: E402

MB = 1024.0 * 1024.0


def parse_args(argv=None):
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--tmp", required=True, help="this run's scratch directory")
    p.add_argument("--t0", type=float, required=True, help="time.time() before process start")
    return p.parse_args(argv)


class Layers:
    """Counters fed by thin wrappers around the package's public
    functions (installed only in traced runs)."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self.jvm_calls = 0
        self.count_jvm = False

    def install(self) -> None:
        """Wrap ``datasets.load_table``/``load_tables`` and py4j's
        command channel. Must run before ``plans.registry`` is imported:
        plan modules bind ``load_table`` by name at import time."""
        from security_master_spark import datasets

        def wrap(fn, span_name):
            def wrapper(*a, **kw):
                with self.tracer.span(span_name):
                    return fn(*a, **kw)

            return wrapper

        datasets.load_table = wrap(datasets.load_table, "load_table")
        datasets.load_tables = wrap(datasets.load_tables, "load_tables")

        from py4j import clientserver, java_gateway

        for cls in (clientserver.ClientServerConnection, java_gateway.GatewayConnection):
            orig = cls.send_command

            def send_command(conn, command, _orig=orig):
                # Not the listener's callbacks, which run on other threads.
                if self.count_jvm and threading.current_thread() is threading.main_thread():
                    self.jvm_calls += 1
                return _orig(conn, command)

            cls.send_command = send_command


class PhaseListener:
    """A Spark ``QueryExecutionListener``, called back over py4j: the
    Catalyst phase times of each finished SQL execution, read from that
    execution's own ``QueryExecution`` (for the ``noop`` sink, the write
    command's; for ``toPandas()``, the DataFrame's)."""

    def __init__(self, spark):
        from pyspark.java_gateway import ensure_callback_server_started

        self.events: list[dict[str, float]] = []
        self.bus = spark.sparkContext._jsc.sc().listenerBus()
        ensure_callback_server_started(spark.sparkContext._gateway)
        spark._jsparkSession.listenerManager().register(self)

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 - Java interface
        self.events.append(catalyst_phases(qe))

    def onFailure(self, func_name, qe, exception):  # noqa: N802 - Java interface
        self.events.append(catalyst_phases(qe))

    def drain(self) -> list[dict[str, float]]:
        """The phases of every execution finished so far, once each."""
        self.bus.waitUntilEmpty()
        out, self.events = self.events, []
        return out

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def catalyst_phases(qe) -> dict[str, float]:
    phases = qe.tracker().phases()  # a Scala Map of Options
    return {
        k: phases.get(k).get().durationMs() / 1000.0
        for k in ("analysis", "optimization", "planning")
        if phases.get(k).isDefined()
    }


def _scala_seq(seq) -> list:
    return [seq.apply(i) for i in range(seq.size())]


class StatusStore:
    """Per-query Spark job/stage/task figures, tagged by job group."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.store = self.sc._jsc.sc().statusStore()
        self.empty_list = self.sc._jvm.java.util.ArrayList()
        self.no_quantiles = self.sc._gateway.new_array(self.sc._jvm.double, 0)

    def jobs(self, group: str) -> list[int]:
        return list(self.tracker.getJobIdsForGroup(group))

    def stage_totals(self, job_ids: list[int]) -> dict[str, float]:
        tot = dict.fromkeys(
            ("stages", "tasks", "busy_ms", "cpu_ns", "gc_ms", "shw", "shr", "spill", "inp", "out"), 0
        )
        for jid in job_ids:
            info = self.tracker.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                for sd in _scala_seq(
                    self.store.stageData(sid, False, self.empty_list, False, self.no_quantiles)
                ):
                    if sd.numCompleteTasks() == 0:
                        continue  # skipped (reused shuffle output)
                    tot["stages"] += 1
                    tot["tasks"] += sd.numCompleteTasks()
                    tot["busy_ms"] += sd.executorRunTime()
                    tot["cpu_ns"] += sd.executorCpuTime()
                    tot["gc_ms"] += sd.jvmGcTime()
                    tot["shw"] += sd.shuffleWriteBytes()
                    tot["shr"] += sd.shuffleReadBytes()
                    tot["spill"] += sd.diskBytesSpilled()
                    tot["inp"] += sd.inputBytes()
                    tot["out"] += sd.outputBytes()
        return tot


class Run:
    def __init__(self, args):
        self.args = args
        self.tracer = Tracer() if args.trace else None
        self.layers = Layers(self.tracer) if args.trace else None
        self.attempted = 0
        self.failed = 0
        self.correct = True
        self.notes: list[str] = []
        self.first_pass_s = self.battery_s = self.query_p50_s = 0.0
        self.rounds = 0
        self.op = 0

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else contextlib.nullcontext()

    # ---------------------------------------------------------------- setup
    def setup(self) -> None:
        with self.span("setup"):
            self._setup()

    def _setup(self) -> None:
        args = self.args
        # Before the JVM, so that the checker never shares its memory.
        self.checker = Checker(args.workload, args.tmp, args.seed)
        if self.layers:
            self.layers.install()
        t = time.time()
        from security_master_spark.session import get_spark

        self.spark = get_spark(app_name="perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        self.get_spark_s = time.time() - t
        t = time.time()
        from security_master_spark.plans import registry

        self.queries = registry.queries()
        self.oracles = registry.oracle_sql()
        self.registry_import_s = time.time() - t
        self.wl = workloads.WORKLOADS[args.workload](args.tmp, args.seed)
        self.checker.call("prepare")
        # Engine warm-up, as bench.py does: one tiny action, then the
        # Python-worker pool and Arrow path.
        t = time.time()
        self.queries["q1_pricing_summary"](self.spark, self.wl.sf_dir).count()
        self.spark.range(0, 1000, numPartitions=32).mapInPandas(
            lambda it: it, schema="id long"
        ).count()
        self.warmup_s = time.time() - t
        self.setup_s = time.time() - args.t0
        self.jvm = probes.find_jvm(os.getpid())
        self.store = StatusStore(self.spark) if args.trace else None
        self.listener = PhaseListener(self.spark) if args.trace else None
        self.workers = probes.WorkerMeter(self.jvm)
        self.wl.check_names(self.queries, self.oracles)
        jvm_args = self.spark.sparkContext._jvm.java.lang.management.ManagementFactory \
            .getRuntimeMXBean().getInputArguments()
        self.notes.append(
            "jvm: " + " ".join(a for a in jvm_args if a.startswith(("-Xm", "-XX")))
            + f"; master {self.spark.sparkContext.master}"
        )
        self.notes.append(
            f"setup {self.setup_s:.2f} s: get_spark {self.get_spark_s:.2f}, "
            f"registry {self.registry_import_s:.2f}, warm-up {self.warmup_s:.2f}"
        )

    # ------------------------------------------------------------ one query
    def execute(self, name: str, kind: str):
        """Build one query's DataFrame and run it into the noop sink
        (``kind`` "noop") or to pandas ("first" pass, "pandas" repeats).
        Returns (wall time of the whole call, pandas output or None)."""
        fn = self.queries[name]
        to_pandas = kind != "noop"
        if not self.tracer:
            t0 = time.perf_counter()
            df = fn(self.spark, self.wl.sf_dir)
            out = df.toPandas() if to_pandas else df.write.mode("overwrite").format("noop").save()
            return time.perf_counter() - t0, out
        sc = self.spark.sparkContext
        self.op += 1
        tag = f"perfbench-{self.op}"
        t0 = time.perf_counter()
        with self.tracer.span("query", query=name, kind=kind) as q:
            sc.setJobGroup(f"{tag}-build", name)
            calls = self.layers.jvm_calls
            self.layers.count_jvm = True
            with self.tracer.span("build"):
                df = fn(self.spark, self.wl.sf_dir)
            self.layers.count_jvm = False
            q["jvm_calls"] = self.layers.jvm_calls - calls
            sc.setJobGroup(f"{tag}-exec", name)
            # Analysis of the returned DataFrame ran when it was built.
            # (A noop write shares this tracker, so read it before.)
            analysis = catalyst_phases(df._jdf.queryExecution()).get("analysis", 0.0)
            self.listener.drain()  # executions of the build's eager jobs
            with self.tracer.span("sink"):
                out = df.toPandas() if to_pandas else df.write.mode("overwrite").format("noop").save()
        elapsed = time.perf_counter() - t0
        sc.setJobGroup("perfbench-other", "between queries")
        # Optimization and planning ran once, inside the sink.
        sink = self.listener.drain()
        q["phases"] = {
            "analysis": analysis,
            "optimization": sum(e.get("optimization", 0.0) for e in sink),
            "planning": sum(e.get("planning", 0.0) for e in sink),
        }
        q["build_jobs"] = self.store.jobs(f"{tag}-build")
        q["exec_jobs"] = self.store.jobs(f"{tag}-exec")
        q["stages"] = self.store.stage_totals(q["build_jobs"] + q["exec_jobs"])
        self.workers.sample()
        return elapsed, out

    def between_queries(self) -> None:
        """Outside the timed region, as bench.py does: JVM GC, then drop
        every cached frame. Skipped where the workload keeps a caller's
        session as a caller would."""
        if self.wl.clear_cache:
            self.spark.sparkContext._jvm.System.gc()
            self.spark.catalog.clearCache()

    def attempt(self, name: str, kind: str):
        """One operation. Returns (wall time, why it failed or None,
        whether that is the workload's known fault); only pandas runs
        are checked, by the checker process."""
        try:
            elapsed, out = self.execute(name, kind)
        except Exception as e:  # noqa: BLE001 - a failed operation, reported
            traceback.print_exc()
            return None, f"raised {type(e).__name__}: {str(e).splitlines()[0][:200]}", False
        if out is None:
            return elapsed, None, False
        err, known = self.checker.call("check", name, out, self.oracles[name])
        return elapsed, err, known

    # ------------------------------------------------------------- workload
    def measure(self) -> None:
        """A first pass to pandas, every result checked; then whole
        rounds until ``--seconds`` have passed. ``attempted`` and
        ``failed`` count the operations of the rounds, which are all
        alike; a failure in the first pass makes the run incorrect."""
        args, wl = self.args, self.wl
        self.first_pass_s = 0.0
        for name in wl.order(0):
            elapsed, err, _ = self.attempt(name, "first")
            if err:
                self.correct = False
                self.notes.append(f"first pass {name}: {err}")
            else:
                self.first_pass_s += elapsed
            if wl.clear_cache:
                self.spark.catalog.clearCache()
        # A caller's first pass pays its own GC; the timed rounds start clean.
        self.spark.sparkContext._jvm.System.gc()

        times: dict[str, list[float]] = {n: [] for n in wl.names}
        cpu0 = self._process_cpu()
        deadline = time.perf_counter() + args.seconds
        stale: dict[str, int] = {}
        while self.rounds < wl.min_rounds or time.perf_counter() < deadline:
            self.rounds += 1
            self.checker.call("begin_round", self.rounds)
            for name in wl.order(self.rounds):
                self.attempted += 1
                elapsed, err, known = self.attempt(name, wl.round_sink)
                if elapsed is not None:
                    times[name].append(elapsed)
                if err:
                    self.failed += 1
                    if known:
                        stale[name] = stale.get(name, 0) + 1
                    else:
                        self.correct = False
                        self.notes.append(f"round {self.rounds} {name}: {err}")
                self.between_queries()
        self.cpu_delta = {k: v - cpu0.get(k, 0.0) for k, v in self._process_cpu().items()}
        self.notes.append(
            f"host: nproc {os.cpu_count()}, steal {self.cpu_delta['steal']:.2f} s "
            f"over {self.rounds} measured round(s)"
        )
        for name, n in sorted(stale.items()):
            self.notes.append(
                f"stale: {name} served the first pass's cached answer in {n} of {self.rounds} rounds"
            )
        if any(not ts for ts in times.values()):
            self.correct = False
            return
        per_query = {n: workloads.STAT(ts) for n, ts in times.items()}
        self.battery_s = sum(per_query.values())
        self.query_p50_s = statistics.median(per_query.values())
        self.notes.append(
            "per-query (min, median) s: "
            + json.dumps(
                {n: (round(min(ts), 4), round(statistics.median(ts), 4)) for n, ts in times.items()}
            )
        )

    def self_check(self) -> None:
        """Feed one deliberately perturbed result through the comparison."""
        caught = self.checker.call("self_check")
        self.notes.append(
            "self-check: "
            + {None: "no result to perturb", True: "perturbed result caught"}.get(
                caught, "perturbed result MISSED"
            )
        )
        self.correct &= bool(caught)

    def _process_cpu(self) -> dict[str, float]:
        t = os.times()
        out = {"driver": t.user + t.system, "steal": probes.steal_s()}
        if self.jvm:
            out["jvm"] = probes.cpu_s(self.jvm)
            kinds = probes.thread_cpu_by_kind(self.jvm)
            out["gc"], out["jit"] = kinds["gc"], kinds["jit"]
            out["workers"] = self.workers.cpu_s()
        return out

    # -------------------------------------------------------------- report
    def end_to_end(self) -> dict:
        peak = probes.peak_rss_mb(os.getpid()) + (probes.peak_rss_mb(self.jvm) if self.jvm else 0.0)
        return {
            "setup_s": (self.setup_s, "s"),
            "first_pass_s": (self.first_pass_s, "s"),
            "battery_s": (self.battery_s, "s"),
            "query_p50_s": (self.query_p50_s, "s"),
            "peak_rss_mb": (peak, "MB"),
        }

    def per_layer(self) -> dict:
        """Layer figures per round: totals over the timed operations of
        the measured rounds, divided by the number of rounds."""
        tr, n = self.tracer, max(self.rounds, 1)
        timed = [i for i, s in enumerate(tr.spans) if s["name"] == "query" and s["kind"] != "first"]
        qs = [tr.spans[i] for i in timed]
        under = tr.under(set(timed))

        def per_round(values) -> float:
            return sum(values) / n

        def spans(name):
            return [s["end"] - s["start"] for s in under if s["name"] == name]

        def catalyst(s):
            return s["phases"]["optimization"] + s["phases"]["planning"]

        def stage(key):
            return per_round(s["stages"][key] for s in qs)

        def phase(key):
            return per_round(s["phases"].get(key, 0.0) for s in qs)

        sc = self.spark.sparkContext
        cached = sum(i.memSize() + i.diskSize() for i in sc._jsc.sc().getRDDStorageInfo())
        d = self.cpu_delta
        return {
            "session.get_spark_s": (self.get_spark_s, "s"),
            "session.registry_import_s": (self.registry_import_s, "s"),
            "session.warmup_s": (self.warmup_s, "s"),
            "session.persistent_rdds_end": (sc._jsc.getPersistentRDDs().size(), "count"),
            "session.cached_mb_end": (cached / MB, "MB"),
            "datasets.load_table_calls": (per_round(1 for _ in spans("load_table")), "count"),
            "datasets.load_table_s": (per_round(spans("load_table")), "s"),
            "plans.build_s": (per_round(spans("build")), "s"),
            "plans.build_jobs": (per_round(len(s["build_jobs"]) for s in qs), "count"),
            "plans.jvm_calls": (per_round(s["jvm_calls"] for s in qs), "count"),
            "catalyst.analysis_s": (phase("analysis"), "s"),
            "catalyst.optimization_s": (phase("optimization"), "s"),
            "catalyst.planning_s": (phase("planning"), "s"),
            "execute.s": (per_round(spans("sink")) - per_round(catalyst(s) for s in qs), "s"),
            "execute.jobs": (per_round(len(s["build_jobs"]) + len(s["exec_jobs"]) for s in qs), "count"),
            "execute.stages": (stage("stages"), "count"),
            "execute.tasks": (stage("tasks"), "count"),
            "execute.task_busy_s": (stage("busy_ms") / 1e3, "s"),
            "execute.task_cpu_s": (stage("cpu_ns") / 1e9, "s"),
            "execute.task_gc_s": (stage("gc_ms") / 1e3, "s"),
            "execute.shuffle_write_mb": (stage("shw") / MB, "MB"),
            "execute.shuffle_read_mb": (stage("shr") / MB, "MB"),
            "execute.spill_mb": (stage("spill") / MB, "MB"),
            "execute.input_mb": (stage("inp") / MB, "MB"),
            "execute.output_mb": (stage("out") / MB, "MB"),
            "python_workers.cpu_s": (d.get("workers", 0.0) / n, "s"),
            "python_workers.started": (len(self.workers.seen), "count"),
            "python_workers.peak_rss_mb": (self.workers.peak_mb, "MB"),
            "jvm.gc_cpu_s": (d.get("gc", 0.0) / n, "s"),
            "jvm.jit_cpu_s": (d.get("jit", 0.0) / n, "s"),
            "jvm.cpu_s": (d.get("jvm", 0.0) / n, "s"),
            "driver.cpu_s": (d.get("driver", 0.0) / n, "s"),
            "host.steal_s": (d.get("steal", 0.0) / n, "s"),
            "trace.battery_s": (self.battery_s, "s"),
        }


def main(argv=None) -> int:
    args = parse_args(argv)
    run = Run(args)
    with run.span("run"):
        run.setup()
        run.measure()
    run.self_check()
    run.checker.close()
    metrics = run.per_layer() if args.trace else run.end_to_end()
    if args.trace:
        run.tracer.dump(os.path.join(args.tmp, "trace.json"))
    run.spark.stop()
    for note in run.notes:
        print(note)
    print(
        json.dumps(
            {
                "correct": bool(run.correct),
                "attempted": run.attempted,
                "failed": run.failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
