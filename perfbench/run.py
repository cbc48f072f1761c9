"""spark-ec benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload cep_replay --seed 1 --seconds 6 --trace 0

Run from the root of a checkout; everything the run writes goes under
``.perfbench_work/`` there. The program under test is the ``php_ec_spark``
package beside this directory, driven through its public entry points on
a ``local[nproc]`` Spark session. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` —
the end-to-end metrics with ``--trace 0``, the per-layer metrics of a
traced run with ``--trace 1`` (see metrics.py)."""

from __future__ import annotations

import argparse
import faulthandler
import importlib
import json
import os
import shutil
import sys
import time

from metrics import END_TO_END, PER_LAYER, WORKLOADS
from spans import SparkCounters, Tracer, attribute
from stats import Ops, PeakRss, cpu_ticks, median, process_tree, steal_share

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _prepare_env(work: str) -> None:
    """Process environment every Spark component inherits: UTC, the
    package on the workers' import path, scratch space inside the work
    dir."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tmp
    # every JVM, spark-submit's launcher included: no /tmp/hsperfdata files
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYTHONWARNINGS"] = "ignore"
    for p in (HERE, ROOT):
        if p not in sys.path:
            sys.path.insert(0, p)


class Bench:
    """State of one run: the Spark session, tracer, failure accounting,
    memory peaks and the per-layer report."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool,
                 work: str):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = work
        self.cpus = len(os.sched_getaffinity(0))  # what nproc prints
        self.master = f"local[{self.cpus}]"
        self.tracer = Tracer(trace)
        self.ops = Ops()
        self.rss = PeakRss()
        self.storage_mb = 0.0
        self.spark = None
        self.counters = None
        self.setups: list[tuple[float, float]] = []
        self.layer = {name: 0.0 for name, *_ in PER_LAYER}
        self.notes: dict = {"phases_s": {}}
        self._t0 = time.perf_counter()
        self._ticks0 = cpu_ticks()

    def mark(self, phase: str) -> None:
        """Note the run's elapsed time at the end of a phase."""
        self.notes["phases_s"][phase] = round(time.perf_counter() - self._t0, 2)
        self.notes["steal_share"] = round(steal_share(self._ticks0, cpu_ticks()), 4)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def stop_session(self) -> None:
        """Stop the session and wait until its Python workers have exited,
        so their teardown does not overlap the next set-up."""
        if self.spark is None:
            return
        self.spark.stop()
        self.spark = None
        deadline = time.monotonic() + 10
        while time.monotonic() < deadline and any(
                _is_python_worker(pid) for pid in process_tree(os.getpid())):
            time.sleep(0.05)

    def start_session(self):
        from php_ec_spark.session import get_spark

        conf = {
            "spark.driver.memory": "1g",
            "spark.local.dir": self.path("local"),
            "spark.sql.warehouse.dir": self.path("warehouse"),
            "spark.driver.extraJavaOptions":
                # a fixed, pre-touched heap: the JVM's resident size no
                # longer depends on when G1 chose to grow the heap, so
                # peak_rss_mb moves only with what the run really holds
                # outside the heap (Python workers, Arrow and other native
                # buffers); pinned blocks show in session.storage_mem_peak_mb
                "-Xms1g -XX:+AlwaysPreTouch",
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.ui.retainedTasks": "1000000",
        }
        self.spark = get_spark(app_name="perfbench", cpus=self.cpus,
                               master=self.master, extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.tracer.spark = self.spark if self.trace else None
        self.counters = SparkCounters(self.spark)
        return self.spark

    def setup(self, warmup, times: int = 2) -> None:
        """Set up ``times`` times — session start, then ``warmup(spark)``
        over small inputs of the workload's plan shapes — and keep each
        (start, warm-up) time. The first includes launching the JVM; the
        others restart the session in that JVM. Nothing is traced, counted
        or sampled while setting up."""
        kept = self.tracer.enabled, self.ops, self.rss, self.storage_mb
        self.tracer.enabled, self.ops, self.rss = False, Ops(), PeakRss()
        for _ in range(times):
            self.stop_session()
            t0 = time.perf_counter()
            self.start_session()
            t1 = time.perf_counter()
            warmup(self.spark)
            self.setups.append((t1 - t0, time.perf_counter() - t1))
        self.tracer.enabled, self.ops, self.rss, self.storage_mb = kept
        self.mark("setup")
        self.layer["session.start_s"] = median([s for s, _ in self.setups])
        self.layer["session.warmup_s"] = median([w for _, w in self.setups])

    def setup_s(self) -> float:
        return median([s + w for s, w in self.setups])

    def sample(self) -> None:
        """Memory peaks, taken at the end of each measured operation."""
        self.rss.sample()
        self.storage_mb = max(self.storage_mb, self.counters.storage_mb())

    def release(self) -> None:
        """Drop pinned blocks between measured operations, as a long-lived
        session must (see ``session.release_checkpoint_caches``)."""
        from php_ec_spark.session import release_checkpoint_caches

        release_checkpoint_caches(self.spark)

    def attribute(self) -> None:
        """Attach Spark job/stage/task counters to the spans so far."""
        attribute(self.tracer, self.counters)

    def finish_spark(self) -> None:
        """Count task failures and stop Spark."""
        if self.spark is None:
            return
        jobs = self.counters.jobs()
        tasks = sum(j["tasks"] for j in jobs)
        failed = sum(j["tasks_failed"] for j in jobs)
        self.ops.fail(failed)
        self.layer["spark.tasks"] = tasks
        self.layer["spark.tasks_failed"] = failed
        self.layer["session.storage_mem_peak_mb"] = self.storage_mb
        self.stop_session()
        _stop_jvm()


def _is_python_worker(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return b"pyspark.daemon" in f.read()
    except OSError:
        return False


def _stop_jvm() -> None:
    """Shut the py4j gateway and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    finally:
        if proc is not None:
            try:
                proc.stdin.close()
            except OSError:
                pass
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 - last resort: never leave it
                proc.kill()
                proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=list(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    # a hung run must still end in time, with a stack dump and no result
    faulthandler.dump_traceback_later(170, exit=True)

    if not os.path.isfile(os.path.join(ROOT, "php_ec_spark", "__init__.py")):
        print(f"perfbench: no php_ec_spark package under {ROOT}; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _prepare_env(work)

    bench = Bench(a.workload, a.seed, a.seconds, bool(a.trace), work)
    mod = importlib.import_module(a.workload)  # one module per workload
    try:
        out = mod.run(bench)
    finally:
        bench.finish_spark()
    correct = bool(out["correct"])
    if a.trace:
        bench.tracer.dump(bench.path(f"spans-seed{a.seed}.json"))
        for name, value in out.get("layer", {}).items():
            bench.layer[name] = value
        metrics = {n: {"value": float(bench.layer[n]), "unit": u}
                   for n, u, *_ in PER_LAYER}
    else:
        values = {
            "setup_s": bench.setup_s(),
            "throughput_per_s": out["throughput_per_s"],
            "latency_p50_ms": out["latency_p50_ms"],
            "latency_p90_ms": out["latency_p90_ms"],
            "peak_rss_mb": bench.rss.peak_mb(),
            "ops_ok_share": bench.ops.ok_share(),
        }
        metrics = {n: {"value": float(values[n]), "unit": u}
                   for n, u, *_ in END_TO_END}
    info = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
            "nproc": bench.cpus, "master": bench.master,
            "setups": bench.setups, "rss_mb": bench.rss.by_process_mb(),
            **bench.notes}
    print("# " + json.dumps(info, default=str))
    if not correct:
        print("# output check FAILED: " + "; ".join(out.get("errors", [])))
    print(json.dumps({"correct": correct, "attempted": bench.ops.attempted,
                      "failed": bench.ops.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
