"""Benchmark of the feature engine: one command, one workload per run.

    python3 perfbench/run.py --workload turn_features --seed 1 --seconds 12 --trace 0

Run it from the root of a checkout. One process starts Spark on
``local[nproc]`` through the package's ``get_spark``, stages seeded inputs
under ``.perfbench_work/`` in the checkout (``--seed`` alone fixes them), warms up, runs a closed loop
of jobs (one client, back to back, ``spark.catalog.clearCache()`` before
each), checks the outputs, stops Spark and the JVM, and deletes its files.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. ``--trace 0`` reports the end-to-end metrics;
``--trace 1`` reports the per-layer metrics instead (see ``config.json``
for which end-to-end metric each should move). Earlier stdout lines carry
the warm-up curve and, when tracing, the span log.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
WORK = ".perfbench_work"

END_TO_END = {"job_p50_s": "s", "setup_s": "s", "peak_rss_mb": "MB"}
PER_LAYER = {
    "session.start_s": "s", "host.cpu_control_s": "s", "trace.overhead_s": "s",
    "sources.scan_s": "s", "sources.scan_bytes": "bytes",
    "operators.dedup_s": "s", "operators.asof_s": "s", "operators.kernel_s": "s",
    "plans.window_stack_s": "s", "plans.plan_build_s": "s",
    "functions.exact_dedup_s": "s", "functions.minhash_s": "s",
    "functions.simhash_s": "s",
    "functions.embedding_dup_s": "s", "functions.plan_build_s": "s",
    "functions.pairs_out": "count", "functions.planted_recall": "ratio",
    "exchange.shuffle_write_bytes": "bytes", "exchange.fetch_wait_s": "s",
    "jvm.run_s": "s", "jvm.cpu_s": "s", "jvm.gc_s": "s", "jvm.spill_bytes": "bytes",
    "jvm.tasks": "count", "jvm.max_task_input_records": "count",
    "arrow.bytes_to_python": "bytes", "arrow.bytes_from_python": "bytes",
    "arrow.worker_boot_s": "s",
}


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _pin_env(root: str, cfg: dict) -> str:
    """Pin what the package and Spark read from the environment, and keep
    every file the run makes under the checkout's work dir."""
    work = os.path.join(root, WORK)
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_GRAFT_DRIVER_MEM=cfg["driver_mem"],
        SPARK_GRAFT_LOCAL_DIR=local,
        SPARK_LOCAL_DIRS=local,
        TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        PYTHONPATH=os.pathsep.join(
            p for p in (root, os.environ.get("PYTHONPATH")) if p),
        PYSPARK_PYTHON=sys.executable,
    )
    return work


class Bench:
    def __init__(self, args, cfg: dict, work: str):
        from tracing import Spans
        from workloads import WORKLOADS

        self.args, self.cfg, self.work = args, cfg, work
        self.wcfg = cfg["workloads"][args.workload]
        self.wl = WORKLOADS[args.workload](self.wcfg, args.seed)
        self.spans = Spans()
        self.spark = None
        self.attempted = self.failed = 0

    # -- session -------------------------------------------------------
    def _session(self):
        from mpower_feature_analysis_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        self.spark = get_spark(
            app_name="perfbench",
            extra_confs={
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                # a fixed, pre-touched heap: RSS and GC then follow the
                # workload, not the heap's growth
                "spark.driver.extraJavaOptions":
                    f"-Xms{self.cfg['driver_mem']} -XX:+AlwaysPreTouch",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def close(self) -> None:
        """Stop Spark, then the JVM it runs in, and wait for it to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gw = SparkContext._gateway
        if gw is not None:
            proc = gw.proc
            gw.shutdown()
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
            SparkContext._gateway = SparkContext._jvm = None

    # -- phases --------------------------------------------------------
    def setup(self) -> tuple[float, float, list[float]]:
        """Set up ``setup_reps`` times (session start, seeded inputs) and
        return (median set-up, first session start, every set-up)."""
        reps, first_start = [], None
        for r in range(self.cfg["setup_reps"]):
            t0 = time.perf_counter()
            with self.spans.span("session.get_spark"):
                spark = self._session()
            if first_start is None:
                first_start = time.perf_counter() - t0
            root = os.path.join(self.work, f"inputs{r}")
            with self.spans.span("inputs.stage"):
                self.wl.stage(root, files=spark.sparkContext.defaultParallelism)
            reps.append(time.perf_counter() - t0)
            if r:
                shutil.rmtree(os.path.join(self.work, f"inputs{r - 1}"))
        return statistics.median(reps), first_start, reps

    def one_job(self) -> tuple[float, dict | None]:
        self.spark.catalog.clearCache()
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with self.spans.span(f"{self.wl.name}.job"):
                res = self.wl.job(self.spark)
        except Exception:  # a failed job is counted, not fatal
            print(json.dumps({"job_error": traceback.format_exc()[-2000:]}), flush=True)
            self.failed += 1
            return time.perf_counter() - t0, None
        return time.perf_counter() - t0, res

    def run(self) -> dict:
        from tracing import StageCounters, cpu_control_s, vm_hwm_mb

        setup_med, start_s, reps = self.setup()
        warm = [self.one_job()[0] for _ in range(self.wcfg["warmup"])]
        # warm-up jobs are not part of the measured loop
        self.attempted = self.failed = 0
        print(json.dumps({"setup_reps_s": reps, "warmup_s": warm}), flush=True)
        n_jobs = max(3, round(self.args.seconds / self.wcfg["nominal_job_s"]))

        if not self.args.trace:
            samples = [self.one_job()[0] for _ in range(n_jobs)]
            rss = vm_hwm_mb(self.spark.sparkContext._gateway.proc.pid) + vm_hwm_mb()
            t0 = time.perf_counter()
            ok, detail = self._check()
            detail["check_s"] = time.perf_counter() - t0
            metrics = {
                "job_p50_s": statistics.median(samples),
                "setup_s": setup_med + sum(warm),
                "peak_rss_mb": rss,
            }
            print(json.dumps({"job_s": samples, "check": detail}), flush=True)
            units = END_TO_END
        else:
            counters = StageCounters(self.spark)
            plain, traced, results, stats = [], [], [], []
            # plain and traced jobs alternate; a traced job's time includes
            # reading the counters, so the difference is the tracing cost
            for _ in range(max(2, n_jobs // 2)):
                plain.append(self.one_job()[0])
                t0 = time.perf_counter()
                counters.mark()
                res = self.one_job()[1]
                stats.append(counters.collect())
                traced.append(time.perf_counter() - t0)
                if res is not None:
                    results.append(res)
            metrics = {k: 0.0 for k in PER_LAYER}
            for k in stats[0]:
                metrics[k] = statistics.median(s[k] for s in stats)
            build = statistics.median(r["build_s"] for r in results) if results else 0.0
            for k in results[0]["parts"] if results else ():
                metrics[k] = statistics.median(r["parts"][k] for r in results)
            metrics.update(self._layers())
            ok, detail = self._check()
            metrics.update(self.wl.trace_metrics(build))
            metrics["session.start_s"] = start_s
            metrics["host.cpu_control_s"] = cpu_control_s()
            metrics["trace.overhead_s"] = (statistics.median(traced)
                                           - statistics.median(plain))
            print(json.dumps({"spans": self.spans.rows}), flush=True)
            print(json.dumps({"job_s": plain, "traced_job_s": traced,
                              "check": detail}), flush=True)
            units = PER_LAYER
        return {
            "correct": ok and self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
        }

    def _check(self) -> tuple[bool, dict]:
        """Untimed output check; a failed check counts one failed job."""
        try:
            with self.spans.span(f"{self.wl.name}.check"):
                ok, detail = self.wl.check(self.spark)
        except Exception:
            ok, detail = False, {"check_error": traceback.format_exc()[-2000:]}
        if not ok:
            self.failed += 1
        return ok, detail

    def _layers(self) -> dict:
        """Marginal wall time of forcing each prefix of the job's public
        calls (median of two passes per prefix)."""
        prefix = self.wl.layers(self.spark)
        times = {name: [] for name, _ in prefix}
        for _ in range(2):
            for name, thunk in prefix:
                self.spark.catalog.clearCache()
                t0 = time.perf_counter()
                with self.spans.span(name):
                    self.wl.force(thunk())
                times[name].append(time.perf_counter() - t0)
        out, prev = {}, 0.0
        for name, _ in prefix:
            t = statistics.median(times[name])
            out[name] = t - prev
            prev = t
        return out


def main(argv=None) -> int:
    args = _args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "mpower_feature_analysis_spark", "__init__.py")):
        print("perfbench: run from the root of a checkout of the engine "
              "(mpower_feature_analysis_spark/ not found)", file=sys.stderr)
        return 2
    with open(os.path.join(HERE, "config.json")) as f:
        cfg = json.load(f)
    if args.workload not in cfg["workloads"]:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    # on SIGTERM, still stop Spark and the JVM and delete the work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = _pin_env(root, cfg)
    sys.path.insert(0, root)
    bench = None
    try:
        bench = Bench(args, cfg, work)
        result = bench.run()
    finally:
        if bench is not None:
            bench.close()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
