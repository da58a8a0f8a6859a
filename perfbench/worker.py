"""One measured benchmark run, in a fresh process started by run.py.

Set-up, one cold pass and timed warm passes over a workload's queries,
each query being ``fn(spark, sf_dir)`` followed by ``toPandas()`` or
``df.write.parquet``, then ``release_persists()``. The first result of
every query is checked against the recorded hash, outside timing. A
failing or wrong query is counted and the run goes on.

With ``--trace 1`` each query is also broken down into layers from
Spark's own records (see records.py). The summary and every query's
record go to the JSON file named by ``--out``.

With ``--setup-only`` the process sets up, stops and records only the
set-up split: run.py starts one of these before the measured run and
reports the median of the two set-ups.
"""

from __future__ import annotations

import argparse
import gc
import json
import math
import os
import random
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

from outputs import content_hash, load_expected, read_sink  # noqa: E402
from workloads import INJECTED_FAILURE, WORKLOADS  # noqa: E402


def _injected_failure(spark, sf_dir):
    return spark.range(1).selectExpr("raise_error('injected failure') AS x")


def _rss_mb() -> float:
    with open("/proc/self/statm") as f:
        return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE") / 2**20


def _stop_jvm() -> None:
    """End the py4j JVM now rather than after this process exits, so its
    shutdown hooks finish before run.py reaps the session."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    gw.proc.stdin.close()
    gw.proc.wait(timeout=60)


def _steal_share(since: tuple[int, int] | None = None):
    """CPU time the hypervisor gave to other guests: raw counters, or the
    share of all CPU time since ``since``. Reported beside the metrics,
    so a contended run can be told from a slow one."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    steal, total = vals[7], sum(vals[:8])
    if since is None:
        return steal, total
    return (steal - since[0]) / max(1, total - since[1])


def _sink_files(path: str) -> tuple[int, int]:
    files = [f for f in os.listdir(path) if f.startswith("part-")]
    return len(files), sum(os.path.getsize(os.path.join(path, f)) for f in files)


class Run:
    def __init__(self, args) -> None:
        self.args = args
        self.wl = WORKLOADS[args.workload]
        self.queries = list(self.wl.queries)
        if args.inject_failure:
            self.queries.append(INJECTED_FAILURE)
        self.sink_root = os.path.join(args.work, "sink", f"{os.getpid()}")
        self.expected = load_expected()["queries"].get(args.scale, {})
        self.attempted = 0
        self.failed = 0
        self.wrong: list[str] = []
        self.records: list[dict] = []

    # -- set-up ---------------------------------------------------------
    def setup(self) -> None:
        t = time.monotonic()
        from data_pipeline_standalone_scripts_spark.session import get_spark

        self.spark = get_spark(f"perfbench-{self.wl.name}")
        start_s = time.monotonic() - t
        t = time.monotonic()
        import data_pipeline_standalone_scripts_spark as engine
        from data_pipeline_standalone_scripts_spark.operators.common import (
            release_persists,
        )
        from data_pipeline_standalone_scripts_spark.registry import REGISTRY

        engine.load_all_operators()
        registry_s = time.monotonic() - t
        self.release_persists = release_persists
        self.fns = {n: REGISTRY[n].fn for n in self.wl.queries}
        self.fns[INJECTED_FAILURE] = _injected_failure
        t = time.monotonic()
        self.spark.range(1).count()
        self.setup_split = {
            "setup_s": time.monotonic() - self.args.t0,
            "session.start_s": start_s,
            "registry.load_s": registry_s,
            "session.first_job_s": time.monotonic() - t,
        }
        self.sc = self.spark.sparkContext

    # -- one query ------------------------------------------------------
    def query(self, pass_no: int, name: str, check: bool) -> dict:
        tag = f"perfbench-{pass_no}-{name}"
        out = os.path.join(self.sink_root, name)
        rec: dict = {"pass": pass_no, "query": name, "ok": False}
        result = None
        df = None
        self.attempted += 1
        self.sc.setJobGroup(tag + "-fn", name)
        e0 = time.time()
        t0 = time.perf_counter()
        t1 = t2 = None
        try:
            df = self.fns[name](self.spark, self.args.sf_dir)
            t1 = time.perf_counter()
            e1 = time.time()
            self.sc.setJobGroup(tag + "-action", name)
            if self.wl.sink:
                df.write.mode("overwrite").parquet(out)
            else:
                result = df.toPandas()
            t2 = time.perf_counter()
            rec["ok"] = True
            rec["rss_mb"] = _rss_mb()
        except Exception:  # noqa: BLE001 - a failing query is counted, not fatal
            traceback.print_exc(file=sys.stderr)
            t2 = time.perf_counter()
        e2 = time.time()
        persists = self.release_persists()
        t3 = time.perf_counter()
        if t1 is None:
            t1, e1 = t2, e2
        rec.update(
            wall_s=t2 - t0,
            fn_s=t1 - t0,
            action_s=t2 - t1,
            release_s=t3 - t2,
            persists=persists,
        )
        if rec["ok"] and check:
            self._check(name, result, out, rec)
        if self.recorder is not None:
            self._trace(rec, tag, (e0, e1, e2), df, result, out)
        if not rec["ok"]:
            self.failed += 1
        return rec

    def _check(self, name: str, result, out: str, rec: dict) -> None:
        pdf = read_sink(out) if self.wl.sink else result
        got = content_hash(pdf)
        want = self.expected.get(name, {}).get("sha256")
        if got != want:
            rec["ok"] = False
            self.wrong.append(name)
            print(
                f"[perfbench] wrong output: {name} hash {got} rows {len(pdf)}"
                f", expected {want}",
                file=sys.stderr,
            )

    def _trace(self, rec: dict, tag: str, epochs, df, result, out: str) -> None:
        from records import Window

        e0, e1, e2 = (e * 1e3 for e in epochs)
        fn_win, action_win = Window(e0, e1), Window(e1, e2)
        df_qe = df._jdf.queryExecution() if df is not None else None
        r = self.recorder.collect(tag + "-fn", tag + "-action", fn_win,
                                  action_win, df_qe)
        rest = rec["action_s"] - r.catalyst_action_s - r.job_span_action_s
        rows = nbytes = files = fbytes = 0
        if rec["ok"] and not self.wl.sink:
            rows = len(result)
            nbytes = int(result.memory_usage(index=False, deep=True).sum())
        if rec["ok"] and self.wl.sink:
            files, fbytes = _sink_files(out)
        rec.update(
            {
                "operators.construct_s": rec["fn_s"] - r.catalyst_fn_s - r.job_span_fn_s,
                "operators.construct_jobs": r.construct_jobs,
                "operators.persists": rec["persists"],
                "catalyst.analysis_s": r.phases["analysis"],
                "catalyst.optimization_s": r.phases["optimization"],
                "catalyst.planning_s": r.phases["planning"],
                "catalyst.fn_s": r.catalyst_fn_s,
                "catalyst.action_s": r.catalyst_action_s,
                "exec.jobs": r.jobs,
                "exec.stages": r.stages,
                "exec.tasks": r.tasks,
                "exec.job_span_s": r.job_span_fn_s + r.job_span_action_s,
                "exec.job_span_fn_s": r.job_span_fn_s,
                "exec.job_span_action_s": r.job_span_action_s,
                "exec.executor_run_s": r.executor_run_s,
                "exec.shuffle_bytes": r.shuffle_bytes,
                "exec.spill_bytes": r.spill_bytes,
                "exec.gc_s": r.gc_s,
                "tables.scan_s": r.plan["scan_s"],
                "tables.bytes_read": r.plan["bytes_read"],
                "kernels.python_s": r.plan["python_s"],
                "kernels.init_s": r.plan["init_s"],
                "kernels.bytes_in": r.plan["bytes_in"],
                "kernels.bytes_out": r.plan["bytes_out"],
                "kernels.rows_out": r.plan["rows_out"],
                "transfer.s": 0.0 if self.wl.sink else rest,
                "transfer.rows": rows,
                "transfer.bytes": nbytes,
                "sink.s": rest if self.wl.sink else 0.0,
                "sink.files": files,
                "sink.bytes": fbytes,
            }
        )

    def measure_memory(self) -> dict:
        """Driver memory, in MB. ``memory_mb`` is the driver Python's
        largest RSS on returning from a warm-pass action, plus what the
        JVM still holds after a full GC at the end: heap (cached blocks a
        persist left behind stay there) and non-heap."""
        jvm = self.sc._jvm
        mf = jvm.java.lang.management.ManagementFactory
        gc.collect()  # drop dead py4j proxies, which pin their JVM objects
        jvm.java.lang.System.gc()
        # Heap pools as the GC left them, not as allocation since refilled.
        heap = 0.0
        for pool in mf.getMemoryPoolMXBeans():
            after_gc = pool.getCollectionUsage()
            if pool.getType().name() == "HEAP" and after_gc is not None:
                heap += after_gc.getUsed() / 2**20
        nonheap = mf.getMemoryMXBean().getNonHeapMemoryUsage().getUsed() / 2**20
        py_result = max(
            (r["rss_mb"] for r in self.records if r["pass"] > 0 and "rss_mb" in r),
            default=0.0,
        )
        return {
            "memory_mb": py_result + heap + nonheap,
            "python_result_rss_mb": py_result,
            "jvm_live_heap_mb": heap,
            "jvm_nonheap_mb": nonheap,
        }

    # -- passes ---------------------------------------------------------
    def run_pass(self, pass_no: int, order: list[str]) -> list[dict]:
        recs = [self.query(pass_no, n, check=pass_no == 0) for n in order]
        self.records.extend(recs)
        return recs

    def setup_only(self) -> dict:
        self.setup()
        self.spark.stop()
        _stop_jvm()
        return {"setup": self.setup_split}

    def main(self) -> dict:
        steal0 = _steal_share()
        self.setup()
        self.recorder = None
        if self.args.trace:
            from records import Recorder

            self.recorder = Recorder(self.spark)
        rng = random.Random(self.args.seed)
        cold = self.run_pass(0, rng.sample(self.queries, len(self.queries)))
        warm = [
            self.run_pass(n, rng.sample(self.queries, len(self.queries)))
            for n in range(1, self.wl.warm_passes(self.args.seconds) + 1)
        ]
        self.steal = _steal_share(steal0)
        self.memory = self.measure_memory()
        if self.recorder is not None:
            self.recorder.close()
        self.spark.stop()
        _stop_jvm()
        shutil.rmtree(self.sink_root, ignore_errors=True)
        return self.summary(cold, warm)

    def summary(self, cold, warm) -> dict:
        def pass_wall(recs):
            return sum(r["wall_s"] + r["release_s"] for r in recs)

        # Means, not medians, over a run's warm passes: the JVM is still
        # speeding up across them, and a median of two or three drifting
        # passes picks whichever pass the JIT's tier-up landed in.
        means = []
        for q in self.queries:
            walls = [r["wall_s"] for p in warm for r in p if r["query"] == q and r["ok"]]
            if walls:
                means.append(statistics.mean(walls))
        geomean = math.exp(sum(map(math.log, means)) / len(means)) if means else 0.0
        fail_ratio = self.failed / self.attempted
        if self.args.trace:
            metrics = self.layer_metrics(warm)
            metrics["trace.pass_s"] = statistics.mean(map(pass_wall, warm))
        else:
            metrics = {
                "cold_pass_s": pass_wall(cold),
                "pass_s": statistics.mean(map(pass_wall, warm)),
                "query_geomean_s": geomean,
                "memory_mb": self.memory["memory_mb"],
                "ok_ratio": 1.0 - fail_ratio,
            }
        return {
            "workload": self.wl.name,
            "seed": self.args.seed,
            "trace": self.args.trace,
            "correct": not self.wrong and self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "fail_ratio": fail_ratio,
            "wrong_outputs": self.wrong,
            "warm_passes": len(warm),
            "steal_share": self.steal,
            "memory": self.memory,
            "metrics": metrics,
            "setup": self.setup_split,
            "queries": self.records,
        }

    def layer_metrics(self, warm) -> dict:
        keys = [k for k in self.records[0] if "." in k] if self.records else []
        per_pass = []
        for recs in warm:
            tot = {k: sum(r.get(k, 0) for r in recs) for k in keys}
            cores = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count()))
            span = tot.get("exec.job_span_s", 0.0)
            tot["exec.core_busy_ratio"] = (
                tot.get("exec.executor_run_s", 0.0) / (span * cores) if span else 0.0
            )
            per_pass.append(tot)
        out = {}
        for k in per_pass[0]:
            out[k] = statistics.mean(p[k] for p in per_pass)
        return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--scale", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--t0", type=float, required=True, help="time.monotonic() at spawn")
    ap.add_argument("--out", required=True)
    ap.add_argument("--inject-failure", action="store_true")
    ap.add_argument("--setup-only", action="store_true")
    args = ap.parse_args()
    run = Run(args)
    summary = run.setup_only() if args.setup_only else run.main()
    with open(args.out, "w") as f:
        json.dump(summary, f, indent=1)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
