"""The benchmark's workloads: which registry queries run, at which scale,
and how each result leaves the engine.

Every workload is a closed loop with one client: one driver thread runs
the queries one after another, each query's next call waiting for the
previous result. The inputs are the fixed fixture tables; the run seed
only sets the query order inside each pass.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    scale: str  # fixture tier: "sf0.1" (committed) or "sf1" (built from sf0.1)
    sink: bool  # True: df.write.parquet per query; False: df.toPandas()
    queries: tuple[str, ...]
    # Rough warm-pass wall on a 4-core host. A run measures
    # round(seconds / pass_s) warm passes (at least one): a count fixed by
    # the arguments, never by how fast this host happens to be, because
    # the JVM keeps speeding up for several passes and a pass count that
    # followed the clock would shift the medians.
    pass_s: float

    def warm_passes(self, seconds: float) -> int:
        return max(1, round(seconds / self.pass_s))


WORKLOADS = {
    w.name: w
    for w in (
        # Tiny results, no Python kernel: construction, Catalyst, the
        # per-job floor and the parquet writer dominate (q_join_star6 runs
        # 7 jobs for 5 rows). Each result goes to a parquet sink, the way
        # the reference scripts write their output, so nothing returns to
        # the driver: the bypass workload for kernels and transfer.
        Workload(
            "olap_star",
            "sf0.1",
            sink=True,
            queries=(
                "q_agg_pricing_summary",
                "q_join_star3",
                "q_join_star6",
                "q_revenue_uplift",
                "q_session_window",
                "q_funnel_conversion",
            ),
            pass_s=6.0,
        ),
        # Execution, shuffle, Python kernels and transfer:
        # q_fingerprint_winnow returns ~3 M rows through Arrow (a
        # mapInArrow kernel), q_kmeans_embed iterates mapInPandas kernels,
        # and q_bm25_rank, q_bpe_merge, q_kmeans_embed and q_cosine_topk
        # start jobs inside fn. Results are read into pandas: the bypass
        # workload for the sink.
        Workload(
            "llm_data_sf1",
            "sf1",
            sink=False,
            queries=(
                "q_fingerprint_winnow",
                "q_bm25_rank",
                "q_bpe_merge",
                "q_kmeans_embed",
                "q_cosine_topk",
            ),
            pass_s=9.0,
        ),
    )
}

# A query that fails inside the action; the benchmark's own tests add it
# to a pass to check that a failure is counted and the run completes.
INJECTED_FAILURE = "perfbench_injected_failure"

# Metrics printed on the result line: name -> unit. The end-to-end ones
# come from an untraced run, the per-layer ones from a traced run; both
# lists match BENCHMARK.json.
END_TO_END = {
    "setup_s": "s",
    "cold_pass_s": "s",
    "pass_s": "s",
    "query_geomean_s": "s",
    "memory_mb": "MB",
    "ok_ratio": "ratio",
}
PER_LAYER = {
    "session.start_s": "s",
    "session.first_job_s": "s",
    "registry.load_s": "s",
    "tables.scan_s": "s",
    "tables.bytes_read": "bytes",
    "operators.construct_s": "s",
    "operators.construct_jobs": "count",
    "operators.persists": "count",
    "catalyst.analysis_s": "s",
    "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.job_span_s": "s",
    "exec.executor_run_s": "s",
    "exec.core_busy_ratio": "ratio",
    "exec.shuffle_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.gc_s": "s",
    "kernels.python_s": "s",
    "kernels.init_s": "s",
    "kernels.bytes_in": "bytes",
    "kernels.bytes_out": "bytes",
    "kernels.rows_out": "count",
    "transfer.s": "s",
    "transfer.rows": "count",
    "transfer.bytes": "bytes",
    "sink.s": "s",
    "sink.files": "count",
    "sink.bytes": "bytes",
    "trace.pass_s": "s",
}
