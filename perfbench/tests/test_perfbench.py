"""The benchmark's own tests, on the sf0.001 fixtures.

    python3 -m pytest perfbench/tests -q

Each workload runs once through run.py exactly as a measured run does,
only at sf0.001 and with one-second warm windows (about 30 s each).
"""

from __future__ import annotations

import json
import os
import re
import statistics
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

from run import SETUPS  # noqa: E402
from workloads import END_TO_END, INJECTED_FAILURE, PER_LAYER, WORKLOADS  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9_.-]+")


def _run(workload: str, trace: int, inject: bool) -> tuple[dict, dict]:
    cmd = [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace), "--scale", "sf0.001"]
    if inject:
        cmd.append("--inject-failure")
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=240)
    assert proc.returncode == 0, proc.stderr[-4000:]
    line = json.loads(proc.stdout.strip().splitlines()[-1])
    tag = f"{workload}-sf0.001-seed7-trace{trace}"
    with open(os.path.join(BENCH, ".work", "results", f"{tag}.json")) as f:
        return line, json.load(f)


@pytest.fixture(scope="module")
def olap_traced_with_failure():
    return _run("olap_star", trace=1, inject=True)


@pytest.fixture(scope="module")
def llm_traced():
    return _run("llm_data_sf1", trace=1, inject=False)


@pytest.fixture(scope="module")
def olap_untraced():
    return _run("olap_star", trace=0, inject=False)


def test_benchmark_json_lists_the_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    for name in [*END_TO_END, *PER_LAYER, *WORKLOADS]:
        assert NAME.fullmatch(name), name


def test_result_line_names(olap_traced_with_failure, olap_untraced):
    traced, _ = olap_traced_with_failure
    untraced, _ = olap_untraced
    assert list(traced["metrics"]) == list(PER_LAYER)
    assert list(untraced["metrics"]) == list(END_TO_END)
    for line in (traced, untraced):
        for name, m in line["metrics"].items():
            assert NAME.fullmatch(name), name
            assert isinstance(m["value"], (int, float)), name


def test_untraced_run_is_correct(olap_untraced):
    line, detail = olap_untraced
    assert line["correct"] is True
    assert line["failed"] == 0
    assert line["attempted"] == len(detail["queries"]) >= 2 * len(WORKLOADS["olap_star"].queries)
    assert line["metrics"]["ok_ratio"]["value"] == 1.0
    for name in ("setup_s", "cold_pass_s", "pass_s", "query_geomean_s", "memory_mb"):
        assert line["metrics"][name]["value"] > 0, name
    setups = [s["setup_s"] for s in detail["setups"]]
    assert len(setups) == SETUPS
    assert line["metrics"]["setup_s"]["value"] == statistics.median(setups)


def test_layers_reconcile_with_each_query_wall(olap_traced_with_failure, llm_traced):
    # construct_s is what is left of the fn wall, transfer.s / sink.s what
    # is left of the action wall, once the measured layers (Catalyst
    # phases and job span, both read from Spark's records) are taken out.
    # The measured layers must fit inside the call they were recorded in;
    # more than a few ms over means two layers' records overlap in time.
    for _, detail in (olap_traced_with_failure, llm_traced):
        for r in detail["queries"]:
            key = (r["pass"], r["query"])
            fn_measured = r["catalyst.fn_s"] + r["exec.job_span_fn_s"]
            action_measured = r["catalyst.action_s"] + r["exec.job_span_action_s"]
            assert fn_measured <= r["fn_s"] + 0.02, (key, fn_measured, r["fn_s"])
            assert action_measured <= r["action_s"] + 0.02, (key, action_measured)
            assert r["exec.job_span_s"] == pytest.approx(
                r["exec.job_span_fn_s"] + r["exec.job_span_action_s"])
            assert r["operators.construct_s"] == pytest.approx(r["fn_s"] - fn_measured)
            rest = r["transfer.s"] + r["sink.s"]
            assert rest == pytest.approx(r["action_s"] - action_measured)


def test_injected_failure_counts_and_run_completes(olap_traced_with_failure):
    line, detail = olap_traced_with_failure
    injected = [r for r in detail["queries"] if r["query"] == INJECTED_FAILURE]
    others = [r for r in detail["queries"] if r["query"] != INJECTED_FAILURE]
    assert injected and not any(r["ok"] for r in injected)
    assert all(r["ok"] for r in others)
    assert line["failed"] == len(injected)
    assert line["correct"] is False
    assert detail["fail_ratio"] == pytest.approx(len(injected) / line["attempted"])
    assert detail["warm_passes"] >= 1


def test_layer_facts(olap_traced_with_failure, llm_traced):
    olap = olap_traced_with_failure[0]["metrics"]
    llm = llm_traced[0]["metrics"]
    assert olap["kernels.python_s"]["value"] == 0
    assert olap["transfer.rows"]["value"] == 0
    assert olap["sink.files"]["value"] > 0
    assert llm["sink.files"]["value"] == 0
    assert llm["transfer.rows"]["value"] > 0
    assert llm["kernels.python_s"]["value"] > 0
    assert llm["operators.construct_jobs"]["value"] >= 10
    assert llm_traced[0]["correct"] is True
