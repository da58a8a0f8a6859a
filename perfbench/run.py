"""Benchmark entry point.

    python3 perfbench/run.py --workload olap_star --seed 1 --seconds 10 --trace 0

Run from the repository root. Prepares the workload's fixture tier
(building sf1 from the committed sf0.1 tables on first use), checks the
fixture row counts, times one more set-up in a worker process that
stops after it, then measures one run in a fresh worker process
(worker.py) and prints one JSON line as the last line of stdout:
``{"correct", "attempted", "failed", "metrics"}``, the metrics being the
end-to-end set with ``--trace 0`` and the per-layer set with
``--trace 1``. The full per-query record of the run is written under
``perfbench/.work/results/``. Everything the run writes stays under
``perfbench/.work/``; every process it starts has ended when it exits.

Session posture: ``session.get_spark()`` with its defaults, on
``local[$(nproc)]``; only ``SPARK_GRAFT_CPUS``, ``SPARK_LOCAL_DIRS`` and
``SPARK_DRIVER_MEMORY`` are set, plus ``TMPDIR`` and the JVM's temporary
directory so that no file lands outside the checkout.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

from outputs import check_fixture, load_expected  # noqa: E402
from workloads import END_TO_END, PER_LAYER, WORKLOADS  # noqa: E402

DRIVER_MEMORY = "4g"  # fits a 16 GB host with room for Python workers
RUN_TIMEOUT_S = 170.0
# Set-ups per run: the measured run's own plus SETUPS - 1 fresh processes
# that only set up and stop, run just before it; setup_s and the set-up
# layers are the median over them. Two, not more: each costs a JVM start
# (about 10 s), and set-ups within one run agree to about 5%, while the
# wider spread between runs follows the host's speed at the time.
SETUPS = 2


def fail(msg: str, code: int) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return code


def fixture_dir(scale: str) -> str:
    if scale == "sf1":
        return os.path.join(WORK, "sf1")
    return os.path.join(HERE, "fixtures", scale)


def build_sf1(expected_rows: dict[str, int]) -> None:
    """sf1 = the committed sf0.1 tables replicated 10x by tools/make_sf1."""
    dst = fixture_dir("sf1")
    if os.path.isdir(dst) and not check_fixture(dst, expected_rows):
        return
    sys.path.insert(0, ROOT)
    import tools.make_sf1 as make_sf1

    tmp = dst + ".building"
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(dst, ignore_errors=True)
    make_sf1.SRC = fixture_dir("sf0.1")
    make_sf1.DST = tmp
    with contextlib.redirect_stdout(sys.stderr):
        make_sf1.main()
    os.replace(tmp, dst)


def _session_pids(sid: int) -> list[int]:
    pids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[3]) == sid and fields[0] != "Z":  # session id, state
            pids.append(int(entry))
    return pids


def stop_session(sid: int, grace_s: float) -> None:
    """Wait for what the worker left in its session to exit; after
    ``grace_s`` terminate it, after 10 s more kill it."""
    start = time.monotonic()
    while pids := _session_pids(sid):
        waited = time.monotonic() - start
        if waited > grace_s + 20:
            raise RuntimeError(f"processes {pids} did not stop")
        if waited > grace_s:
            sig = signal.SIGKILL if waited > grace_s + 10 else signal.SIGTERM
            for pid in pids:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(pid, sig)
        time.sleep(0.1)


def worker_env() -> dict[str, str]:
    env = dict(os.environ)
    env.pop("SPARK_SHUFFLE_PARTITIONS", None)
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    env.update(
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_LOCAL_DIRS=local,
        SPARK_DRIVER_MEMORY=DRIVER_MEMORY,
        TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    )
    return env


def run_worker(cmd: list[str], out: str, timeout_s: float) -> dict | None:
    """Run one worker in a session of its own; its summary, or None if it
    failed or timed out. Every process of the session has ended on return."""
    with contextlib.suppress(FileNotFoundError):
        os.remove(out)
    t0 = time.monotonic()
    proc = subprocess.Popen(
        cmd + ["--out", out, "--t0", repr(t0)],
        cwd=ROOT,
        env=worker_env(),
        stdout=sys.stderr,
        start_new_session=True,
    )
    try:
        code = proc.wait(timeout=max(1.0, timeout_s))
    except subprocess.TimeoutExpired:
        code = None
        proc.kill()
        proc.wait()
    stop_session(proc.pid, grace_s=0.0 if code is None else 10.0)
    if code != 0:
        print(f"perfbench: worker ended with {code if code is not None else 'timeout'}",
              file=sys.stderr)
        return None
    with open(out) as f:
        return json.load(f)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--scale",
        default=None,
        help="fixture tier override (the benchmark's own tests use sf0.001)",
    )
    ap.add_argument(
        "--inject-failure",
        action="store_true",
        help="add a query that fails in every pass (for the benchmark's tests)",
    )
    args = ap.parse_args()

    engine = os.path.join(ROOT, "data_pipeline_standalone_scripts_spark", "__init__.py")
    if not os.path.isfile(engine):
        return fail(f"engine package not found under {ROOT}", 2)
    wl = WORKLOADS[args.workload]
    scale = args.scale or wl.scale
    expected = load_expected()
    rows = expected["fixture_rows"].get(scale)
    if rows is None:
        return fail(f"no recorded fixture rows for {scale}", 2)
    os.makedirs(WORK, exist_ok=True)
    if scale == "sf1":
        build_sf1(rows)
    sf_dir = fixture_dir(scale)
    bad = check_fixture(sf_dir, rows)
    if bad:
        return fail(f"fixture {sf_dir} row counts differ: {bad}", 3)

    results = os.path.join(WORK, "results")
    os.makedirs(results, exist_ok=True)
    tag = f"{args.workload}-{scale}-seed{args.seed}-trace{args.trace}"
    out = os.path.join(results, f"{tag}.json")
    cmd = [
        sys.executable,
        os.path.join(HERE, "worker.py"),
        "--workload", args.workload,
        "--seed", str(args.seed),
        "--seconds", str(args.seconds),
        "--trace", str(args.trace),
        "--sf-dir", sf_dir,
        "--scale", scale,
        "--work", WORK,
    ]
    if args.inject_failure:
        cmd.append("--inject-failure")
    deadline = time.monotonic() + RUN_TIMEOUT_S
    setups = []
    for _ in range(SETUPS - 1):
        only = run_worker(cmd + ["--setup-only"], out, deadline - time.monotonic())
        if only is None:
            return fail("set-up failed", 4)
        setups.append(only["setup"])
    summary = run_worker(cmd, out, deadline - time.monotonic())
    if summary is None:
        return fail("measured run failed", 4)
    setups.append(summary["setup"])
    summary["setups"] = setups
    summary["setup"] = {k: statistics.median(s[k] for s in setups) for k in setups[0]}
    summary["metrics"].update(summary["setup"])
    with open(out, "w") as f:
        json.dump(summary, f, indent=1)

    names = PER_LAYER if args.trace else END_TO_END
    line = {
        "correct": summary["correct"],
        "attempted": summary["attempted"],
        "failed": summary["failed"],
        "metrics": {
            n: {"value": summary["metrics"][n], "unit": unit}
            for n, unit in names.items()
        },
    }
    print(
        f"perfbench: {tag} warm_passes={summary['warm_passes']} "
        f"fail_ratio={summary['fail_ratio']:.4f} "
        f"steal_share={summary['steal_share']:.3f} detail={out}",
        file=sys.stderr,
    )
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
