"""Record perfbench/expected.json: the expected output hash of every
benchmark query at every fixture tier it runs on, and the fixture row
counts checked before timing.

    python3 perfbench/record_expected.py            # all tiers
    python3 perfbench/record_expected.py sf0.001    # one tier

Each query runs once on the benchmark's own path (toPandas, or a parquet
sink read back) and once as its DuckDB oracle SQL (oracle.py). When the
two agree under oracle.compare_frames, the oracle's result is hashed and
marked ``"source": "oracle"``. When they do not, the engine's own output
is hashed and marked ``"source": "self"`` with the parity report: such a
hash only guards against change, not against a wrong answer.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

from outputs import EXPECTED_PATH, content_hash, read_sink, table_rows  # noqa: E402
from run import WORK, build_sf1, fixture_dir, worker_env  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)
FIXED_TABLES = ("region", "nation")  # make_sf1 copies these unscaled


def fixture_rows() -> dict[str, dict[str, int]]:
    rows = {s: {t: table_rows(fixture_dir(s), t) for t in TABLES}
            for s in ("sf0.001", "sf0.1")}
    rows["sf1"] = {t: n if t in FIXED_TABLES else 10 * n
                   for t, n in rows["sf0.1"].items()}
    return rows


def tiers() -> dict[str, list[tuple[str, bool]]]:
    """tier -> [(query, sink)] for every workload that runs there; the
    benchmark's own tests run every workload at sf0.001."""
    out: dict[str, list[tuple[str, bool]]] = {"sf0.001": []}
    for wl in WORKLOADS.values():
        for scale in (wl.scale, "sf0.001"):
            out.setdefault(scale, [])
            out[scale] += [(q, wl.sink) for q in wl.queries]
    return out


def main() -> int:
    only = sys.argv[1:]
    os.makedirs(WORK, exist_ok=True)
    os.environ.update(worker_env())
    rows = fixture_rows()
    try:
        with open(EXPECTED_PATH) as f:
            expected = json.load(f)
    except FileNotFoundError:
        expected = {"queries": {}}
    expected["fixture_rows"] = rows

    import data_pipeline_standalone_scripts_spark as engine
    from data_pipeline_standalone_scripts_spark.operators.common import release_persists
    from data_pipeline_standalone_scripts_spark.oracle import compare_frames, run_oracle
    from data_pipeline_standalone_scripts_spark.registry import REGISTRY
    from data_pipeline_standalone_scripts_spark.session import get_spark

    engine.load_all_operators()
    spark = get_spark("perfbench-record")
    sink_root = tempfile.mkdtemp(dir=WORK)
    for scale, items in tiers().items():
        if only and scale not in only:
            continue
        if scale == "sf1":
            build_sf1(rows["sf1"])
        sf_dir = fixture_dir(scale)
        table = expected["queries"][scale] = {}
        for name, sink in items:
            q = REGISTRY[name]
            df = q.fn(spark, sf_dir)
            if sink:
                path = os.path.join(sink_root, name)
                df.write.mode("overwrite").parquet(path)
                got = read_sink(path)
            else:
                got = df.toPandas()
            release_persists()
            want = run_oracle(q.oracle, sf_dir)
            rep = compare_frames(name, got, want)
            entry = {"rows": len(got)}
            if rep.ok and content_hash(got) == content_hash(want):
                entry.update(sha256=content_hash(want), source="oracle")
            else:
                entry.update(
                    sha256=content_hash(got),
                    source="self",
                    parity=str(rep) if not rep.ok else "hash normalisation differs",
                )
            table[name] = entry
            print(f"{scale} {name}: {entry['source']} rows={entry['rows']}", flush=True)
    shutil.rmtree(sink_root, ignore_errors=True)
    spark.stop()
    with open(EXPECTED_PATH, "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
