"""Degenerate inputs to the Python-kernel operators: each gives a
defined result (matching the oracle where one applies) or a named
error carrying the offending key."""

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import PythonException

import data_pipeline_standalone_scripts_spark as engine
from data_pipeline_standalone_scripts_spark.operators.textpipe import K_GRAM
from data_pipeline_standalone_scripts_spark.oracle import compare_frames
from data_pipeline_standalone_scripts_spark.registry import REGISTRY

engine.load_all_operators()


def _write_documents(sf_dir, rows):
    ids, texts = zip(*rows) if rows else ((), ())
    n = len(rows)
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(ids, pa.int64()),
                "text": pa.array(texts, pa.string()),
                "lang": pa.array(["en"] * n, pa.string()),
                "source": pa.array(["web"] * n, pa.string()),
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        ),
        f"{sf_dir}/documents.parquet",
    )


def _winnow_parity(spark, sf_dir):
    """q_fingerprint_winnow on both engines over a documents-only dir."""
    q = REGISTRY["q_fingerprint_winnow"]
    got = q.fn(spark, sf_dir).toPandas()
    con = duckdb.connect()
    try:
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"'{sf_dir}/documents.parquet'"
        )
        want = con.execute(q.oracle).fetchdf()
    finally:
        con.close()
    rep = compare_frames(q.name, got, want)
    assert rep.ok, str(rep)
    return got


def test_winnow_non_ascii_names_doc_id(spark, tmp_path):
    _write_documents(
        tmp_path,
        [(1, "plain ascii text here"), (42, "naïve café au lait"), (43, "ok")],
    )
    with pytest.raises(PythonException, match="doc_id 42 has non-ASCII"):
        REGISTRY["q_fingerprint_winnow"].fn(spark, str(tmp_path)).collect()


def test_winnow_null_doc_id_emits_nothing(spark, tmp_path):
    _write_documents(
        tmp_path, [(None, "orphaned text with no key"), (7, "keyed document")]
    )
    got = _winnow_parity(spark, str(tmp_path))
    assert len(got) > 0
    assert set(got["doc_id"]) == {7}


def test_winnow_exact_k_gram_and_empty_partitions(spark, tmp_path):
    # two docs over defaultParallelism partitions: most partitions are
    # empty; an exactly-K_GRAM doc has one gram, always its own minimum
    exact = "abcdefgh"[:K_GRAM]
    _write_documents(tmp_path, [(3, exact), (4, "short"), (5, "x" * 30)])
    got = _winnow_parity(spark, str(tmp_path))
    assert sorted(got["doc_id"]) == [3, 5]


def test_winnow_empty_table(spark, tmp_path):
    _write_documents(tmp_path, [])
    assert len(_winnow_parity(spark, str(tmp_path))) == 0


def test_power_iteration_all_equal_embeddings(spark, tmp_path):
    """A zero centered Gram makes the norm 0: loadings are 0 (Spark's
    NaN→0 cast), never INT64_MIN garbage."""
    dim, n = 64, 20
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(n), pa.int64()),
                "embedding": pa.array(
                    [[0.25] * dim] * n, pa.list_(pa.float32())
                ),
                "label": pa.array([0] * n, pa.int32()),
            }
        ),
        f"{tmp_path}/embeddings.parquet",
    )
    out = REGISTRY["q_power_iteration_pc"].fn(spark, str(tmp_path)).toPandas()
    assert sorted(out["pos"]) == list(range(1, dim + 1))
    assert np.all(out["loading"] == 0.0)


def test_kmeans_result_is_jvm_local(spark, sf_small):
    """The 8-row k-means result is a LocalRelation, not a Python RDD
    that would start a Python task on every action."""
    df = REGISTRY["q_kmeans_embed"].fn(spark, sf_small)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert "LogicalRDD" not in analyzed, analyzed
    assert "LocalRelation" in analyzed, analyzed


def test_winnow_large_var_types(spark, tmp_path):
    """Sessions that ship strings as large_string (int64 offsets) get
    the same fingerprints."""
    _write_documents(tmp_path, [(1, "the quick brown fox"), (2, "jumps over it")])
    key = "spark.sql.execution.arrow.useLargeVarTypes"
    spark.conf.set(key, "true")
    try:
        _winnow_parity(spark, str(tmp_path))
    finally:
        spark.conf.unset(key)
