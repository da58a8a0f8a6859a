"""map_records — the one per-record Python kernel path (operators/
common.py): output shape per row, empty batches, exact nullable
integers, and errors that name the failing record's key."""

import ast
import pathlib

import numpy as np
import pandas as pd
import pytest
from pyspark.errors import PythonException

from data_pipeline_standalone_scripts_spark.operators.common import map_records
from data_pipeline_standalone_scripts_spark.operators.multimodal import (
    _PIXEL_STATS_SCHEMA,
    _pixel_stats,
)
from data_pipeline_standalone_scripts_spark.sources.multimodal import (
    FITS_BLOCK,
    fits_encode,
    fits_parse,
    png_decode_pixels,
    png_encode,
)

PKG = pathlib.Path(__file__).resolve().parent.parent / (
    "data_pipeline_standalone_scripts_spark"
)
OUT = "k bigint, i bigint, s string"


class _CaptureDF:
    """Stands in for a DataFrame: records the batch function map_records
    hands to mapInPandas so it can be driven with hand-made batches
    (parsing the schema string still needs the ``spark`` session)."""

    def __init__(self, columns):
        self.columns = columns
        self.run = None

    def mapInPandas(self, run, schema):
        self.run = run
        return self


def _kernel(fn, columns=("k", "n"), schema=OUT):
    return map_records(_CaptureDF(list(columns)), fn, schema).run


def _fan_out(k, n):
    for i in range(n):
        yield k, i, f"{k}.{i}"


def test_zero_one_and_many_outputs_per_row(spark):
    run = _kernel(_fan_out)
    (frame,) = run(iter([pd.DataFrame({"k": [10, 20, 30], "n": [0, 1, 3]})]))
    assert list(frame.columns) == ["k", "i", "s"]
    assert list(frame.itertuples(index=False, name=None)) == [
        (20, 0, "20.0"),
        (30, 0, "30.0"),
        (30, 1, "30.1"),
        (30, 2, "30.2"),
    ]


def test_empty_batch_gives_empty_frame_with_schema_columns(spark):
    run = _kernel(_fan_out)
    empty_in = pd.DataFrame({"k": [], "n": []}, dtype="int64")
    no_rows_out = pd.DataFrame({"k": [1, 2], "n": [0, 0]})
    for batch in (empty_in, no_rows_out):
        (frame,) = run(iter([batch]))
        assert len(frame) == 0
        assert list(frame.columns) == ["k", "i", "s"]


def test_error_names_key_and_chains_cause(spark):
    def fn(k, n):
        if k == 7:
            raise KeyError("missing card")
        yield k, n, "ok"

    run = _kernel(fn)
    with pytest.raises(ValueError, match=r"^k=7: 'missing card'$") as info:
        list(run(iter([pd.DataFrame({"k": [1, 7], "n": [0, 0]})])))
    assert isinstance(info.value.__cause__, KeyError)


def test_wrong_arity_tuple_is_an_error_not_a_silent_truncation(spark):
    run = _kernel(lambda k, n: [(k, n)])
    with pytest.raises(ValueError):
        list(run(iter([pd.DataFrame({"k": [1], "n": [0]})])))


def test_bigint_with_null_round_trips_exactly(spark):
    """2**60 + 1 is not a double: a float64 detour would change it.
    One input row fans out, so the ints and the nulls share a batch."""
    big = 2**60 + 1
    df = spark.createDataFrame([(1,)], "k bigint")

    def fn(k):
        yield k, big, "a"
        yield k + 1, None, "b"
        yield k + 2, big + 2, None

    got = map_records(df, fn, "k bigint, v bigint, s string").orderBy("k").collect()
    assert [tuple(r) for r in got] == [
        (1, big, "a"),
        (2, None, "b"),
        (3, big + 2, None),
    ]


def test_spark_fan_out_and_empty_partitions(spark):
    def fan_out(k, n):  # local, so it is pickled by value for the workers
        for i in range(n):
            yield k, i, f"{k}.{i}"

    df = spark.createDataFrame(
        [(10, 0), (20, 1), (30, 3)], "k bigint, n bigint"
    ).repartition(8)
    got = map_records(df, fan_out, "k bigint, i bigint, s string").collect()
    assert sorted(tuple(r) for r in got) == [
        (20, 0, "20.0"),
        (30, 0, "30.0"),
        (30, 1, "30.1"),
        (30, 2, "30.2"),
    ]


def _png(seed):
    return png_encode((np.arange(12 * 9).reshape(9, 12) * seed % 256).astype(np.uint8))


def test_truncated_png_fails_naming_its_media_id(spark):
    rows = [(1, _png(3)), (42, _png(5)[:-20]), (3, _png(7))]
    df = spark.createDataFrame(rows, "media_id bigint, payload binary")
    kernel = _pixel_stats(png_decode_pixels)
    with pytest.raises(PythonException, match=r"media_id=42: "):
        map_records(df, kernel, _PIXEL_STATS_SCHEMA).collect()
    ok = map_records(df.filter("media_id != 42"), kernel, _PIXEL_STATS_SCHEMA)
    assert sorted(r.media_id for r in ok.collect()) == [1, 3]


def test_truncated_fits_fails_naming_its_media_id(spark):
    hdr = {"SIMPLE": "T", "BITPIX": "16", "NAXIS": "2", "NAXIS1": "8",
           "NAXIS2": "4", "BZERO": "32768", "BSCALE": "1"}
    good = fits_encode(hdr, np.arange(32, dtype=np.float64).reshape(4, 8))
    rows = [(5, good), (77, good[: FITS_BLOCK + 100])]
    df = spark.createDataFrame(rows, "media_id bigint, payload binary")

    def kernel(mid, p):
        _, phys = fits_parse(bytes(p))
        yield mid, int(phys.sum())

    with pytest.raises(PythonException, match=r"media_id=77: fits: length"):
        map_records(df, kernel, "media_id bigint, px_sum bigint").collect()


class _BatchLoops(ast.NodeVisitor):
    """Collects the innermost enclosing function of every
    ``for … in batches`` loop."""

    def __init__(self):
        self.stack, self.found = [], []

    def visit_FunctionDef(self, node):
        self.stack.append(node.name)
        self.generic_visit(node)
        self.stack.pop()

    def visit_For(self, node):
        if isinstance(node.iter, ast.Name) and node.iter.id == "batches":
            self.found.append(self.stack[-1])
        self.generic_visit(node)


@pytest.mark.parametrize(
    "module, allowed",
    [
        ("operators/multimodal.py", []),
        ("operators/raster2d.py", []),
        # WARC blob assembly carries a blob's rows across batches
        ("sources/multimodal.py", ["build"]),
    ],
)
def test_media_modules_have_no_hand_rolled_batch_loop(module, allowed):
    loops = _BatchLoops()
    loops.visit(ast.parse((PKG / module).read_text()))
    assert loops.found == allowed
