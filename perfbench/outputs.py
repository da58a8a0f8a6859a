"""Output checks: an order-insensitive content hash of a query result,
the expected hashes recorded beside the benchmark, and fixture row
counts.

The hash sorts columns by name, normalises every cell to one canonical
value (ints to int64, floats to float64 with -0.0 and NaN unified,
timestamps to UTC nanoseconds, other objects to their repr), hashes each
row, sorts the row hashes and digests them with the column names. Two
frames with the same rows in any order hash alike; a changed cell, a
lost or duplicated row, or a renamed column changes the hash.
"""

from __future__ import annotations

import decimal
import hashlib
import json
import os

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
EXPECTED_PATH = os.path.join(HERE, "expected.json")


def _norm_object(v):
    if v is None or (isinstance(v, float) and np.isnan(v)):
        return None
    if isinstance(v, str):
        return v
    if isinstance(v, (decimal.Decimal, np.floating)):
        return repr(float(v))
    if isinstance(v, (bool, np.bool_)):
        return repr(bool(v))
    if isinstance(v, (int, np.integer)):
        return repr(int(v))
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, pd.Timestamp):
        return v.isoformat()
    if isinstance(v, (list, tuple, np.ndarray)):
        return repr([_norm_object(x) for x in v])
    return repr(v)


def _norm_column(s: pd.Series) -> pd.Series:
    kind = s.dtype.kind
    if kind in "biu":
        return s.astype(np.int64)
    if kind == "f":
        x = s.to_numpy(dtype=np.float64) + 0.0  # -0.0 -> 0.0
        return pd.Series(np.where(np.isnan(x), np.nan, x))
    if kind == "M":
        if getattr(s.dt, "tz", None) is not None:
            s = s.dt.tz_convert("UTC").dt.tz_localize(None)
        return s.astype("datetime64[ns]").astype(np.int64)
    if isinstance(s.dtype, pd.ArrowDtype) or str(s.dtype) in ("string", "category"):
        s = s.astype(object)
    if s.dtype == object:
        return s.map(_norm_object).astype(object)
    return s


def content_hash(pdf: pd.DataFrame) -> str:
    cols = sorted(pdf.columns)
    norm = pd.DataFrame(
        {c: _norm_column(pdf[c]).reset_index(drop=True) for c in cols}
    )
    if len(norm):
        rows = np.sort(pd.util.hash_pandas_object(norm, index=False).to_numpy())
    else:
        rows = np.zeros(0, dtype=np.uint64)
    h = hashlib.sha256(json.dumps(cols).encode())
    h.update(str(len(rows)).encode())
    h.update(rows.astype("<u8").tobytes())
    return h.hexdigest()


def read_sink(path: str) -> pd.DataFrame:
    """A parquet sink directory read back as pandas (outside timing)."""
    return pq.read_table(path).to_pandas()


def load_expected() -> dict:
    with open(EXPECTED_PATH) as f:
        return json.load(f)


def table_rows(sf_dir: str, table: str) -> int:
    """Row count from parquet footers only: a file or a directory of parts."""
    path = os.path.join(sf_dir, f"{table}.parquet")
    if os.path.isdir(path):
        files = sorted(
            os.path.join(path, f) for f in os.listdir(path) if f.endswith(".parquet")
        )
    else:
        files = [path]
    return sum(pq.ParquetFile(f).metadata.num_rows for f in files)


def check_fixture(sf_dir: str, expected_rows: dict[str, int]) -> list[str]:
    """Tables whose row count differs from the recorded one."""
    bad = []
    for table, n in expected_rows.items():
        try:
            got = table_rows(sf_dir, table)
        except (OSError, ValueError) as e:
            bad.append(f"{table}: {e}")
            continue
        if got != n:
            bad.append(f"{table}: {got} rows, expected {n}")
    return bad
