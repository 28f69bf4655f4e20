"""Result checking: canonical, order-insensitive, exact-float result hashes.

A query result is reduced to a ``Digest``: its sorted column names, its row
count and an order-insensitive hash of its rows. The Spark result and the
DuckDB oracle result of the same query on the same parquet files must give
the same digest. The canonical form follows the comparison rules of
``tools/parity.py``:

- column order does not matter, row order does not matter, duplicate rows do;
- an integral float equals the integer of the same value (DuckDB and Spark
  disagree on integer widths and on NULL-able integer columns);
- any other float is compared by ``repr``, so a change in the last digit is
  a mismatch;
- lists, arrays, structs and maps compare element by element.
"""

from __future__ import annotations

import datetime as _dt
import decimal
import hashlib
import math
import os
from dataclasses import dataclass

import numpy as np
import pandas as pd

_MASK = (1 << 128) - 1


@dataclass(frozen=True)
class Digest:
    columns: tuple[str, ...]
    rows: int
    row_hash: int

    def problems(self, expected: Digest) -> list[str]:
        """What differs between this result and the expected one."""
        out = []
        if self.columns != expected.columns:
            out.append(f"columns {list(self.columns)} != {list(expected.columns)}")
        if self.rows != expected.rows:
            out.append(f"rows {self.rows} != {expected.rows}")
        if not out and self.row_hash != expected.row_hash:
            out.append("row values differ")
        return out


def _float(v: float):
    if math.isnan(v):
        return None
    if v.is_integer() and abs(v) < 2**53 and not (v == 0 and math.copysign(1, v) < 0):
        return int(v)
    return ("f", repr(v))


def canon_value(v):
    """One cell in canonical form (a hashable, repr-stable Python value)."""
    if v is None or v is pd.NaT:
        return None
    if isinstance(v, (bool, np.bool_)):
        return ("b", bool(v))
    if isinstance(v, (int, np.integer)):
        return int(v)
    if isinstance(v, (float, np.floating)):
        return _float(float(v))
    if isinstance(v, str):
        return v
    if isinstance(v, decimal.Decimal):
        return _float(float(v)) if v.is_finite() else None
    if isinstance(v, (pd.Timestamp, np.datetime64)):
        return ("t", pd.Timestamp(v).isoformat())
    if isinstance(v, _dt.datetime):
        return ("t", pd.Timestamp(v).isoformat())
    if isinstance(v, _dt.date):
        return ("d", v.isoformat())
    if isinstance(v, (bytes, bytearray, memoryview)):
        return ("y", bytes(v).hex())
    if isinstance(v, dict):
        return ("m", tuple(sorted((repr(canon_value(k)), canon_value(x)) for k, x in v.items())))
    if hasattr(v, "asDict"):  # pyspark Row (a struct collected without Arrow)
        return canon_value(v.asDict(recursive=False))
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(canon_value(x) for x in v)
    raise TypeError(f"no canonical form for {type(v).__name__}: {v!r}")


def _column(series: pd.Series) -> list:
    kind = series.dtype.kind
    if kind in "iu":
        return series.tolist()
    if kind == "f":
        return [_float(x) for x in series.tolist()]
    return [canon_value(x) for x in series.tolist()]


def digest(pdf: pd.DataFrame) -> Digest:
    """Canonical digest of a whole result; every column of every row is read."""
    names = sorted(pdf.columns)
    columns = [_column(pdf[c]) for c in names]
    acc = 0
    for row in zip(*columns):
        h = hashlib.blake2b(repr(row).encode(), digest_size=16).digest()
        acc = (acc + int.from_bytes(h, "little")) & _MASK
    return Digest(tuple(names), len(pdf), acc)


def oracle_digests(data_dir: str, names, oracles: dict[str, str], temp_dir: str,
                   memory_limit: str) -> dict[str, Digest]:
    """Run each query's DuckDB oracle SQL once over the ``<table>.parquet``
    files in ``data_dir``."""
    import duckdb

    os.makedirs(temp_dir, exist_ok=True)
    con = duckdb.connect()
    try:
        con.sql(f"SET temp_directory='{temp_dir}'")
        con.sql(f"SET memory_limit='{memory_limit}'")
        for f in sorted(os.listdir(data_dir)):
            if f.endswith(".parquet"):
                con.sql(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(data_dir, f)}')")
        return {n: digest(con.sql(oracles[n]).df()) for n in names}
    finally:
        con.close()
