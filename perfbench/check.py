"""Output checker: every dump of a run against its expected values.

Per dump it checks the Hive partition layout, the file count
(ceil(rows/chunksize), one file when unchunked, none for an empty result),
the empty-result marker directory, the gzip codec in every Parquet footer,
and the row count plus an order-independent content digest. The checker
reads the files with pyarrow, never through the program.
"""

from __future__ import annotations

import math
import os
import re

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq


def _mix(h: np.ndarray) -> np.ndarray:
    """splitmix64 finaliser, vectorised over uint64 (wrapping arithmetic)."""
    h = h ^ (h >> np.uint64(30))
    h = h * np.uint64(0xBF58476D1CE4E5B9)
    h = h ^ (h >> np.uint64(27))
    h = h * np.uint64(0x94D049BB133111EB)
    return h ^ (h >> np.uint64(31))


def _column_hash(col: pa.ChunkedArray) -> np.ndarray:
    """uint64 per value, the same for equal values whatever the physical
    type: integers, booleans and dates hash their integer value, timestamps
    their microseconds since the epoch, floats their bits, and everything
    else (strings, decimals, nested values) its text."""
    t = col.type
    nulls = col.is_null().to_numpy(zero_copy_only=False)
    if pa.types.is_timestamp(t):
        unit = {"s": 10**6, "ms": 10**3, "us": 1, "ns": 1}[t.unit]
        raw = pc.cast(col, pa.int64()).fill_null(0).to_numpy()
        vals = raw // 1000 if t.unit == "ns" else raw * unit
        h = vals.astype(np.int64).view(np.uint64)
    elif pa.types.is_date32(t):
        h = pc.cast(pc.cast(col, pa.int32()), pa.int64()).fill_null(0).to_numpy().view(np.uint64)
    elif pa.types.is_integer(t) or pa.types.is_boolean(t):
        h = pc.cast(col, pa.int64()).fill_null(0).to_numpy().view(np.uint64)
    elif pa.types.is_floating(t):
        vals = pc.cast(col, pa.float64()).fill_null(0.0).to_numpy() + 0.0  # -0.0 -> 0.0
        h = vals.view(np.uint64)
    else:
        text = pc.cast(col, pa.string()) if (pa.types.is_string(t) or pa.types.is_decimal(t)) else None
        values = text.to_pylist() if text is not None else [repr(v) for v in col.to_pylist()]
        arr = np.array(["" if v is None else v for v in values], dtype=object)
        h = pd.util.hash_array(arr, categorize=False)
    return _mix(h.astype(np.uint64) ^ nulls.astype(np.uint64) * np.uint64(0x9E3779B97F4A7C15))


def digest(table: pa.Table) -> str:
    """Order-independent digest of a table's rows: columns in name order
    (case-insensitive), each row hashed, row hashes summed modulo 2**64."""
    if table.num_rows == 0:
        return ""
    names = sorted(table.column_names, key=str.lower)
    row = np.zeros(table.num_rows, dtype=np.uint64)
    for i, name in enumerate(names):
        h = _column_hash(table.column(name))
        row = _mix(row * np.uint64(0x100000001B3) + h + np.uint64(i))
    return f"{[n.lower() for n in names]}:{int(row.sum(dtype=np.uint64)):016x}"


def data_files(root: str) -> list[str]:
    """Data files under ``root``, relative to it: Spark's _SUCCESS and
    hidden .crc files are not data."""
    out = []
    for d, _dirs, files in os.walk(root):
        for f in files:
            if not f.startswith(("_", ".")):
                out.append(os.path.relpath(os.path.join(d, f), root))
    return sorted(out)


def check_dump(out_root: str, dump, run_date) -> list[str]:
    """Problems found in one dump's output; empty when it is correct."""
    problems: list[str] = []
    part = f"year_created={run_date.year}/month_created={run_date.month}/day_created={run_date.day}"
    target = os.path.join(out_root, dump.prefix, part)
    layout = re.compile(
        re.escape(dump.prefix) + r"/year_created=\d{4}/month_created=[1-9]\d?/day_created=[1-9]\d?/[^/]+$"
    )
    files = data_files(os.path.join(out_root, dump.prefix))
    rel = [f"{dump.prefix}/{f}" for f in files]
    bad = [f for f in rel if not layout.fullmatch(f) or not f.startswith(f"{dump.prefix}/{part}/")]
    if bad:
        problems.append(f"{dump.prefix}: files outside {part}: {bad[:3]}")
    if not os.path.isdir(target):
        return problems + [f"{dump.prefix}: missing partition directory {part}"]

    if dump.rows == 0:
        if files:
            problems.append(f"{dump.prefix}: empty result wrote {len(files)} data files, expected a marker only")
        return problems

    want = math.ceil(dump.rows / dump.chunksize) if dump.chunksize else 1
    if len(files) != want:
        problems.append(f"{dump.prefix}: {len(files)} files, expected {want}")
    paths = [os.path.join(out_root, dump.prefix, f) for f in files]
    tables = []
    for p in paths:
        try:
            pf = pq.ParquetFile(p)
        except (OSError, pa.ArrowInvalid) as ex:
            problems.append(f"{dump.prefix}: unreadable {os.path.basename(p)}: {ex}")
            continue
        meta = pf.metadata
        codecs = {
            meta.row_group(g).column(c).compression
            for g in range(meta.num_row_groups)
            for c in range(meta.num_columns)
        }
        if codecs - {"GZIP"}:
            problems.append(f"{dump.prefix}: {os.path.basename(p)} codec {sorted(codecs)}, expected GZIP")
        tables.append(pf.read())
    if not tables:
        return problems + [f"{dump.prefix}: no readable data files"]
    got = pa.concat_tables(tables, promote_options="permissive")
    if got.num_rows != dump.rows:
        problems.append(f"{dump.prefix}: {got.num_rows} rows, expected {dump.rows}")
    elif digest(got) != dump.digest:
        problems.append(f"{dump.prefix}: content digest {digest(got)} != expected {dump.digest}")
    return problems


def output_bytes(out_root: str) -> int:
    """Bytes of every data file under ``out_root``."""
    return sum(os.path.getsize(os.path.join(out_root, f)) for f in data_files(out_root))
