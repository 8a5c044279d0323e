"""Seeded input files for the benchmark.

Every file is produced here with pyarrow and fixed writer settings, never
through ``parquery_spark.write``, so a change to the engine's writer cannot
change what the read workloads read.  The same seed gives byte-identical
files; a directory is reused only when a manifest of SHA-256 digests
matches the bytes on disk.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: bump when a generator or writer setting changes: stale caches rebuild
GENERATOR_VERSION = 1

SHIPMODES = ["AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK"]
RETURNFLAGS = ["A", "N", "R"]
LINESTATUSES = ["F", "O"]
MONTHS = 84  # seven years of l_month values, 1..84

#: the dashboard's fact files: count and rows (one row group per file)
DASHBOARD_FILES = 2
DASHBOARD_ROWS = 500_000
#: rows of each frame a write op publishes
WRITE_ROWS = 200_000

# purposes, so that each stream of random numbers is distinct
_DASHBOARD, _WARMUP, _WRITE = 1, 2, 3


def lineitem_table(rng: np.random.Generator, rows: int) -> pa.Table:
    """A lineitem-shaped fact table: low-cardinality dimensions, money-like
    measures, one nullable measure (``l_tax``) for ``count_na``."""
    quantity = rng.integers(1, 51, rows).astype(np.float64)
    price = rng.integers(90_000, 200_000, rows) / 100.0
    tax = rng.integers(0, 9, rows) / 100.0
    tax_null = rng.random(rows) < 0.05
    return pa.table(
        {
            "l_orderkey": pa.array(rng.integers(1, rows * 4, rows), pa.int64()),
            "l_suppkey": pa.array(rng.integers(1, 1001, rows), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, rows).astype(np.int32)),
            "l_quantity": pa.array(quantity),
            "l_extendedprice": pa.array(np.round(quantity * price, 2)),
            "l_discount": pa.array(rng.integers(0, 11, rows) / 100.0),
            "l_tax": pa.array(tax, mask=tax_null),
            "l_returnflag": pa.array(np.array(RETURNFLAGS)[rng.integers(0, 3, rows)]),
            "l_linestatus": pa.array(np.array(LINESTATUSES)[rng.integers(0, 2, rows)]),
            "l_shipmode": pa.array(np.array(SHIPMODES)[rng.integers(0, 7, rows)]),
            "l_month": pa.array(rng.integers(1, MONTHS + 1, rows).astype(np.int32)),
        }
    )


#: the columns every generated file has
COLUMNS = frozenset(lineitem_table(np.random.default_rng(0), 1).column_names)


def write_table(table: pa.Table, path: str) -> None:
    """The benchmark's own writer: fixed settings, independent of the engine."""
    pq.write_table(
        table,
        path,
        row_group_size=max(table.num_rows, 1),
        compression="zstd",
        compression_level=1,
        use_dictionary=True,
        write_statistics=True,
    )


def dashboard_table(seed: int, index: int) -> pa.Table:
    return lineitem_table(np.random.default_rng([seed, _DASHBOARD, index]), DASHBOARD_ROWS)


def warmup_table(seed: int) -> pa.Table:
    """A small file for the set-up's warm-up call."""
    return lineitem_table(np.random.default_rng([seed, _WARMUP]), 10_000)


def write_frame_table(seed: int, index: int) -> pa.Table:
    """The ``index``-th table a write op publishes."""
    return lineitem_table(np.random.default_rng([seed, _WRITE, index]), WRITE_ROWS)


def sha256(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as fh:
        for block in iter(lambda: fh.read(1 << 20), b""):
            h.update(block)
    return h.hexdigest()


def _manifest(directory: str) -> dict | None:
    try:
        with open(os.path.join(directory, "manifest.json")) as fh:
            return json.load(fh)
    except (OSError, ValueError):
        return None


def ensure_dashboard(directory: str, seed: int) -> tuple[list[str], dict]:
    """Generate, or verify and reuse, the dashboard's files.

    Returns the paths and a description (rows and bytes, whether reused)."""
    paths = [os.path.join(directory, f"dashboard-{i}.parquet") for i in range(DASHBOARD_FILES)]
    want = {"generator": GENERATOR_VERSION, "seed": seed, "files": DASHBOARD_FILES, "rows": DASHBOARD_ROWS}
    old = _manifest(directory)
    reused = False
    if old is not None and all(old.get(k) == v for k, v in want.items()):
        try:
            with ThreadPoolExecutor(4) as pool:
                reused = list(pool.map(sha256, paths)) == old["digests"]
        except OSError:
            reused = False
    if not reused:
        shutil.rmtree(directory, ignore_errors=True)
        os.makedirs(directory)

        def build(i: int) -> str:
            write_table(dashboard_table(seed, i), paths[i])
            return sha256(paths[i])

        with ThreadPoolExecutor(4) as pool:
            digests = list(pool.map(build, range(DASHBOARD_FILES)))
        with open(os.path.join(directory, "manifest.json"), "w") as fh:
            json.dump({**want, "digests": digests}, fh)
    info = {
        "files": DASHBOARD_FILES,
        "rows_per_file": DASHBOARD_ROWS,
        "bytes_per_file": [os.path.getsize(p) for p in paths],
        "reused": reused,
    }
    return paths, info
