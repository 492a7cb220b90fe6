"""Seeded synthesis of the benchmark's input tables.

The tables follow the schemas and value domains of the repository's
fixtures (FIXTURES.md) at a given scale factor ``sf``, and keep the
flagship requirements listed there: a closed ``event_type`` domain with
``purchase``/``signup`` as the valid statuses, ``events.ts`` spanning the
2024-01-15 cutoff, ``(user_id, ts, event_type)`` unique (every ``ts`` is
distinct), several events per user, and 5% near-duplicate documents (a copy
of another document's text plus `` dup``).

Each table is written as a directory ``<name>.parquet/`` of ``N_FILES``
part files, so every scan is split into at least ``N_FILES`` tasks; a table
named in ``single_file`` is written as one file instead.  The same seed
always gives byte-identical inputs.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_FILES = 8

#: rows per unit of scale factor (the fixture generator's ratios)
ROWS_PER_SF = {
    "customer": 150_000,
    "supplier": 10_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
    "documents": 50_000,
}
MIN_DOCUMENTS = 500

TABLES = (
    "region", "nation", "customer", "supplier", "orders", "lineitem", "events",
    "documents",
)
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
WORDS = (
    "a the agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "value vector window"
).split()


def row_count(name: str, sf: float) -> int:
    if name == "region":
        return len(REGIONS)
    if name == "nation":
        return 25
    n = max(1, round(ROWS_PER_SF[name] * sf))
    return max(n, MIN_DOCUMENTS) if name == "documents" else n


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start: dt.date, end: dt.date, n: int) -> pa.Array:
    span = (end - start).days
    base = np.datetime64(start, "us")
    us_per_day = np.int64(86_400_000_000)
    return pa.array(base + rng.integers(0, span + 1, n) * us_per_day, pa.timestamp("us"))


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), n, p=p)
    return pa.DictionaryArray.from_arrays(pa.array(idx, pa.int32()), pa.array(values)).cast(
        pa.string()
    )


def _keyed_names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def make_table(name: str, sf: float, rng: np.random.Generator) -> pa.Table:
    n = row_count(name, sf)
    if name == "region":
        return pa.table({
            "r_regionkey": pa.array(range(n), pa.int32()),
            "r_name": pa.array(REGIONS),
        })
    if name == "nation":
        return pa.table({
            "n_nationkey": pa.array(range(n), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(n)]),
            "n_regionkey": pa.array([i % len(REGIONS) for i in range(n)], pa.int32()),
        })
    if name == "customer":
        return pa.table({
            "c_custkey": pa.array(np.arange(n, dtype=np.int64)),
            "c_name": _keyed_names("Customer", n),
            "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n),
            "c_mktsegment": _pick(rng, SEGMENTS, n),
        })
    if name == "supplier":
        return pa.table({
            "s_suppkey": pa.array(np.arange(n, dtype=np.int64)),
            "s_name": _keyed_names("Supplier", n),
            "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n),
        })
    if name == "orders":
        return pa.table({
            "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, row_count("customer", sf), n)),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n),
            "o_orderdate": _days(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), n),
            "o_orderpriority": _pick(rng, PRIORITIES, n),
        })
    if name == "lineitem":
        return pa.table({
            "l_orderkey": pa.array(rng.integers(0, row_count("orders", sf), n)),
            "l_partkey": pa.array(rng.integers(0, max(1, round(200_000 * sf)), n)),
            "l_suppkey": pa.array(rng.integers(0, row_count("supplier", sf), n)),
            "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
            "l_quantity": rng.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], n),
            "l_linestatus": _pick(rng, ["F", "O"], n),
            "l_shipdate": _days(rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4), n),
        })
    if name == "events":
        # strictly increasing timestamps over January 2024: tie-free ranking
        span_us = 30 * 86_400_000_000
        steps = rng.uniform(0.5, 1.5, n)
        offs = np.cumsum(steps) / steps.sum() * (span_us - 10_000_000)
        ts = np.datetime64("2024-01-01T00:00:05", "us") + offs.astype(np.int64) + np.arange(n)
        return pa.table({
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, max(2, round(15_000 * sf)), n)),
            "event_type": _pick(rng, EVENT_TYPES, n),
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        })
    if name == "documents":
        lens = rng.integers(10, 96, n)
        words = np.array(WORDS)
        texts = [" ".join(words[rng.integers(0, len(WORDS), k)]) for k in lens]
        dups = rng.choice(n, n // 20, replace=False)
        for i in dups:
            texts[i] = texts[int(rng.integers(0, n))] + " dup"
        ids = np.arange(n, dtype=np.int64)
        return pa.table({
            "doc_id": pa.array(ids),
            "text": pa.array(texts),
            "lang": _pick(rng, LANGS, n, p=LANG_P),
            "source": pa.array([f"src{i % 20}" for i in ids]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        })
    raise ValueError(f"unknown table {name!r}")


def table_glob(out_dir: str, name: str) -> str:
    """DuckDB-readable path of a generated table (file or part-file glob)."""
    path = os.path.join(out_dir, f"{name}.parquet")
    return os.path.join(path, "*.parquet") if os.path.isdir(path) else path


def generate(
    out_dir: str,
    tables: list[str],
    sf: float,
    seed: int,
    single_file: frozenset[str] = frozenset(),
) -> dict[str, dict]:
    """Write ``tables`` under ``out_dir``; return {table: {rows, files, bytes}}."""
    layout = {}
    for name in tables:
        # one stream per table: a table's rows do not depend on which
        # other tables are generated with it
        rng = np.random.default_rng([seed, TABLES.index(name)])
        tbl = make_table(name, sf, rng)
        path = os.path.join(out_dir, f"{name}.parquet")
        if name in single_file:
            pq.write_table(tbl, path)
            files = [path]
        else:
            os.makedirs(path)
            n_files = min(N_FILES, tbl.num_rows)
            bounds = np.linspace(0, tbl.num_rows, n_files + 1).astype(int)
            files = []
            for j in range(n_files):
                f = os.path.join(path, f"part-{j:05d}.parquet")
                pq.write_table(tbl.slice(bounds[j], bounds[j + 1] - bounds[j]), f)
                files.append(f)
        layout[name] = {
            "rows": tbl.num_rows,
            "files": len(files),
            "bytes": sum(os.path.getsize(f) for f in files),
        }
    return layout
