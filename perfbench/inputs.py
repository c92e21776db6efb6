"""Seeded benchmark inputs.

The query workload reads the test-lake tables its queries and their
DuckDB oracles use (a subset of ``sources.readers.TESTDATA_TABLES``),
one single-row-group parquet file each, with the column names, types
and value ranges the query registry expects. Everything derives from
one seed: the same seed writes byte-identical files.

The lakehouse workload's raw tables come from the package's own seeded
generator (``fintech_lakehouse_spark.datagen``); its event file is
written here.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_WEIGHTS = [0.4, 0.15, 0.15, 0.15, 0.15]

ORDER_EPOCH = np.datetime64("1995-01-01", "us")
SHIP_EPOCH = np.datetime64("1995-01-02", "us")
EVENT_EPOCH = np.datetime64("2024-01-01", "us")
DAY_US = 86_400 * 1_000_000


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(table: pa.Table, path: str) -> None:
    # one row group, like the engine's test lake: the reader's split
    # estimate and the scan parallelism depend on the file layout
    pq.write_table(table, path, row_group_size=max(1, table.num_rows))


def _events(rng: np.random.Generator, n: int, n_users: int, days: int) -> dict:
    ts = EVENT_EPOCH + np.sort(rng.integers(0, days * DAY_US, n)).astype(
        "timedelta64[us]"
    )
    return {
        "event_id": np.arange(n, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, n_users, n, dtype=np.int64),
        "event_type": rng.choice(EVENT_TYPES, n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    }


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Random-word documents over a 30-word vocabulary; 5% are near
    duplicates (an earlier document plus one word) and 0.4% exact
    copies, so the dedup, LSH and decontamination queries find pairs."""
    texts: list[str] = []
    kind = rng.random(n)
    for i in range(n):
        if i > 0 and kind[i] < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 0 and kind[i] < 0.054:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(rng.choice(WORDS, k)))
    return pa.table(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(LANGS, n, p=LANG_WEIGHTS),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def write_test_lake(out_dir: str, seed: int, sizes: dict) -> dict:
    """Write the query workload's test-lake tables under ``out_dir``;
    return their row counts.

    ``sizes`` gives the ``customer``, ``orders``, ``lineitem``,
    ``events`` and ``documents`` row counts; ``region`` and ``nation``
    are the fixed 5 and 25 rows.
    """
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_c, n_o, n_l = sizes["customer"], sizes["orders"], sizes["lineitem"]
    nk = np.arange(25, dtype=np.int32)
    tables = {
        "region": pa.table(
            {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS}
        ),
        "nation": pa.table(
            {
                "n_nationkey": nk,
                "n_name": [f"NATION_{i}" for i in nk],
                "n_regionkey": nk % 5,
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": np.arange(n_c, dtype=np.int64),
                "c_name": [f"Customer#{i:09d}" for i in range(n_c)],
                "c_nationkey": rng.integers(0, 25, n_c, dtype=np.int32),
                "c_acctbal": _money(rng, -999.99, 9999.99, n_c),
                "c_mktsegment": rng.choice(SEGMENTS, n_c),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": np.arange(n_o, dtype=np.int64),
                "o_custkey": rng.integers(0, n_c, n_o, dtype=np.int64),
                "o_orderstatus": rng.choice(["F", "O", "P"], n_o),
                "o_totalprice": _money(rng, 1000.0, 500000.0, n_o),
                "o_orderdate": ORDER_EPOCH
                + (rng.integers(0, 2405, n_o) * DAY_US).astype("timedelta64[us]"),
                "o_orderpriority": rng.choice(PRIORITIES, n_o),
            }
        ),
    }
    qty = rng.integers(1, 51, n_l).astype(np.float64)
    # part and supplier keys at TPC-H proportions; no kept query joins them
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_o, n_l, dtype=np.int64),
            "l_partkey": rng.integers(0, max(1, n_l // 30), n_l, dtype=np.int64),
            "l_suppkey": rng.integers(0, max(1, n_l // 600), n_l, dtype=np.int64),
            "l_linenumber": rng.integers(1, 8, n_l, dtype=np.int32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_l), 2),
            "l_discount": rng.integers(0, 11, n_l) / 100.0,
            "l_tax": rng.integers(0, 9, n_l) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_l),
            "l_linestatus": rng.choice(["F", "O"], n_l),
            "l_shipdate": SHIP_EPOCH
            + (rng.integers(0, 2499, n_l) * DAY_US).astype("timedelta64[us]"),
        }
    )
    n_e = sizes["events"]
    tables["events"] = pa.table(_events(rng, n_e, max(50, n_e // 66), 30))
    tables["documents"] = _documents(rng, sizes["documents"])
    for name, table in tables.items():
        _write(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


def write_event_file(
    out_dir: str, seed: int, n_rows: int, dup_frac: float = 0.02
) -> int:
    """One time-ordered event file for the file-source stream.

    A seeded ``dup_frac`` of rows is repeated inside the file, which the
    stream's watermark dedup and the upsert sink must collapse. Returns
    the number of distinct event ids.
    """
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    cols = _events(rng, n_rows, max(50, n_rows // 66), 7)
    # the stream schema types ts as an instant (TimestampType)
    ts = pa.array(cols.pop("ts"), type=pa.timestamp("us", tz="UTC"))
    table = pa.table({"event_id": cols.pop("event_id"), "ts": ts, **cols})
    dups = rng.random(n_rows) < dup_frac
    _write(
        pa.concat_tables([table, table.filter(pa.array(dups))]),
        os.path.join(out_dir, "events-000.parquet"),
    )
    return n_rows
