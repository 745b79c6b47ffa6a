"""Seeded input generation for the benchmark.

``write_base`` writes the TPC-H-ish star schema plus ``events`` in the
layout the registry entries read (one parquet file per table, the same
column names, types and value domains as the shipped test data), so the
benchmark needs no dataset outside its own checkout. Tables are built
with NumPy from one ``numpy.random.Generator`` and written with pyarrow,
so the same seed gives byte-identical files.

``documents`` and ``embeddings`` are written as small fixed tables: no
benchmarked entry reads them, but ``tools/gen_sf.py`` copies them into
every scaled directory.

``write_delimited_years`` and ``customer_deltas`` make the inputs of the
load-qa-refresh cycle: yearly ``|``-delimited extracts and a seeded
update/insert/delete batch against ``customer``.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
COLORS = ["red", "blue", "green", "black", "white", "small", "large", "steel"]
NOUNS = ["widget", "bolt", "ring", "gear", "valve", "spring", "panel", "cable"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

ORDER_EPOCH = np.datetime64("1995-01-01", "us")
EVENT_EPOCH = np.datetime64("2024-01-01", "us")
DAY_US = 86_400_000_000


def _counts(sf: float) -> dict[str, int]:
    return {
        "customer": int(150_000 * sf),
        "supplier": int(10_000 * sf),
        "part": int(200_000 * sf),
        "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf),
        "events": int(1_000_000 * sf),
        "users": int(15_000 * sf),
    }


def _pick(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, epoch: np.datetime64, span: int,
          n: int) -> pa.Array:
    d = epoch + rng.integers(0, span, n).astype("timedelta64[D]")
    return pa.array(d.astype("datetime64[us]"), pa.timestamp("us"))


def _keyed(n: int, prefix: str) -> tuple[np.ndarray, pa.Array]:
    keys = np.arange(n, dtype=np.int64)
    return keys, pa.array([f"{prefix}#{k:09d}" for k in keys])


def base_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """The ten registry tables at scale factor ``sf``."""
    rng = np.random.default_rng(seed)
    n = _counts(sf)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS),
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    ck, cname = _keyed(n["customer"], "Customer")
    t["customer"] = pa.table({
        "c_custkey": ck,
        "c_name": cname,
        "c_nationkey": rng.integers(0, 25, len(ck)).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, len(ck)),
        "c_mktsegment": _pick(rng, SEGMENTS, len(ck)),
    })
    sk, sname = _keyed(n["supplier"], "Supplier")
    t["supplier"] = pa.table({
        "s_suppkey": sk,
        "s_name": sname,
        "s_nationkey": rng.integers(0, 25, len(sk)).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, len(sk)),
    })
    pk = np.arange(n["part"], dtype=np.int64)
    names = np.char.add(np.char.add(
        np.asarray(COLORS)[rng.integers(0, len(COLORS), len(pk))], " "),
        np.asarray(NOUNS)[rng.integers(0, len(NOUNS), len(pk))])
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": pa.array(names.astype(object)),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], len(pk)),
        "p_type": _pick(rng, PART_TYPES, len(pk)),
        "p_size": rng.integers(1, 51, len(pk)).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2),
    })
    ok = np.arange(n["orders"], dtype=np.int64)
    t["orders"] = pa.table({
        "o_orderkey": ok,
        "o_custkey": rng.integers(0, len(ck), len(ok)),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], len(ok)),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, len(ok)),
        "o_orderdate": _days(rng, ORDER_EPOCH, 2404, len(ok)),
        "o_orderpriority": _pick(rng, PRIORITIES, len(ok)),
    })
    m = n["lineitem"]
    qty = rng.integers(1, 51, m).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, len(ok), m),
        "l_partkey": rng.integers(0, len(pk), m),
        "l_suppkey": rng.integers(0, len(sk), m),
        "l_linenumber": rng.integers(1, 8, m).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, m), 2),
        "l_discount": rng.integers(0, 11, m) / 100.0,
        "l_tax": rng.integers(0, 9, m) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], m),
        "l_linestatus": _pick(rng, ["F", "O"], m),
        "l_shipdate": _days(rng, ORDER_EPOCH + 1, 2498, m),
    })
    e = n["events"]
    ts = EVENT_EPOCH + np.sort(rng.integers(0, 30 * DAY_US, e)).astype(
        "timedelta64[us]")
    t["events"] = pa.table({
        "event_id": np.arange(e, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, n["users"], e),
        "event_type": _pick(rng, EVENT_TYPES, e),
        "value": np.round(np.minimum(rng.exponential(40.0, e), 490.0) + 0.01, 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]),
    })
    words = np.asarray(COLORS + NOUNS)
    texts = [" ".join(words[rng.integers(0, len(words), 12)]) for _ in range(64)]
    t["documents"] = pa.table({
        "doc_id": np.arange(64, dtype=np.int64),
        "text": texts,
        "lang": ["en"] * 64,
        "source": ["web"] * 64,
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    })
    t["embeddings"] = pa.table({
        "vec_id": np.arange(64, dtype=np.int64),
        "embedding": pa.array(rng.standard_normal((64, 8)).astype(np.float32).tolist(),
                              pa.list_(pa.float32())),
        "label": rng.integers(0, 4, 64).astype(np.int32),
    })
    return t


def write_base(out_dir: str, sf: float, seed: int) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in base_tables(sf, seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def dir_digest(path: str) -> str:
    """sha256 over the names and bytes of every file under ``path``."""
    h = hashlib.sha256()
    for root, dirs, files in os.walk(path):
        dirs.sort()
        for f in sorted(files):
            p = os.path.join(root, f)
            h.update(os.path.relpath(p, path).encode() + b"\0")
            with open(p, "rb") as fh:
                for chunk in iter(lambda: fh.read(1 << 20), b""):
                    h.update(chunk)
    return h.hexdigest()


# --------------------------------------------------------------------------
# load-qa-refresh inputs
# --------------------------------------------------------------------------

#: T-SQL types of the delimited extracts, in the config format
#: ``ingest_yearly_files`` compiles to an explicit schema, and the DuckDB
#: types the oracle reads the same files with
TSQL_TO_DUCK = {"BIGINT": "BIGINT", "INT": "INTEGER", "FLOAT": "DOUBLE",
                "VARCHAR(16)": "VARCHAR", "DATE": "DATE"}
_ARROW_TO_TSQL = {pa.int64(): "BIGINT", pa.int32(): "INT",
                  pa.float64(): "FLOAT", pa.string(): "VARCHAR(16)"}


def tsql_vars(table: pa.Table) -> dict[str, str]:
    return {f.name: _ARROW_TO_TSQL.get(f.type, "DATE") for f in table.schema}


def write_delimited_years(table: pa.Table, name: str, date_col: str,
                          out_dir: str) -> list[int]:
    """Write ``<name>_<year>.txt`` (``|``-separated, header row) per
    calendar year of ``date_col``, with timestamps written as dates;
    returns the years."""
    os.makedirs(out_dir, exist_ok=True)
    cols = [c.cast(pa.date32()) if pa.types.is_timestamp(c.type) else c
            for c in table.columns]
    table = pa.table(cols, names=table.column_names)
    year = pc.year(table[date_col])
    years = sorted(pc.unique(year).to_pylist())
    opts = pacsv.WriteOptions(delimiter="|", quoting_style="none")
    for y in years:
        pacsv.write_csv(table.filter(pc.equal(year, y)),
                        os.path.join(out_dir, f"{name}_{y}.txt"), opts)
    return years


def customer_deltas(customer: pa.Table, seed: int,
                    n_update: int, n_insert: int, n_delete: int
                    ) -> tuple[pa.Table, pa.Table]:
    """A seeded MERGE batch against ``customer``: (updates, deletes).
    ``updates`` holds ``n_update`` existing keys with new balances and
    segments plus ``n_insert`` new keys; ``deletes`` holds ``n_delete``
    existing keys disjoint from the updated ones."""
    rng = np.random.default_rng(seed)
    keys = customer["c_custkey"].to_numpy()
    chosen = rng.choice(len(keys), n_update + n_delete, replace=False)
    upd_keys = keys[chosen[:n_update]]
    del_keys = keys[chosen[n_update:]]
    new_keys = np.arange(n_insert, dtype=np.int64) + int(keys.max()) + 1
    all_keys = np.concatenate([upd_keys, new_keys])
    updates = pa.table({
        "c_custkey": all_keys,
        "c_name": pa.array([f"Customer#{k:09d}" for k in all_keys]),
        "c_nationkey": rng.integers(0, 25, len(all_keys)).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, len(all_keys)),
        "c_mktsegment": _pick(rng, SEGMENTS, len(all_keys)),
    })
    return updates, pa.table({"c_custkey": del_keys})
