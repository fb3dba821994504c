"""Seeded input generator for the benchmark.

Writes the tables the benchmark's query keys read (region, nation,
customer, supplier) as one parquet file each, in the schema graft's
`Tables` loaders expect. Row counts follow a scale factor `sf`
(customer = 150000 * sf, supplier = 10000 * sf).

`origin_factor` > 1 scales the origins (`customer`) only: copy c of the
base customer rows gets the key offset `c * 2n + r_c`, with `r_c` drawn
from the seed, so the seed moves every copy's keys and therefore its
key-derived coordinates (graft's `latOf`/`lonOf`). POIs and admin areas
stay at base size, so each origin still does the same local-density work.

A `_DONE.json` marker records the parameters and generator version; a
directory whose marker differs is regenerated.
"""
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VERSION = 3
TABLES = ["region", "nation", "customer", "supplier"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def base_tables(sf, seed):
    """Every table at scale factor `sf`, as {name: pyarrow.Table}."""
    rng = np.random.default_rng(seed)
    n_cust = int(150000 * sf)
    n_supp = int(10000 * sf)
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    ck = np.arange(n_cust, dtype=np.int64)
    out["customer"] = pa.table({
        "c_custkey": ck,
        "c_name": [f"Customer#{k:09d}" for k in ck],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]})
    sk = np.arange(n_supp, dtype=np.int64)
    out["supplier"] = pa.table({
        "s_suppkey": sk,
        "s_name": [f"Supplier#{k:09d}" for k in sk],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    return out


def copy_offsets(n, factor, seed):
    """Key offset of each origin copy 1..factor-1: copy c owns the key
    range [c*2n, c*2n + 2n), so copies never collide; the seed picks where
    in its range each copy starts."""
    rng = np.random.default_rng([seed, 7919])
    return [c * 2 * n + int(rng.integers(0, n)) for c in range(1, factor)]


def scale_origins(customer, factor, seed):
    """`customer` with factor-1 key-shifted copies of every row appended."""
    n = customer.num_rows
    parts = [customer]
    for off in copy_offsets(n, factor, seed):
        keys = customer["c_custkey"].to_numpy() + off
        parts.append(customer.set_column(0, "c_custkey", pa.array(keys))
                     .set_column(1, "c_name", pa.array([f"Customer#{k:09d}" for k in keys])))
    return pa.concat_tables(parts)


def generate(path, sf, origin_factor=1, seed=0, base_seed=42):
    """Make `path` hold the inputs for (sf, origin_factor, seed); reuse it
    when its marker already matches. Returns {table: {rows, bytes}}."""
    marker = {"version": VERSION, "sf": sf, "origin_factor": origin_factor,
              "seed": seed if origin_factor > 1 else None, "base_seed": base_seed}
    done = os.path.join(path, "_DONE.json")
    if os.path.exists(done):
        with open(done) as f:
            old = json.load(f)
        if old.get("marker") == marker:
            return old["tables"]
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    tables = base_tables(sf, base_seed)
    if origin_factor > 1:
        tables["customer"] = scale_origins(tables["customer"], origin_factor, seed)
    sizes = {}
    for name in TABLES:
        f = os.path.join(path, f"{name}.parquet")
        pq.write_table(tables[name], f)
        sizes[name] = {"rows": tables[name].num_rows, "bytes": os.path.getsize(f)}
    with open(done, "w") as f:
        json.dump({"marker": marker, "tables": sizes}, f)
    return sizes
