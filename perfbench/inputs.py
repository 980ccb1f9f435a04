"""Seeded benchmark inputs derived from the engine's test tables.

A seed selects a key-consistent row sample and a row order:

- orders keep a share of their keys; lineitem keeps exactly the rows of
  the kept orders, so a lineitem row survives with its order;
- events, documents and embeddings keep a share of their keys
  (user_id, doc_id, vec_id);
- the shares (SHARE) keep one run within the benchmark's time budget:
  the DuckDB oracle of the cluster-fold queries is a recursive
  transitive closure whose cost grows faster than the corpus;
- the dimension tables keep every row, so every foreign key resolves;
- every table's rows are permuted.

Each table is written as one parquet file, laid out like the source
directory. The same seed gives byte-identical files.
"""
import hashlib
import os
import shutil
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
# key column of each table
KEY = {"region": "r_regionkey", "nation": "n_nationkey", "customer": "c_custkey",
       "supplier": "s_suppkey", "part": "p_partkey", "orders": "o_orderkey",
       "lineitem": "l_orderkey", "events": "user_id", "documents": "doc_id",
       "embeddings": "vec_id"}
# share of keys a sampled table keeps
SHARE = {"orders": 0.25, "events": 0.25, "documents": 0.1, "embeddings": 0.25}


def default_source(scale="sf0.1"):
    """The engine's test tables (see TESTDATA.md); SPARK_GRAFT_SF_DIR
    overrides the sf0.1 directory, as it does for Bench."""
    if scale == "sf0.1" and os.environ.get("SPARK_GRAFT_SF_DIR"):
        return Path(os.environ["SPARK_GRAFT_SF_DIR"])
    return Path.home() / "testdata" / scale


def _mix(keys, seed, salt):
    """splitmix64 of (key, seed, salt): a seeded hash, uniform on uint64."""
    with np.errstate(over="ignore"):
        z = (np.asarray(keys).astype(np.uint64)
             + np.uint64((seed * 0x9E3779B97F4A7C15 + salt) % 2**64))
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return z ^ (z >> np.uint64(31))


def _kept(keys, seed, share):
    return _mix(keys, seed, 1) < np.uint64(int(share * 2**64))


def derive(source: Path, dest: Path, seed: int) -> dict:
    """Write the seed's tables under `dest`; returns {table: rows}."""
    dest.mkdir(parents=True, exist_ok=True)
    tables = {t: pq.read_table(source / f"{t}.parquet") for t in TABLES}
    orders = tables["orders"]
    okeys = orders["o_orderkey"].to_numpy()
    kept_orders = okeys[_kept(okeys, seed, SHARE["orders"])]
    sizes = {}
    for t, tab in tables.items():
        keys = tab[KEY[t]].to_numpy()
        if t in SHARE:
            tab = tab.filter(pa.array(_kept(keys, seed, SHARE[t])))
        elif t == "lineitem":
            tab = tab.filter(pa.array(np.isin(keys, kept_orders)))
        keys = tab[KEY[t]].to_numpy()
        # rows of one key stay in their source order, keys are shuffled
        order = np.lexsort((np.arange(len(keys)), _mix(keys, seed, 2)))
        tab = tab.take(pa.array(order))
        pq.write_table(tab, dest / f"{t}.parquet")
        sizes[t] = tab.num_rows
    return sizes


def ensure(source: Path, cache: Path, seed: int) -> tuple:
    """The seed's input directory under `cache`, generated on first use.
    The directory name carries the source and this generator's code, so
    a change to either never serves stale inputs."""
    key = hashlib.sha256(f"{source.resolve()}\n{Path(__file__).read_text()}".encode())
    dest = cache / f"{source.name}-seed{seed}-{key.hexdigest()[:10]}"
    marker = dest / "_SIZES"
    if not marker.exists():
        tmp = cache / f".{dest.name}-{os.getpid()}"
        sizes = derive(source, tmp, seed)
        (tmp / "_SIZES").write_text(" ".join(f"{t}={n}" for t, n in sizes.items()))
        if dest.exists():
            shutil.rmtree(dest)
        tmp.rename(dest)
    sizes = dict(kv.split("=") for kv in marker.read_text().split())
    return dest, {t: int(n) for t, n in sizes.items()}
