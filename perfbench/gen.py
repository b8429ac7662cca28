"""Seeded benchmark inputs.

The base tables in perfbench/base are a copy of the sf0.01 test data.
A workload's input is the base passed through tools/make_scale_dir.py at
factor 1; the seed then picks:
- the row order of every table (a seeded permutation);
- a rotation of every embedding by one seeded number of dimensions,
  which keeps every cosine exactly (the tool's rotation salt).

At factor 1 the tool mints no copies, so there is no per-copy token
rename to salt. The same seed gives the same files.
"""
import os
import subprocess
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _rotate_embeddings(tbl: pa.Table, seed: int) -> pa.Table:
    col = tbl.column("embedding").combine_chunks()
    dim = len(col[0].as_py())
    shift = np.random.default_rng([seed, 7]).integers(1, dim)
    flat = col.flatten().to_numpy().reshape(-1, dim)
    rolled = np.roll(flat, int(shift), axis=1).reshape(-1)
    arr = pa.ListArray.from_arrays(col.offsets, pa.array(rolled, type=col.type.value_type))
    i = tbl.schema.get_field_index("embedding")
    return tbl.set_column(i, tbl.schema.field("embedding"), arr)


def generate(repo: str, dst: str, seed: int) -> dict:
    """Write the seeded input into `dst`; return {table: {"rows": n, "bytes": b}}."""
    base = os.path.join(repo, "perfbench", "base")
    raw = dst + ".raw"
    subprocess.run([sys.executable, os.path.join(repo, "tools", "make_scale_dir.py"),
                    base, raw, "1"], check=True, stdout=subprocess.DEVNULL)
    os.makedirs(dst, exist_ok=True)
    sizes = {}
    for t in TABLES:
        tbl = pq.read_table(os.path.join(raw, f"{t}.parquet"))
        tbl = tbl.replace_schema_metadata(None)
        if t == "embeddings":
            tbl = _rotate_embeddings(tbl, seed)
        perm = np.random.default_rng([seed, TABLES.index(t)]).permutation(tbl.num_rows)
        tbl = tbl.take(pa.array(perm))
        path = os.path.join(dst, f"{t}.parquet")
        pq.write_table(tbl, path)
        sizes[t] = {"rows": tbl.num_rows, "bytes": os.path.getsize(path)}
        os.remove(os.path.join(raw, f"{t}.parquet"))
    os.rmdir(raw)
    return sizes
