"""Seeded benchmark inputs: a key-consistent subsample of the sf0.1 tables.

Fact tables keep a seed-chosen share of their rows (`fractions`, per table),
picked by a keyed hash of their id: orders by o_orderkey (lineitems follow
their order), events, documents and embeddings by their own id. Dimension tables are copied whole,
so every foreign key into them still resolves. Each output table is one
parquet file with one row group, written with the source file's schema, as in
the source directory. The same seed gives byte-identical files.
"""
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

SOURCE_DIR = "/root/testdata/sf0.1"
DIMENSIONS = ["region", "nation", "customer", "supplier", "part"]
# fact table -> id column whose hash decides whether the row is kept
SAMPLED = {"orders": "o_orderkey", "events": "event_id",
           "documents": "doc_id", "embeddings": "vec_id"}
TABLES = DIMENSIONS + list(SAMPLED) + ["lineitem"]


def keyed_hash(ids, seed):
    """splitmix64 finalizer over (id + seed * golden ratio), as uint64."""
    with np.errstate(over="ignore"):
        z = ids.astype(np.uint64) + np.uint64(seed) * np.uint64(0x9E3779B97F4A7C15)
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return z ^ (z >> np.uint64(31))


def keep_mask(ids, seed, fraction):
    """True for the ids a seed keeps; about `fraction` of them."""
    cut = np.uint64(int(fraction * 2**32))
    return (keyed_hash(ids, seed) >> np.uint64(32)) < cut


def _write(table, schema, path):
    pq.write_table(table.cast(schema), path, row_group_size=max(1, table.num_rows),
                   compression="snappy")


def generate(out_dir, seed, fractions, source_dir=SOURCE_DIR):
    """Write the seed's tables to out_dir; return {table: rows}."""
    if not os.path.isdir(source_dir):
        raise SystemExit(f"perfbench: source tables not found in {source_dir}")
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for t in DIMENSIONS:
        src = f"{source_dir}/{t}.parquet"
        shutil.copyfile(src, f"{out_dir}/{t}.parquet")
        rows[t] = pq.ParquetFile(src).metadata.num_rows
    kept_orders = None
    for t, key in SAMPLED.items():
        src = pq.read_table(f"{source_dir}/{t}.parquet")
        mask = keep_mask(src.column(key).to_numpy(), seed, fractions[t])
        out = src.filter(pa.array(mask))
        if t == "orders":
            kept_orders = out.column(key)
        _write(out, src.schema, f"{out_dir}/{t}.parquet")
        rows[t] = out.num_rows
    li = pq.read_table(f"{source_dir}/lineitem.parquet")
    out = li.filter(pc.is_in(li.column("l_orderkey"), value_set=kept_orders))
    _write(out, li.schema, f"{out_dir}/lineitem.parquet")
    rows["lineitem"] = out.num_rows
    return rows
