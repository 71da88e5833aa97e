#!/usr/bin/env python3
"""Seeded benchmark inputs by key-offset replication of a base dataset.

The base, perfbench/data/sf0.01, is a copy of graft's sf0.01 test dataset:
the deterministic synthetic TPC-H-like star schema with the events,
documents and embeddings tables, one parquet file per table.

Each table of the base dataset is replicated R times. Replica r shifts
every identifier column by r * (max_id + 1) of the table that owns the
identifier, so references between tables stay intact and value
distributions stay those of the base. The fact tables (lineitem, events,
documents, embeddings) keep a seeded KEEP share of their rows in each
replica; the seed picks which rows. Dimension tables and orders are kept
whole, so every kept fact row still finds its dimensions.

The same (base, replicas, seed) gives byte-identical parquet files: rows
are chosen by numpy's PCG64 stream, and pyarrow writes the files with the
base files' format version.

Usage: python3 perfbench/gen.py <base_dir> <out_dir> <replicas> <seed>
"""
import hashlib
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

KEEP = 0.9

# identifier columns to shift, per table -> the key domain they belong to
SHIFT = {
    "lineitem": {"l_orderkey": "o_orderkey", "l_partkey": "p_partkey",
                 "l_suppkey": "s_suppkey"},
    "orders": {"o_orderkey": "o_orderkey", "o_custkey": "c_custkey"},
    "customer": {"c_custkey": "c_custkey"},
    "supplier": {"s_suppkey": "s_suppkey"},
    "part": {"p_partkey": "p_partkey"},
    "events": {"event_id": "event_id", "user_id": "user_id"},
    "documents": {"doc_id": "doc_id"},
    "embeddings": {"vec_id": "vec_id"},
}
# tiny fixed dimensions: one instance, never sampled
SINGLE = ("region", "nation")
SAMPLED = ("lineitem", "events", "documents", "embeddings")
# the table whose max value bounds each key domain
OWNER = {"o_orderkey": "orders", "p_partkey": "part", "s_suppkey": "supplier",
         "c_custkey": "customer", "event_id": "events", "user_id": "events",
         "doc_id": "documents", "vec_id": "embeddings"}
TABLES = sorted(list(SHIFT) + list(SINGLE))


def generate(base: str, out: str, replicas: int, seed: int) -> dict:
    """Write the replicated tables to `out` and return the manifest."""
    if replicas < 1:
        raise ValueError(f"replicas must be >= 1, got {replicas}")
    os.makedirs(out, exist_ok=True)
    src = {t: pq.read_table(os.path.join(base, f"{t}.parquet")) for t in TABLES}
    offset = {k: pc.max(src[t].column(k)).as_py() + 1 for k, t in OWNER.items()}
    manifest = {"base": os.path.basename(os.path.normpath(base)),
                "replicas": replicas, "seed": seed, "keep": KEEP, "tables": {}}
    for ti, name in enumerate(TABLES):
        t = src[name]
        if name in SINGLE:
            out_t = t
        else:
            parts = []
            for r in range(replicas):
                part = t
                if name in SAMPLED:
                    rng = np.random.Generator(np.random.PCG64([seed, r, ti]))
                    part = part.filter(pa.array(rng.random(t.num_rows) < KEEP))
                for col, domain in SHIFT[name].items():
                    i = part.column_names.index(col)
                    shifted = pc.add(part.column(col),
                                     pa.scalar(r * offset[domain], part.schema.field(col).type))
                    part = part.set_column(i, part.schema.field(col), shifted)
                parts.append(part)
            out_t = pa.concat_tables(parts).combine_chunks()
        path = os.path.join(out, f"{name}.parquet")
        pq.write_table(out_t, path, version="2.6")
        with open(path, "rb") as f:
            digest = hashlib.sha256(f.read()).hexdigest()
        manifest["tables"][name] = {"rows": out_t.num_rows,
                                    "bytes": os.path.getsize(path),
                                    "sha256": digest}
    manifest["bytes"] = sum(v["bytes"] for v in manifest["tables"].values())
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest


if __name__ == "__main__":
    if len(sys.argv) != 5:
        sys.exit(__doc__.strip().splitlines()[-1])
    m = generate(sys.argv[1], sys.argv[2], int(sys.argv[3]), int(sys.argv[4]))
    print(json.dumps({k: v["rows"] for k, v in m["tables"].items()}), m["bytes"], "bytes")
