#!/usr/bin/env python3
"""Fixed-seed tables for the query workload, shaped like the sf0.1 set.

Writes the two tables the benchmark's queries read (`documents` and
`embeddings`, one parquet file each, one row group each like the reference
data) with the sf0.1 row counts, column types and value ranges, through
`tools/gen_scale_docs.py` (its fixed 30-word vocabulary mode at scale 1).

The data seed is fixed, so the committed result fingerprints stay valid;
the benchmark's `--seed` only permutes the query order.

Usage: gen_tables.py <outdir> [scale=1.0]   (1.0 = sf0.1 row counts)
"""
import os
import sys

import numpy as np
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.join(os.path.dirname(HERE), "tools"))
import gen_scale_docs as docs  # noqa: E402

SEED = 20261017


def tables(scale):
    rng = np.random.default_rng(SEED)
    return {"documents": docs.gen_documents(max(100, int(5000 * scale)), rng, 1),
            "embeddings": docs.gen_embeddings(max(100, int(2000 * scale)), rng)}


def main(outdir, scale=1.0):
    tmp = outdir.rstrip("/") + ".tmp"
    os.makedirs(tmp, exist_ok=True)
    for name, t in tables(scale).items():
        pq.write_table(t, os.path.join(tmp, f"{name}.parquet"), row_group_size=max(1, t.num_rows))
    os.replace(tmp, outdir)


if __name__ == "__main__":
    main(sys.argv[1], float(sys.argv[2]) if len(sys.argv) > 2 else 1.0)
