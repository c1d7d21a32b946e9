"""Seeded copy of the benchmark's input tables.

`data/sf0.1/` beside this file holds the tables the workloads read
(`documents`, `embeddings`, `orders`), copied unchanged from the sf0.1
scale-factor directory described in TESTDATA.md. `generate` writes them
to a directory of the run's own with every table's rows permuted by the
seed: every seed does the same work on the same rows, and the seed
changes the physical row order that partitioning and first-wins ties see.

    python3 perfbench/gen.py <out_dir> <seed>
"""
import os
import sys

import numpy as np
import pyarrow.parquet as pq

SRC = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.1")
TABLES = sorted(f[:-len(".parquet")] for f in os.listdir(SRC) if f.endswith(".parquet"))


def rows(table):
    return pq.ParquetFile(os.path.join(SRC, f"{table}.parquet")).metadata.num_rows


def generate(out_dir, seed):
    """Write every table to `out_dir`, rows permuted by `seed`. Skips the
    work when the directory is already complete."""
    done = os.path.join(out_dir, "_COMPLETE")
    if os.path.exists(done):
        return out_dir
    os.makedirs(out_dir, exist_ok=True)
    perm = np.random.default_rng(seed)
    for name in TABLES:
        t = pq.read_table(os.path.join(SRC, f"{name}.parquet"))
        pq.write_table(t.take(perm.permutation(t.num_rows)),
                       os.path.join(out_dir, f"{name}.parquet"))
    with open(done, "w") as f:
        f.write(f"{seed}\n")
    return out_dir


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]))
