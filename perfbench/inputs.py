"""The benchmark's inputs, prepared from the reference tables without the program.

`data/sf0.01/` holds the ten reference tables at scale 0.01 and
`data/sf0.001/lineitem.parquet` the table of the set-up warm-up, each a
byte-for-byte copy of the repository's reference test data (`TESTDATA.md`).
Each shipped table is one file of one row group, which Spark scans as a
single task. `prepare` therefore rewrites the tables that scans read in
bulk as `SLICES` files of consecutive rows, in the shipped row order, so a
scan can use every core; the small dimension tables are copied byte for
byte. Values, types and row order are the shipped ones.

Usage: python3 inputs.py <outDir>
"""
import os
import shutil
import sys

import pyarrow.parquet as pq

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
TABLES_DIR = os.path.join(DATA, "sf0.01")
WARM_DIR = os.path.join(DATA, "sf0.001")
SLICES = 8
COPIED = ["region", "nation", "supplier"]
SLICED = ["customer", "part", "orders", "lineitem", "events", "documents", "embeddings"]


def prepare(out):
    os.makedirs(out, exist_ok=True)
    for name in COPIED:
        shutil.copyfile(os.path.join(TABLES_DIR, f"{name}.parquet"), os.path.join(out, f"{name}.parquet"))
    for name in SLICED:
        table = pq.read_table(os.path.join(TABLES_DIR, f"{name}.parquet"))
        d = os.path.join(out, f"{name}.parquet")
        os.makedirs(d, exist_ok=True)
        n = table.num_rows
        for i in range(SLICES):
            lo, hi = n * i // SLICES, n * (i + 1) // SLICES
            pq.write_table(table.slice(lo, hi - lo), os.path.join(d, f"part-{i:02d}.parquet"))


if __name__ == "__main__":
    prepare(sys.argv[1])
