"""Seeded input generator for the benchmark.

Every workload reads the same ten tables.  They come from the sf0.01
fixture shipped in ``perfbench/fixture`` (a byte copy of the engine's
correctness fixture).  The seed fixes two things and nothing else:

* the row order of every table, so different seeds give the same row
  multiset in a different physical order;
* the order in which queries are issued in each pass.

The same seed gives byte-identical files.  The engine only ever sees the
generated directory.

Usage: python3 perfbench/gen.py --seed 7 --out DIR
"""

from __future__ import annotations

import argparse
import os
import random

import numpy as np
import pyarrow.parquet as pq

FIXTURE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixture")

# Same names and order as flinkexp_spark.datasets.TABLES; kept here so the
# generator runs without importing the engine.
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def generate(seed: int, out_dir: str, fixture_dir: str = FIXTURE_DIR) -> str:
    """Write every table, rows permuted by ``seed``, into ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    for i, name in enumerate(TABLES):
        table = pq.read_table(os.path.join(fixture_dir, f"{name}.parquet"))
        rng = np.random.default_rng([seed, i])
        table = table.take(rng.permutation(table.num_rows))
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


def pass_orders(names: tuple[str, ...], seed: int, n_passes: int) -> list[list[str]]:
    """The query order of each pass: a fresh seeded shuffle per pass."""
    rng = random.Random(seed)
    orders = []
    for _ in range(n_passes):
        order = list(names)
        rng.shuffle(order)
        orders.append(order)
    return orders


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    print(generate(args.seed, args.out))


if __name__ == "__main__":
    main()
