"""Seeded benchmark inputs.

The tables in ``data/`` are the project's sf0.01 test tables. For a seed,
``generate`` writes a copy of each table with its rows permuted and split
over ``FILES`` parquet files of jittered size (``<out>/<table>.parquet/``).
The content is the same for every seed, so input sizes and the oracle
results hold; the row order, file boundaries and hence the scan
partitions and tie order change with the seed. The file count is fixed
so that every seed gives the engine the same scan parallelism.
"""
import os

import numpy as np
import pyarrow.parquet as pq

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
FILES = 4


def generate(out_dir, seed):
    rng = np.random.default_rng(seed)
    for name in sorted(os.listdir(DATA)):
        table = pq.read_table(os.path.join(DATA, name))
        rows = table.num_rows
        table = table.take(rng.permutation(rows))
        # equal shares of the rows, each moved by up to a fifth of a share
        share = rows / FILES
        cuts = [int(round(share * i + rng.uniform(-0.2, 0.2) * share))
                for i in range(1, FILES)]
        bounds = [0] + [min(max(c, 0), rows) for c in cuts] + [rows]
        target = os.path.join(out_dir, name)
        os.makedirs(target)
        for i in range(FILES):
            lo, hi = bounds[i], max(bounds[i], bounds[i + 1])
            pq.write_table(table.slice(lo, hi - lo),
                           os.path.join(target, f"part-{i:05d}.parquet"))
