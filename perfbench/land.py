"""Lands a run's inputs: each table is rewritten as three files whose rows,
and their order, the seed chooses. The content never changes with the seed,
so every output hash must stay the same; only the physical layout Spark
reads differs. The file count is fixed so that the amount of work per run
does not depend on the seed.
"""
import os
import zlib

import numpy as np
import pyarrow.parquet as pq

FILES = 3
# tables each workload reads
TABLES = {
    "finance": ["orders", "lineitem", "customer", "nation", "region"],
    "corpus_ann": ["documents", "embeddings", "region"],
}


def land(src, dst, tables, seed):
    for name in tables:
        table = pq.read_table(os.path.join(src, f"{name}.parquet"))
        rng = np.random.default_rng([seed, zlib.crc32(name.encode())])
        table = table.take(rng.permutation(table.num_rows))
        out = os.path.join(dst, f"{name}.parquet")
        os.makedirs(out)
        for i, part in enumerate(np.array_split(np.arange(table.num_rows), FILES)):
            # int96 timestamps, as Spark wrote the source tables
            pq.write_table(table.take(part), os.path.join(out, f"part-{i:05d}.parquet"),
                           use_deprecated_int96_timestamps=True)
