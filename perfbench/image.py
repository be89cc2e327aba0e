"""Seeded input image: the committed base tables with each table's rows
permuted and split into a seed-chosen number of parquet files.

Row content is never changed, so every oracle answer is the same for all
seeds; what the seed varies is row order (sort, window and dedup inputs
arrive shuffled) and the file count, which sets the scan's task count.
"""
import os
import shutil

import numpy as np
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]
MAX_FILES = 8


def build(base_dir, seed, out_dir):
    """Write the seeded image of `base_dir` under `out_dir` (replaced if
    present) as `<table>.parquet/part-NNNNN.parquet` directories. Returns
    {table: {"rows": n, "files": k}}."""
    rng = np.random.default_rng(seed)
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    layout = {}
    for t in TABLES:
        table = pq.read_table(os.path.join(base_dir, t + ".parquet"))
        n = table.num_rows
        table = table.take(rng.permutation(n))
        k = int(min(n, rng.integers(1, MAX_FILES + 1)))
        cuts = np.linspace(0, n, k + 1).astype(int)
        tdir = os.path.join(tmp, t + ".parquet")
        os.makedirs(tdir)
        for i in range(k):
            pq.write_table(table.slice(cuts[i], cuts[i + 1] - cuts[i]),
                           os.path.join(tdir, "part-%05d.parquet" % i))
        layout[t] = {"rows": n, "files": k}
    shutil.rmtree(out_dir, ignore_errors=True)
    os.rename(tmp, out_dir)
    return layout


def table_stats(image_dir):
    """{table: {"rows", "bytes"}} of an image directory (either layout:
    one file per table, or a directory of part files)."""
    stats = {}
    for t in TABLES:
        p = os.path.join(image_dir, t + ".parquet")
        files = ([p] if os.path.isfile(p) else
                 [os.path.join(p, f) for f in sorted(os.listdir(p))
                  if f.endswith(".parquet")])
        stats[t] = {
            "rows": sum(pq.ParquetFile(f).metadata.num_rows for f in files),
            "bytes": sum(os.path.getsize(f) for f in files)}
    return stats
