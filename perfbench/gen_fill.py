"""Generated input of the fill workloads.

Rows x~U[0,1), y~N(0,1), z~U[0,1) (doubles) and an integer weight w in
1..4, written as parquet with one file (one row group) per partition. The
same seed always gives the same rows.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# (rows, partitions) per workload. fill_rows: 500,000 rows per partition
# into 10,404 cells, sized so one call does about as much work as a
# fill_bins call, which keeps each timed call long against scheduling noise.
# fill_bins: 122,000 rows per partition into 195,112 cells, 1.6 cells per
# row, the regime of many events into fine 3-D histograms; many small
# partitions keep the tasks balanced over the cores.
LAYOUT = {"fill_rows": (16_000_000, 32), "fill_bins": (5_856_000, 48)}


def write(out_dir, seed, workload):
    rows, partitions = LAYOUT[workload]
    os.makedirs(out_dir, exist_ok=True)
    r = np.random.default_rng(seed)
    t = pa.table({"x": r.random(rows), "y": r.standard_normal(rows), "z": r.random(rows),
                  "w": r.integers(1, 5, rows, dtype=np.int32)})
    per = rows // partitions
    for i in range(partitions):
        part = t.slice(i * per, per if i < partitions - 1 else rows - i * per)
        pq.write_table(part, os.path.join(out_dir, f"part-{i:05d}.parquet"), row_group_size=rows,
                       use_dictionary=["w"])
