"""Seeded stream shards for the stream_refresh workload.

Cuts the events table of one of the testdata copies under perfbench/data into
time-ordered shards, written as `shard-NNNN.parquet` part files with `ts` as
raw nanosecond longs, the layout ScaleGen writes its scaled copies in. The
seed sets the shard boundaries; the same (seed, table, shards) always gives
byte-identical shards. Every other input is the testdata copy itself.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def cut(events_path, out, seed, shards):
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    events = pq.read_table(events_path)
    ts = events.column("ts").cast(pa.timestamp("ns")).to_numpy().astype(np.int64)
    order = np.argsort(ts, kind="stable")
    ordered = events.take(pa.array(order))
    ordered = ordered.set_column(ordered.schema.get_field_index("ts"), "ts",
                                 pa.array(ts[order], pa.int64()))
    # boundaries: seeded cut points within 5% of an even split, so every
    # refresh folds a comparable amount of data whatever the seed
    n = ordered.num_rows
    share = n / shards
    cuts = [0] + [int(k * share + rng.uniform(-0.05, 0.05) * share)
                  for k in range(1, shards)] + [n]
    for k in range(shards):
        part = ordered.slice(cuts[k], cuts[k + 1] - cuts[k])
        pq.write_table(part, os.path.join(out, f"shard-{k:04d}.parquet"),
                       row_group_size=max(1, part.num_rows), compression="snappy")
