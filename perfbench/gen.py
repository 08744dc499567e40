"""Seeded input for the beacon_ingest workload.

It is derived from the sf0.1 test tables in the replication shape of
`dev/make_sf1.py`: replicas of `events` with shifted ids. The seed picks
the rows each replica keeps and the user-id offset of each replica, so
every seed gives a different input of the same size. Tables a workload does not
vary are copied unchanged, so each input directory is complete.

    python3 perfbench/gen.py <workload> <seed> <base_dir> <out_dir>
"""
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

# events: EVENT_REPLICAS replicas, each keeping EVENT_KEEP of the source
# rows, so the generated table has EVENT_REPLICAS * EVENT_KEEP times the
# source's rows (1.0x sf0.1 = 100,000 rows)
EVENT_REPLICAS = 2
EVENT_KEEP = 0.5


def events(src, rng):
    ev = pq.read_table(os.path.join(src, "events.parquet"))
    n = ev.num_rows
    max_user = pc.max(ev.column("user_id")).as_py() + 1
    keep = int(n * EVENT_KEEP)
    parts = []
    for r in range(EVENT_REPLICAS):
        rows = np.sort(rng.choice(n, keep, replace=False))
        t = ev.take(pa.array(rows))
        shift = int(rng.integers(0, max_user))
        users = (t.column("user_id").to_numpy() + shift) % max_user + r * max_user
        t = t.set_column(t.schema.get_field_index("user_id"), "user_id", pa.array(users))
        t = t.set_column(t.schema.get_field_index("event_id"), "event_id",
                         pc.add(t.column("event_id"), r * n))
        parts.append(t)
    return pa.concat_tables(parts), 25000


GENERATED = {"beacon_ingest": {"events": events}}


def generate(workload, seed, src, dst):
    """Writes the workload's input for `seed` to `dst` (once: an existing
    complete directory is kept) and returns `dst`."""
    done = os.path.join(dst, "_COMPLETE")
    if os.path.exists(done):
        return dst
    tmp = dst + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    rng = np.random.default_rng(seed)
    made = GENERATED[workload]
    for t in TABLES:
        out = os.path.join(tmp, f"{t}.parquet")
        if t in made:
            table, row_group = made[t](src, rng)
            pq.write_table(table, out, row_group_size=row_group)
        else:
            shutil.copyfile(os.path.join(src, f"{t}.parquet"), out)
    open(os.path.join(tmp, "_COMPLETE"), "w").close()
    shutil.rmtree(dst, ignore_errors=True)
    os.rename(tmp, dst)
    return dst


def describe(d):
    """Rows and bytes of each table under `d`."""
    return {t: (pq.ParquetFile(os.path.join(d, f"{t}.parquet")).metadata.num_rows,
                os.path.getsize(os.path.join(d, f"{t}.parquet"))) for t in TABLES}


if __name__ == "__main__":
    wl, seed, src, dst = sys.argv[1], int(sys.argv[2]), sys.argv[3], sys.argv[4]
    generate(wl, seed, src, dst)
    for t, (rows, size) in describe(dst).items():
        print(f"{t:12s} {rows:8d} rows {size:10d} bytes")
