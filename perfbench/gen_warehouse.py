"""Seeded row set and operation stream for the `warehouse_upsert` workload.

The table is one `graft-keyed` merge-on-read table with columns
(kb, id, v, day): `kb = id % BUCKETS` is the key (one directory per
bucket) and `v` is clustered by bucket (`kb * 1e6 + x`, x < 1e6), so a
range filter on the non-key column `v` can skip directories through the
stats sidecar.

Files:
- `base.parquet`: the initial rows;
- `merge_<d>.parquet`, `append_<d>.parquet`: each day's MERGE source
  (updates of existing or deleted ids plus new ids) and append batch
  (new ids only);
- `ops.json`: `{"buckets": B, "days": [[op, ...], ...]}`, one list of ops
  per day, in order. Writes: merge, update, delete, append, a compaction
  after every four commits (once a day, so every day has the same op
  kinds), refresh (of the materialized view). Reads between them: point,
  agg, range, asof.

`main(out_dir, seed, rows)` writes `DAYS` days of ops.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BUCKETS = 16
DAYS = 30
SPAN = 1_000_000


def _rows(rng, ids, day):
    ids = np.asarray(ids, dtype=np.int64)
    kb = ids % BUCKETS
    return pa.table({"kb": kb, "id": ids,
                     "v": kb * SPAN + rng.integers(0, SPAN - 100_000, len(ids)),
                     "day": np.full(len(ids), day, dtype=np.int64)})


def main(out, seed, rows):
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    pq.write_table(_rows(rng, np.arange(rows), 0), os.path.join(out, "base.parquet"))
    next_id = rows
    n_merge_old, n_merge_new, n_append = max(rows // 50, 10), max(rows // 200, 5), max(rows // 100, 5)
    schedule = []
    for d in range(1, DAYS + 1):
        old = rng.choice(next_id, size=n_merge_old, replace=False)
        new = np.arange(next_id, next_id + n_merge_new)
        next_id += n_merge_new
        pq.write_table(_rows(rng, np.concatenate([old, new]), d),
                       os.path.join(out, f"merge_{d}.parquet"))
        app = np.arange(next_id, next_id + n_append)
        next_id += n_append
        pq.write_table(_rows(rng, app, d), os.path.join(out, f"append_{d}.parquet"))
        kb = int(rng.integers(0, BUCKETS))
        lo = int(rng.integers(0, SPAN // 2))
        ops = [
            {"op": "merge", "file": f"merge_{d}.parquet"},
            {"op": "point", "id": int(rng.integers(0, next_id))},
            {"op": "update", "mod": 90, "rem": int(rng.integers(0, 90)),
             "add": int(rng.integers(1, 1000))},
            {"op": "agg"},
            {"op": "delete", "mod": 450, "rem": int(rng.integers(0, 450))},
            {"op": "range", "lo": kb * SPAN + lo, "hi": kb * SPAN + lo + SPAN // 4},
            {"op": "append", "file": f"append_{d}.parquet"},
            {"op": "asof", "back": int(rng.integers(1, 3))},
            {"op": "compact"},
            {"op": "refresh"},
        ]
        schedule.append(ops)
    with open(os.path.join(out, "ops.json"), "w") as fh:
        json.dump({"buckets": BUCKETS, "days": schedule}, fh)
