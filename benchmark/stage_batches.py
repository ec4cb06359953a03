"""Cuts the events tape into the incremental workload's daily batches.

    python3 stage_batches.py <events.parquet> <out_dir> <seed> <days>

Cut d (d = 0 .. days - 1) is midnight of the tape's first day plus d + 1
days plus one offset of up to four hours that the seed picks. Batch d holds
the events from cut d - 1 (from the tape's start for d = 0) up to cut d, so
every batch after the first spans exactly one day. Events after the last
cut are not staged.

Late rows: the last row of a (user, batch) that lies within 50 minutes of
the batch's cut moves to the next batch with probability 0.3, drawn from
the seed. It is its user's first row there, so every user still sees its
rows in time order, and the sessionizing twin's one-hour watermark delay
drops none of them.

Writes day_00.parquet, day_01.parquet, ... with the tape's columns, each
sorted by (ts, event_id) and with ts stored as a UTC instant (as Spark
writes a timestamp), and plan.json with the cut points (microseconds)
and the number of late rows. The same tape and seed give the same batches.
"""
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DAY_US = 86_400_000_000
MAX_OFFSET_US = 4 * 3_600_000_000
LATE_WITHIN_US = 50 * 60 * 1_000_000
LATE_SHARE = 0.3


def main(src, out, seed, days):
    tape = pq.read_table(src)
    i = tape.schema.get_field_index("ts")
    tape = tape.set_column(i, "ts", tape.column(i).cast(pa.timestamp("us", tz="UTC")))
    ts = tape.column(i).cast(pa.int64()).to_numpy()
    eid = tape.column("event_id").to_numpy()
    user = tape.column("user_id").to_numpy()
    rng = np.random.default_rng(seed)
    offset = int(rng.random() * MAX_OFFSET_US)
    day0 = ts.min() // DAY_US * DAY_US
    cuts = day0 + DAY_US * np.arange(1, days + 1) + offset

    batch = np.searchsorted(cuts, ts, side="right")
    # the last row of each (batch, user): the next row in this order
    # belongs to another group
    order = np.lexsort((eid, ts, user, batch))
    b, u = batch[order], user[order]
    last = np.ones(len(order), dtype=bool)
    last[:-1] = (b[1:] != b[:-1]) | (u[1:] != u[:-1])
    is_last = np.zeros(len(order), dtype=bool)
    is_last[order] = last
    inside = batch < days
    late = (is_last & inside & (batch < days - 1)
            & (ts >= cuts[np.minimum(batch, days - 1)] - LATE_WITHIN_US)
            & (rng.random(len(ts)) < LATE_SHARE))
    land = batch + late

    os.makedirs(out, exist_ok=True)
    for d in range(days):
        rows = np.flatnonzero(inside & (land == d))
        rows = rows[np.lexsort((eid[rows], ts[rows]))]
        pq.write_table(tape.take(rows), os.path.join(out, f"day_{d:02d}.parquet"))
    with open(os.path.join(out, "plan.json"), "w") as fh:
        json.dump({"cuts_us": [int(c) for c in cuts], "late_rows": int(late.sum())}, fh)


if __name__ == "__main__":
    if len(sys.argv) != 5:
        sys.exit(__doc__)
    main(sys.argv[1], sys.argv[2], int(sys.argv[3]), int(sys.argv[4]))
