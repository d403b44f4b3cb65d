"""Open-loop outbox writer for the ``live_tail`` workload.

Runs as its own single-threaded process (pyarrow only, no Spark) and
appends small UPDATE files to the outbox on a fixed schedule that never
waits for the relay: file ``i`` is due at ``start + i / files_per_s``.
Each file is written under a hidden ``.tmp-*`` name (the file source
skips names starting with ``.``) and then atomically renamed into the
outbox, so the relay never sees a half-written file. Every event's
``created_at`` is its file's due time, so a generator stall counts
against delivery latency instead of hiding it; how late each file
landed is logged.

Usage::

    python3 perfbench/loadgen.py --outbox DIR --log FILE --seed N \
        --start EPOCH_S --seconds S --rate 2500 --files-per-s 10 --keys 50000

Event ids run from 1 in schedule order. The log is one JSON object per
file: ``file``, ``rows``, ``first_id``, ``due`` and ``done`` (epoch
seconds, ``done`` taken after the rename).
"""

from __future__ import annotations

import argparse
import json
import os
import time
import uuid

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The outbox envelope (pg2kafka_spark.event.EVENT_SCHEMA) as parquet.
ARROW_SCHEMA = pa.schema(
    [
        pa.field("id", pa.int64(), nullable=False),
        pa.field("uuid", pa.string(), nullable=False),
        pa.field("external_id", pa.string()),
        pa.field("table_name", pa.string(), nullable=False),
        pa.field("statement", pa.string(), nullable=False),
        pa.field("data", pa.string(), nullable=False),
        pa.field("created_at", pa.timestamp("us", tz="UTC"), nullable=False),
        pa.field("processed", pa.bool_(), nullable=False),
    ]
)


def update_file(
    rng: np.random.Generator, first_id: int, rows: int, n_keys: int, due: float
) -> pa.Table:
    """``rows`` UPDATE events on ``orders`` with ids ``first_id..``,
    uniform keys, and a one-column price diff as the payload."""
    keys = rng.integers(1, n_keys + 1, rows)
    prices = np.round(rng.uniform(900.0, 500_000.0, rows), 2)
    raw = rng.bytes(16 * rows)
    return pa.table(
        {
            "id": np.arange(first_id, first_id + rows, dtype=np.int64),
            "uuid": [str(uuid.UUID(bytes=raw[16 * i: 16 * i + 16], version=4)) for i in range(rows)],
            "external_id": keys.astype(str).astype(object),
            "table_name": ["orders"] * rows,
            "statement": ["UPDATE"] * rows,
            "data": ['{"o_totalprice":%r}' % float(p) for p in prices],
            "created_at": pa.array([int(due * 1e6)] * rows, pa.timestamp("us", tz="UTC")),
            "processed": [False] * rows,
        },
        schema=ARROW_SCHEMA,
    )


def run(
    outbox: str,
    log_path: str,
    seed: int,
    start: float,
    seconds: float,
    rate: int,
    files_per_s: int,
    n_keys: int,
) -> None:
    rng = np.random.default_rng(seed)
    rows = rate // files_per_s
    n_files = int(seconds * files_per_s)
    os.makedirs(outbox, exist_ok=True)
    with open(log_path, "w") as log:
        for i in range(n_files):
            due = start + i / files_per_s
            first_id = 1 + i * rows
            table = update_file(rng, first_id, rows, n_keys, due)
            wait = due - time.time()
            if wait > 0:
                time.sleep(wait)
            name = f"part-{i:06d}.parquet"
            tmp = os.path.join(outbox, f".tmp-{name}")
            pq.write_table(table, tmp)
            os.rename(tmp, os.path.join(outbox, name))
            done = time.time()
            log.write(json.dumps({"file": name, "rows": rows, "first_id": first_id,
                                  "due": due, "done": done}) + "\n")
            log.flush()


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--outbox", required=True)
    p.add_argument("--log", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--start", type=float, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--rate", type=int, required=True)
    p.add_argument("--files-per-s", type=int, required=True)
    p.add_argument("--keys", type=int, required=True)
    a = p.parse_args()
    run(a.outbox, a.log, a.seed, a.start, a.seconds, a.rate, a.files_per_s, a.keys)


if __name__ == "__main__":
    main()
