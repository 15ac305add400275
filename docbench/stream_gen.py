"""Open-loop arrival generator for the ``ingest_stream`` workload.

Runs as its own process so its schedule never slows when Spark does:

    python3 docbench/stream_gen.py --seed 1 --seconds 18 --t0 <epoch> \\
        --dir <landing dir> --log <log.jsonl>

Every ``STREAM_TICK_S`` it writes one parquet file holding the documents
due in that tick, with ``ts`` set to each document's due time. A file is
written under a hidden name and renamed, so the stream never reads a
partial file. One log line per file records when it was due and when it
landed; the difference is the generator's lateness.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from datetime import datetime, timezone

import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import inputs  # noqa: E402  (sibling module, importable only after the path insert)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--t0", type=float, required=True)
    ap.add_argument("--dir", required=True)
    ap.add_argument("--log", required=True)
    args = ap.parse_args()

    plan = inputs.stream_input(args.seed, args.seconds)
    tick = inputs.STREAM_TICK_S
    n_ticks = int(round(args.seconds / tick))
    os.makedirs(args.dir, exist_ok=True)
    i = 0
    with open(args.log, "w") as log:
        for k in range(n_ticks):
            due = args.t0 + (k + 1) * tick
            lo = i
            while i < len(plan.docs) and plan.due[i] < (k + 1) * tick:
                i += 1
            rows = plan.docs[lo:i]
            ts = [datetime.fromtimestamp(args.t0 + plan.due[j], tz=timezone.utc) for j in range(lo, i)]
            table = pa.Table.from_arrays(
                [pa.array([r[0] for r in rows], pa.string()),
                 pa.array([r[1] for r in rows], pa.string()),
                 pa.array(ts, inputs.STREAM_SCHEMA.field("ts").type)],
                schema=inputs.STREAM_SCHEMA,
            )
            delay = due - time.time()
            if delay > 0:
                time.sleep(delay)
            name = f"part-{k:06d}.parquet"
            pq.write_table(table, os.path.join(args.dir, "." + name))
            os.rename(os.path.join(args.dir, "." + name), os.path.join(args.dir, name))
            log.write(json.dumps({"file": name, "due": due, "landed": time.time(), "rows": len(rows)}) + "\n")
            log.flush()


if __name__ == "__main__":
    main()
