"""Repository benchmark: one command, four workloads.

    python3 docbench/run.py --workload extract --seed 1 --seconds 8 --trace 0

Run it from the root of a checkout. It builds its inputs from ``--seed``,
runs the shipped jobs in-process on one local Spark session, checks
every output, and prints one JSON object as its last stdout line:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics of BENCHMARK.json, ``--trace 1`` the per-layer
ones. A run record (host health, repeat times, failures) goes to stderr
and, with the spans of a traced run, to ``.bench_work/records/``.
See docbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("extract", "dedup", "ingest_stream", "extract_skew")
NEEDED = ("BENCHMARK.json", "donut_spark/__init__.py", "submit/run_extract.py", "submit/run_dedup.py")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    missing = [p for p in NEEDED if not os.path.isfile(os.path.join(root, p))]
    if missing:
        print(f"docbench: run from a repository checkout; missing {missing}", file=sys.stderr)
        return 2
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = spec["per_layer" if args.trace else "end_to_end"]

    # every file the run writes (Spark scratch, temp files, outputs)
    # stays inside the checkout
    scratch = os.path.join(root, ".bench_work", "tmp")
    os.makedirs(scratch, exist_ok=True)
    os.environ["TMPDIR"] = scratch
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = scratch
    java_opts = f"-Djava.io.tmpdir={scratch} -XX:-UsePerfData"
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, [os.environ.get("JAVA_TOOL_OPTIONS"), java_opts]))
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [root, os.environ.get("PYTHONPATH")]))
    sys.path[:0] = [HERE, root]

    import workloads as w

    run = w.Run(root, args.workload, args.seed, args.seconds, bool(args.trace))
    try:
        if args.workload == "ingest_stream":
            w.run_stream(run)
        else:
            kind = {"extract": w.Extract, "extract_skew": w.ExtractSkew, "dedup": w.Dedup}[args.workload]
            w.run_batch(run, kind(run))
    except Exception:  # noqa: BLE001 — report the failure, print no result
        traceback.print_exc()
        return 1
    finally:
        run.close()
        host = run.host.finish()
    for key in ("pyloop_s", "crc32_s", "steal_s", "peak_rss_mb"):
        run.layer[f"host.{key}"] = host[key]
    run.record["host"] = host
    run.record["layers"] = run.layer
    run.record["metrics"] = run.metrics

    values = run.layer if args.trace else run.metrics
    if not args.trace and any(m["name"] not in values for m in wanted):
        print(f"docbench: no value for some of {[m['name'] for m in wanted]}", file=sys.stderr)
        return 1
    bypassed = [m["name"] for m in wanted if m["name"] not in values]
    if args.trace and bypassed:
        print(f"docbench: layers this workload bypasses read 0: {bypassed}", file=sys.stderr)
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]} for m in wanted}

    records = os.path.join(root, ".bench_work", "records")
    os.makedirs(records, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(records, name), "w") as f:
        json.dump({"record": run.record, "spans": run.tracer.spans}, f, default=str)
    print("\n" + json.dumps(run.record, default=str), file=sys.stderr)
    print(json.dumps({"correct": run.failed == 0, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
