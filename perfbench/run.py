#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout of the engine. Workloads: query_mix (a
closed loop over registered Spark queries, see spark_bench.py) and
nats_pubsub (the reference's subscriber hot path, see nats_bench.py).

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. A line before it
names the end-to-end figures and ``failed_frac``. The full result (run
metadata, failures, spans) is written to ``perfbench/results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)

WORKLOAD_NAMES = ("query_mix", "nats_pubsub")


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "node_cdc_nats_spark")):
        print(f"engine package not found under {ROOT}", file=sys.stderr)
        return 2

    # Everything the run writes stays inside the checkout.
    work = os.path.join(BENCH_DIR, ".work", f"{args.workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_SUBMIT_OPTS"] = (
        os.environ.get("SPARK_SUBMIT_OPTS", "") + f" -Djava.io.tmpdir={tmp}"
    ).strip()
    # The engine's default driver heap is 16g; the sf0.01 inputs need far
    # less, and a smaller ceiling keeps the JVM's peak RSS (a reported
    # metric) from following the heap sizing of a larger machine.
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    sys.path.insert(0, ROOT)
    cwd = os.getcwd()
    os.chdir(work)

    from perfbench.common import E2E_UNITS, loadavg, metadata, per_layer_units

    meta = metadata(ROOT, args.workload, args.seed, args.seconds, bool(args.trace))
    ctx = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": bool(args.trace),
        "data_dir": os.path.join(BENCH_DIR, ".data"),
        "oracle_cache": os.path.join(BENCH_DIR, ".oracle_cache"),
    }
    try:
        if args.workload == "nats_pubsub":
            from perfbench import nats_bench as bench
        else:
            from perfbench import spark_bench as bench
        res = bench.run(ctx)
    finally:
        os.chdir(cwd)
        shutil.rmtree(work, ignore_errors=True)
    meta["loadavg_after"] = loadavg()
    meta["workload_definition"] = res["detail"]

    if args.trace:
        traced = dict(res["layers"], **{f"traced.{k}": v for k, v in res["e2e"].items()})
        units = per_layer_units()
        metrics = {k: (traced.get(k, 0.0), u) for k, u in units.items()}
    else:
        metrics = {k: (res["e2e"][k], u) for k, u in E2E_UNITS.items()}
    failed_frac = res["failed"] / res["attempted"]
    out = {
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }

    results = os.path.join(BENCH_DIR, "results")
    os.makedirs(results, exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S")
    path = os.path.join(results, f"{args.workload}-t{args.trace}-s{args.seed}-{stamp}-{os.getpid()}.json")
    with open(path, "w") as f:
        json.dump({"meta": meta, "result": out, "e2e": res["e2e"],
                   "layers": res["layers"], "failed_frac": failed_frac,
                   "failures": res["failures"], "spans": res["spans"]}, f)

    for msg in res["failures"]:
        print(f"FAILED {msg}", file=sys.stderr)
    summary = " ".join(f"{k}={v:.6g}{E2E_UNITS[k]}" for k, v in res["e2e"].items())
    print(f"{args.workload} seed={args.seed} {summary} failed_frac={failed_frac:.4g} "
          f"({res['failed']}/{res['attempted']}) results={os.path.relpath(path, ROOT)}")
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
