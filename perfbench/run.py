"""Benchmark entry point.

    python3 perfbench/run.py --workload trapi-serve --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  Generates the workload's inputs from the
seed, measures, checks every output, and prints one JSON object as the last
line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the ``end_to_end`` ones named in
``BENCHMARK.json``; with ``--trace 1`` the ``per_layer`` ones, and the
span tree is written to ``.perfbench_out/``.  The line before the last is
a report with the host, the workload's own named figures and, when traced,
the self time of each layer.  All generated data lives in
``.perfbench_work/`` and is removed on exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

WORKLOADS = ("trapi-serve", "catalog")


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        return json.load(f)


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "ploverdb_spark", "session.py")):
        print("perfbench: no ploverdb_spark package next to perfbench/; "
              "run from the root of a full checkout", file=sys.stderr)
        return 2
    spec = _spec()
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # engine processes and Spark's Python workers import the package too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    import hostspark

    hostspark.size_from_host()
    try:
        if args.workload == "trapi-serve":
            import serve_workload as wl
        else:
            import catalog_workload as wl
        res = wl.run(args.seed, args.seconds, bool(args.trace), work)
    except Exception:  # noqa: BLE001 — reported, and no result line printed
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)

    report = {"workload": args.workload, "seed": args.seed,
              "host": hostspark.host_record(), "failed_frac": res["failed_frac"],
              **res["report"]}
    if args.trace:
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"trace-{args.workload}-seed{args.seed}.json")
        with open(path, "w", encoding="utf-8") as f:
            json.dump(res["trace"], f)
        report["trace_file"] = os.path.relpath(path, ROOT)
        report["self_time"] = {k: v for k, v in res["trace"].items() if k != "spans"}
        wanted = spec["per_layer"]
        values = dict(res["layers"], failed_frac=res["failed_frac"])
    else:
        wanted = spec["end_to_end"]
        values = res["metrics"]
    missing = [m["name"] for m in spec["end_to_end"] if m["name"] not in res["metrics"]]
    if missing:
        print(f"perfbench: workload produced no {missing}", file=sys.stderr)
        return 1
    metrics = {
        m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
        for m in wanted
    }
    print(json.dumps(report, default=float))
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
