"""Run one benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --driver-mem 2g --serve-rate 40 \
        --workload serve --seed 1 --seconds 4 --trace 0

Run from the root of a checkout. The engine package must sit beside
``perfbench/``; without it the run exits with code 2 and prints no result.
Inputs come from ``--seed`` only. Everything the run writes goes to a
temporary directory under ``.perfbench/`` that is removed at the end;
with ``--trace 1`` the spans are kept in ``.perfbench/traces/``.

The last stdout line is
``{"correct": bool, "attempted": int, "failed": int, "metrics": {...}}``:
the end-to-end metrics of BENCHMARK.json untraced, its per-layer metrics
traced.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=("serve", "batch"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--driver-mem", required=True,
                   help="Spark driver heap; the engine's own default assumes a bigger box")
    p.add_argument("--serve-rate", type=float, required=True,
                   help="open-loop requests per second of the serve workload")
    return p.parse_args(argv)


def configure_env(workdir: str) -> None:
    """Run settings, set before the JVM starts so it and Spark's Python
    workers inherit them."""
    cpus = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "spark-local")
    # Spark's Python workers import the engine by name
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")


def main(argv=None) -> int:
    args = parse(argv)
    # Measure the engine of this checkout, never an installed copy.
    if not os.path.isdir(os.path.join(ROOT, "webscale_vector_search_spark")):
        print(f"perfbench: no engine package in {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    import report
    import workloads
    from tracer import Tracer

    spec = report.load_spec(ROOT)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = args.driver_mem
    base = os.path.join(ROOT, ".perfbench")
    os.makedirs(base, exist_ok=True)
    workdir = tempfile.mkdtemp(prefix=f"run-{args.workload}-{args.seed}-", dir=base)
    configure_env(workdir)
    run = workloads.Run(workdir=workdir, seed=args.seed, seconds=args.seconds,
                        serve_rate=args.serve_rate, tracer=Tracer(bool(args.trace)))
    try:
        workloads.WORKLOADS[args.workload](run)
        if args.trace:
            values = report.layer_values(run.tracer, run.m)
            os.makedirs(os.path.join(base, "traces"), exist_ok=True)
            run.tracer.write(os.path.join(
                base, "traces", f"{args.workload}-seed{args.seed}.jsonl"))
        else:
            values = run.m
        result = {
            "correct": run.ledger.failed == 0,
            "attempted": run.ledger.attempted,
            "failed": run.ledger.failed,
            "metrics": report.metrics(spec, bool(args.trace), values),
        }
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
    for note in run.ledger.notes:
        print(f"perfbench: failed: {note}", file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
