"""Benchmark entry point.

    python3 perfbench/run.py --workload ingest_drain --seed 1 --seconds 10 --trace 0

Runs one workload from a seed, checks the output against a reference
computation, prints every metric by name with its unit, and ends with
one JSON line: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end metrics of BENCHMARK.json;
with ``--trace 1`` the run is traced and reports the per-layer metrics.
Exits non-zero without a result when the package under test is absent
or a check cannot run. On every way out, the processes the run started
(the generator, the JVM, Spark's Python workers) are stopped and waited
for.
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

WORKLOADS = ("ingest_drain", "corpus_dedup")

#: name -> unit, in BENCHMARK.json order
END_TO_END = {
    "setup_s": "s",
    "latency_p50_s": "s",
    "latency_p99_s": "s",
    "docs_per_s": "docs/s",
}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    try:
        import aether_firebase_consumer_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the package under test is missing: {e}",
              file=sys.stderr)
        return 2
    from perfbench import common, layers
    common.become_subreaper()
    # a SIGTERM unwinds like an error, so the processes still stop
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        result = layers.run_workload(args.workload, args.seed, args.seconds,
                                     bool(args.trace), T_START)
    finally:
        common.stop_processes()
    for name, (value, unit) in result["report"].items():
        print(f"{args.workload} {name} {value:.6g} {unit}")
    print(json.dumps({
        "correct": result["correct"],
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in result["metrics"].items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
