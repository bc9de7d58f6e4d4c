"""Benchmark of the extraction engine: one command, two workloads.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout.  Prints a report, then as its last line
one JSON object: {"correct", "attempted", "failed", "metrics"}.  With
--trace 0 the metrics are the end-to-end metrics of BENCHMARK.json, with
--trace 1 its per-layer metrics.  Exits non-zero, without the JSON line,
when an output check fails or the engine is not in the checkout.
Workloads, metrics and the layer map: perfbench/README.md.
"""

from __future__ import annotations

import argparse
import importlib
import shutil
import signal
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from perfbench import common  # noqa: E402

WORKLOADS = {
    "job_mixed": "perfbench.job_mixed",
    "extract_1core": "perfbench.extract_1core",
}


def main(argv: list[str] | None = None) -> int:
    # every process the run starts ends before it returns, on every path:
    # SIGTERM unwinds through the finally below like an exception
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    common.adopt_orphans()
    try:
        return _main(argv)
    finally:
        common.end_descendants()


def _main(argv: list[str] | None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    common.require_program()
    declared = common.load_declared()
    workload = importlib.import_module(WORKLOADS[args.workload])
    weather = common.HostWeather()
    tracer = common.Tracer()
    try:
        res = workload.run(args.seed, args.seconds, bool(args.trace), tracer)
    except common.GateFailure as e:
        print(f"perfbench: output check failed: {e}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(common.run_dir(), ignore_errors=True)
    values = res["values"]
    host = weather.split()
    values["host.steal_pct"] = host["steal_pct"]
    values["host.sys_pct"] = host["sys_pct"]
    if args.trace:
        tracer.dump(common.WORK / f"spans-{args.workload}-seed{args.seed}.json")

    print(f"perfbench {args.workload} seed={args.seed} seconds={args.seconds:g} "
          f"trace={args.trace} nproc={common.nproc()} {res['report']}")
    print("host " + " ".join(f"{k}={v:.1f}" for k, v in host.items()))
    for name in sorted(values):
        print(f"  {name:40s} {values[name]:.6g}")
    print(common.result_line(declared, bool(args.trace), values,
                             correct=True, attempted=res["attempted"], failed=res["failed"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
