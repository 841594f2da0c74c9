#!/usr/bin/env python3
"""Tracing overhead: each end-to-end metric of a traced run against the
untraced run of the same workload and seed.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0
    python3 perfbench/run.py --workload W --seed N --seconds S --trace 1
    python3 perfbench/overhead.py W N

Reads the two run records under .bench_build/perfbench/results/. The
sdk_http traced run uses one client instead of min(4, nproc), so its
throughput and latencies differ from the untraced run by design as well
as by tracing; its own end-to-end numbers are the base for its per-layer
numbers.
"""

import json
import pathlib
import sys

RESULTS = pathlib.Path(__file__).resolve().parent.parent / ".bench_build" / "perfbench" / "results"


def main():
    if len(sys.argv) != 3:
        print(__doc__, file=sys.stderr)
        return 2
    workload, seed = sys.argv[1], sys.argv[2]
    runs = []
    for t in (0, 1):
        path = RESULTS / f"{workload}-s{seed}-t{t}.json"
        if not path.exists():
            print(f"missing {path}", file=sys.stderr)
            return 1
        runs.append(json.loads(path.read_text())["end_to_end"])
    base, traced = runs
    print(f"{'metric':18s} {'untraced':>12s} {'traced':>12s} {'traced/untraced':>16s}")
    for name in base:
        b, t = base[name], traced.get(name)
        ratio = f"{t / b:16.3f}" if b and t is not None else f"{'-':>16s}"
        print(f"{name:18s} {b:12.4g} {t if t is not None else float('nan'):12.4g} {ratio}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
