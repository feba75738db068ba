#!/usr/bin/env python3
"""Pin the reference triple digest of every op of every workload at full
scale for a range of seeds, with the op count of BENCHMARK.json's
``run_seconds``, into pins.json.

    python3 perfbench/pin.py --seeds 0-99

Pins freeze the engine's output: a later change that alters the triples of
a pinned seed fails the benchmark's digest check until it is re-pinned.
Pins are ignored once the input generator (sources/pages.py or
workloads.py) changes.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", required=True, help="first-last, inclusive")
    args = ap.parse_args()
    first, last = (int(x) for x in args.seeds.split("-"))
    sys.path[:0] = [HERE, REPO]
    import oracle
    import workloads

    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        seconds = json.load(f)["run_seconds"]
    seeds = list(range(first, last + 1))
    digests = {}
    for w in workloads.WORKLOADS.values():
        ops = workloads.n_ops(w, seconds)
        # a few seeds at a time: the reference triples of one seed's
        # inputs take tens of MB
        for lo in range(0, len(seeds), 8):
            ref = oracle.reference_digests(
                w, seeds[lo:lo + 8], ops, len(os.sched_getaffinity(0)), REPO)
            digests.update({f"{w.name}:full:{s}:{k}": d
                            for (s, k), d in ref.items()})
    with open(os.path.join(HERE, "pins.json"), "w") as f:
        json.dump({"generator": workloads.generator_version(),
                   "digests": digests}, f, indent=0, sort_keys=True)
        f.write("\n")
    print(f"pinned {len(digests)} op digests")
    return 0


if __name__ == "__main__":
    sys.exit(main())
