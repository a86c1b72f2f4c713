"""A/B timing harness: run the named registry keys R times each inside
ONE warmed session and print per-rep wall times plus min/median.

The session warm-up and the timed region (key construction plus the
noop write) are bench.py's own ``warm_up``/``time_keys``; only the
rep count differs. Where bench.py takes one cold shot per key, this exists to separate plan cost from machine noise
when iterating on a single operator: the min over reps is stable under
background load, and back-to-back reps in one process share identical
JVM/codegen state. A rep that raises is recorded as -1.0 in ``reps``
and left out of min/median.
Keys whose cost lives in a per-session memo (dedup_* caches) are only
meaningfully measured on rep 1 — later reps hit the memo; interpret
accordingly (or use bench.py for those).

The committed ABENCH.json artifact (regenerated at each round close —
see BASELINE.md "Warm-median bench") is produced by

    python tools/abench.py -r 3 --slowest 25 --json ABENCH.json

--slowest N picks the N keys with the largest per-key wall time in the
committed BENCH_LOCAL.json, so the artifact tracks whatever is
currently expensive; --json writes machine-readable per-key
min/median/reps. Warm medians with in-process controls are the
cross-round comparison currency — single cold shots (driver tails,
BENCH_LOCAL totals) drift ±10-15% with machine load and have burned
two rounds of watch-key adjudication.

Usage: python tools/abench.py [-r REPS] [--slowest N] [--json OUT]
                              [sf_dir] [key ...]
"""

from __future__ import annotations

import json
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import time_keys, warm_up  # noqa: E402
from uchr_scetl_spark import get_session, load_registry  # noqa: E402


def main() -> int:
    args = sys.argv[1:]
    reps = 3
    json_out = None
    slowest = 0
    while args and args[0] in ("-r", "--json", "--slowest"):
        if args[0] == "-r":
            reps = int(args[1])
        elif args[0] == "--json":
            json_out = args[1]
        else:
            slowest = int(args[1])
        args = args[2:]
    sf_dir = "/root/testdata/sf0.1"
    if args and os.path.isdir(args[0]):
        sf_dir = args[0]
        args = args[1:]
    keys = list(args)
    if slowest:
        base = os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "BENCH_LOCAL.json",
        )
        with open(base) as fh:
            timings = json.load(fh)["queries"]
        ranked = sorted(timings, key=lambda k: -timings[k])
        keys.extend(k for k in ranked[:slowest] if k not in keys)
    registry = load_registry()
    spark = get_session("uchr-abench")
    warm_up(spark)
    results = {}
    for key, times in time_keys(spark, registry, keys, sf_dir, reps):
        # error reps stay in "reps" as -1.0; min/med cover the others
        ok = [t for t in times if t >= 0] or [-1.0]
        lo, med = min(ok), round(statistics.median(ok), 3)
        results[key] = {"min": lo, "med": med, "reps": times}
        reps_s = " ".join(f"{t:6.2f}" for t in times)
        print(f"{key:30s} min={lo:6.2f} med={med:6.2f}  reps: {reps_s}", flush=True)
    if json_out:
        with open(json_out, "w") as fh:
            json.dump(
                {"sf_dir": sf_dir, "reps": reps, "keys": results},
                fh,
                indent=1,
                sort_keys=True,
            )
            fh.write("\n")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
