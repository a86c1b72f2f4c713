"""Scale-growth exponent measurement: run keys at 1x / 3x / 10x the
sf0.1 corpus and fit per-key wall-time-vs-input growth exponents.

This is the round-15 answer to "every 100 TB claim is a plan-shape
argument checked at sf0.1": 1x/3x/10x spans two decades of input
volume (sf0.1 -> sf1.0 equivalent, 6M lineitem rows / 50k docs), the
corpora come from sources/corpus_scale.extend_corpus (realistic
growth — shingle df spread, constant dup rate, self-consistent TPC-H
replicas — NOT exact-twin replication, whose quadratic true-output
artifact poisons the self-join families), and
the fitted exponent turns "linear by design" into a number.

Exponent fit: least-squares slope of log(wall) vs log(factor) over the
three factors. Two exponents are reported per key:

- ``exp_warm`` — fit on min-over-reps (plan cost, machine noise and
  per-dir memo builds excluded; memoized relations are warm from rep 1
  onward for reps>=2).
- ``exp_cold`` — fit on rep 1 (includes each corpus dir's shared-memo
  build: shingle tables, signatures, IVF centroids — the cost a fresh
  cluster pays once per corpus).

Interpretation floor: keys whose 1x wall is ~0.3-0.5 s are overhead-
bound at the small end, which biases the fitted exponent DOWN (the
constant term dominates t(1x)); read exponents together with t(1x).
An exponent <= ~1.15 is linear within noise; O(n log n) over this
range fits ~1.1; anything >= 1.4 is flagged super-linear and needs a
fix or a documented cap proof.

Keys are run key-outer (all factors back-to-back per key) so every
key sees the same memo-warm state in each dir. The session gets
bench.py's ``warm_up``, then one pass of every key over a throwaway 1x
dir, so codegen/Arrow one-time costs are paid before any measurement;
every rep is bench.py's ``time_keys`` region (construction plus the
noop write). A rep that raises reads -1.0 and is left out of ``min``;
an exponent over a factor with no successful rep is null.

Usage: python tools/scale_growth.py [-r REPS] [--factors 1,3,10]
           [--json OUT] [--longtail F] [sf_dir] [key ...]
       default keys = the ABENCH.json slowest-25 cross-section.
       --longtail 0.05 switches the generator to Heaps-law token
       growth (5% of synthesised words are corpus-unique novel
       tokens) — the regime split that separated corpus saturation
       from algorithmic growth in the round-15 containment fix.

Corpus dirs are cached under /tmp/uchr_scale_<base>_<factor>x[_ltN]_
seed42 with a _UCHR_COMPLETE marker so re-runs (and the
fix-then-re-measure loop) skip regeneration; delete to force rebuild.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import time_keys, warm_up  # noqa: E402
from uchr_scetl_spark import clear_caches, get_session, load_registry  # noqa: E402
from uchr_scetl_spark.sources.corpus_scale import extend_corpus  # noqa: E402

SEED = 42
DEFAULT_FACTORS = [1, 3, 10]


def corpus_dir(
    spark, sf_dir: str, factor: int, longtail: float = 0.0, label: str = ""
) -> str:
    base = os.path.basename(os.path.normpath(sf_dir))
    tag = f"_lt{int(longtail * 100)}" if longtail else ""
    out = f"/tmp/uchr_scale_{base}_{label or f'{factor}x{tag}'}_seed{SEED}"
    marker = os.path.join(out, "_UCHR_COMPLETE")
    if os.path.exists(marker):
        return out
    if os.path.exists(out):
        shutil.rmtree(out, ignore_errors=True)
    t0 = time.time()
    extend_corpus(spark, sf_dir, factor, out, seed=SEED, longtail=longtail)
    with open(marker, "w") as f:
        f.write(
            f"source={sf_dir} factor={factor} seed={SEED} "
            f"longtail={longtail}\n"
        )
    print(f"# built {out} in {time.time() - t0:.1f}s", flush=True)
    return out


def fit_exponent(factors: list[int], walls: list[float]) -> float | None:
    """Least-squares log-log slope, rounded to 3 places; None when a
    factor has no successful rep (wall -1.0)."""
    if min(walls) < 0:
        return None
    xs = [math.log(f) for f in factors]
    ys = [math.log(max(w, 1e-6)) for w in walls]
    n = len(xs)
    mx = sum(xs) / n
    my = sum(ys) / n
    denom = sum((x - mx) ** 2 for x in xs)
    return round(sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / denom, 3)


def abench_keys() -> list[str]:
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "ABENCH.json")
    with open(path) as f:
        d = json.load(f)
    return sorted(d["keys"], key=lambda k: -d["keys"][k]["min"])


def main() -> int:
    args = sys.argv[1:]
    reps = 3
    json_out = None
    factors = list(DEFAULT_FACTORS)
    longtail = 0.0
    while args and args[0] in ("-r", "--json", "--factors", "--longtail"):
        if args[0] == "-r":
            reps = int(args[1])
        elif args[0] == "--json":
            json_out = args[1]
        elif args[0] == "--longtail":
            # token-space growth regime: fraction of synthesised words
            # rewritten to corpus-unique novel tokens (Heaps-law tail);
            # 0 = saturated fixed-vocab regime (the default, and the
            # posting-join worst case)
            longtail = float(args[1])
        else:
            factors = [int(x) for x in args[1].split(",")]
        args = args[2:]
    sf_dir = "/root/testdata/sf0.1"
    if args and os.path.isdir(args[0]):
        sf_dir = args[0]
        args = args[1:]
    keys = list(args) or abench_keys()

    spark = get_session("uchr-scale-growth")
    warm_up(spark)
    registry = load_registry()
    unknown = [k for k in keys if k not in registry]
    if unknown:
        raise SystemExit(f"unknown keys: {unknown}")

    dirs = {f: corpus_dir(spark, sf_dir, f, longtail) for f in factors}
    # per-key warm pass on a throwaway 1x dir: pays each key's
    # codegen/classloading once, and (because memos key on the dir)
    # leaves every measured dir's memos COLD so rep 1 captures each
    # dir's build fairly
    warm = corpus_dir(spark, sf_dir, 1, label="warm")
    for _ in time_keys(spark, registry, keys, warm):
        pass
    print(f"# warmup done ({len(keys)} keys)", flush=True)

    results: dict[str, dict] = {}
    for key in keys:
        row: dict = {"factors": {}}
        for f in factors:
            # a rep that raised reads -1.0; "min" covers the others
            [(_, walls)] = time_keys(spark, registry, [key], dirs[f], reps)
            row["factors"][str(f)] = {
                "reps": walls,
                "min": min([w for w in walls if w >= 0] or [-1.0]),
                "cold": walls[0],
            }
        mins = [row["factors"][str(f)]["min"] for f in factors]
        colds = [row["factors"][str(f)]["cold"] for f in factors]
        row["exp_warm"] = fit_exponent(factors, mins)
        row["exp_cold"] = fit_exponent(factors, colds)
        results[key] = row
        print(
            f"{key:36s} "
            + "  ".join(f"{f}x:{m:6.2f}s" for f, m in zip(factors, mins))
            + "  "
            + " ".join(
                f"{e}=" + ("n/a" if row[e] is None else f"{row[e]:+.2f}")
                for e in ("exp_warm", "exp_cold")
            ),
            flush=True,
        )

    for d in dirs.values():
        clear_caches(d)
    clear_caches(warm)

    if json_out:
        with open(json_out, "w") as f:
            json.dump(
                {
                    "sf_dir": sf_dir,
                    "factors": factors,
                    "reps": reps,
                    "seed": SEED,
                    "longtail": longtail,
                    "keys": results,
                },
                f,
                indent=1,
                sort_keys=True,
            )
        print(f"# wrote {json_out}", flush=True)
    flagged = {k: v["exp_warm"] for k, v in results.items() if (v["exp_warm"] or 0) >= 1.4}
    if flagged:
        print(f"# SUPER-LINEAR (exp_warm >= 1.4): {flagged}", flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
