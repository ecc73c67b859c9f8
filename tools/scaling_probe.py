#!/usr/bin/env python
"""Empirical scaling probe: time each headline/TPC-H/LLM query at
sf0.01 and sf0.1 (10× the rows) and report the wall-time ratio. Each
timing is bench.time_key's min-of-N noop write, which computes every
output column.

Reading the ratio at fixture scale:
- ratio ≪ 10: fixed job overhead dominates — the query's data-dependent
  cost is still invisible at this size (most point lookups/aggregates).
- ratio ≈ 10: linear in input — the expected asymptote for scans, hash
  aggregates, and well-bucketed joins.
- ratio ≫ 10: SUPERLINEAR — the red flag this tool exists to catch
  (pair blowup in candidate joins, accidental cross products, windows
  that stopped partitioning). Anything over SUPERLINEAR_RATIO prints a
  warning line and exits non-zero so CI can gate on it.

Run: python tools/scaling_probe.py  (add --suite llm|headline|tpch;
--suite registry sweeps EVERY registered key with --repeats 1 — the
full-coverage scale audit regenerated per round into
SCALING_PROBE_FULL.json)
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from oke_cassandra_spark_locality_demo_spark import registry
from oke_cassandra_spark_locality_demo_spark.session import build_session

from bench import HEADLINE, LLM_SECONDARY, time_key

SF_SMALL = "/root/testdata/sf0.01"
SF_BIG = "/root/testdata/sf0.1"
#: wall-ratio above which a 10× data step is flagged superlinear. 14 =
#: 10× linear growth + generous headroom for fixture-scale noise; the
#: real pathologies this catches (quadratic pair joins, cross products)
#: land at 30-100×.
SUPERLINEAR_RATIO = 14.0


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--suite", choices=["headline", "tpch", "llm", "all",
                                        "registry"],
                    default="all")
    ap.add_argument("--repeats", type=int, default=3)
    ap.add_argument("--keys", nargs="+", default=None,
                    help="probe exactly these registry keys (repeatable "
                         "runs of this give the variance picture for a "
                         "flagged ratio — VERDICT r9 item 6)")
    args = ap.parse_args()
    spark = build_session(app_name="scaling-probe")
    qs = registry.all_queries()
    tpch = sorted(
        (q for q in qs if q.startswith("q_tpch_q")),
        key=lambda s: int(s[len("q_tpch_q"):]),
    )
    suites = {"headline": HEADLINE, "tpch": tpch, "llm": LLM_SECONDARY}
    if args.keys:
        unknown = [k for k in args.keys if k not in qs]
        if unknown:
            print(f"unknown keys: {' '.join(unknown)}", file=sys.stderr)
            sys.exit(2)
        names = args.keys
    elif args.suite == "registry":
        names = sorted(qs)
    elif args.suite != "all":
        names = suites[args.suite]
    else:
        names = HEADLINE + tpch + LLM_SECONDARY
    rows, flagged = [], []
    for name in names:
        fn = qs[name]
        # warm both paths once so codegen/IO caches and any trained-state
        # memos (BPE/IVF) are charged to neither measurement
        time_key(spark, fn, SF_SMALL, 1)
        time_key(spark, fn, SF_BIG, 1)
        t_small = time_key(spark, fn, SF_SMALL, args.repeats)
        t_big = time_key(spark, fn, SF_BIG, args.repeats)
        ratio = t_big / t_small if t_small > 0 else float("inf")
        rows.append({"query": name, "sf001_sec": t_small,
                     "sf01_sec": t_big, "ratio": round(ratio, 2)})
        if ratio > SUPERLINEAR_RATIO:
            flagged.append((name, ratio))
    print(json.dumps({"probe": "scaling_10x", "queries": rows,
                      "superlinear": [n for n, _ in flagged]}))
    for name, ratio in flagged:
        print(f"WARNING superlinear: {name} {ratio:.1f}x wall for 10x data",
              file=sys.stderr)
    sys.exit(1 if flagged else 0)


if __name__ == "__main__":
    main()
