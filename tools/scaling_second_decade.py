"""Two-decade scaling probe for the watch keys (VERDICT r11 item 3).

SCALING_PROBE_FULL measures one 10x step (sf0.01 -> sf0.1); the three
keys whose ratios sat highest there (q_udf_cogroup ~5x,
q_topk_per_group ~3-4x, q_join_null_safe ~4.5x) have been
variance-adjudicated but never probed over a SECOND decade — one step
cannot distinguish "sublinear with overhead" from the onset of a
quadratic term. This tool times them at sf0.01 / sf0.1 (driver
fixtures) AND sf1 (the local .localdata/sf1 fixture from
tools/make_second_decade_fixture.py, distribution-faithful for exactly
the tables these keys read) and reports BOTH decade ratios.

Reading the output: a genuinely linear operator shows ratio2 <= ~10
with ratio2 typically ABOVE ratio1 (fixed overhead amortizes away as
data grows); a quadratic term shows ratio2 >> ratio1 and above the
SUPERLINEAR gate. Exit non-zero if any second-decade ratio exceeds
scaling_probe.SUPERLINEAR_RATIO (14).

Run AFTER generating the fixture:
    python tools/make_second_decade_fixture.py
    python tools/scaling_second_decade.py [--repeats 3]

``--verify`` (VERDICT r12 item 1 of "What's missing"): timing alone
proved insufficient in r12 — the sf1 fixture engages code paths the
driver fixtures never reach (the corpus-adaptive k=2 dedup branches
switch on at avg shingle df ~90 vs the driver's 1.5-8.7; the
embedding projection prune prunes nothing at tiny scales), so "fast
at sf1" must come with "right at sf1". With the flag, every probed
key with an oracle_sql entry is ALSO cross-engine compared against
DuckDB running that oracle on the sf1 parquet itself (same
tests.parity.compare the external driver mirrors; rows-only keys get
the >0-rows check), and the tool exits non-zero on any mismatch.
Pre-checked feasibility: sf1 max shingle df = 133, far under the
10^4 df-caps, so the capped Spark plans remain bit-identical to the
uncapped oracles at this scale.
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
from tools.scaling_probe import SUPERLINEAR_RATIO

WATCH_KEYS = ["q_udf_cogroup", "q_topk_per_group", "q_join_null_safe"]
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_DIRS = [
    ("sf0.01", "/root/testdata/sf0.01"),
    ("sf0.1", "/root/testdata/sf0.1"),
    ("sf1", os.path.join(ROOT, ".localdata", "sf1")),
]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--repeats", type=int, default=3)
    ap.add_argument("--keys", nargs="+", default=None)
    ap.add_argument(
        "--suite",
        choices=["watch", "bench"],
        default="watch",
        help="watch = the three r11 watch keys; bench = the full "
        "headline+tpch+llm probe suite (the r12 full-fixture sweep)",
    )
    ap.add_argument(
        "--verify",
        action="store_true",
        help="after timing, cross-engine compare each probed key at "
        "the LARGEST probed scale against DuckDB running its "
        "oracle_sql on that scale's parquet (rows-only keys get the "
        ">0-rows check); exit 1 on mismatch",
    )
    ap.add_argument(
        "--dirs",
        nargs="+",
        default=None,
        metavar="TAG=PATH",
        help="override the probed scales, ordered smallest to largest "
        "(e.g. --dirs sf0.1=/root/testdata/sf0.1 sf1=.localdata/sf1 "
        "sf3=.localdata/sf3); per-step ratios are between consecutive "
        "entries and each step's superlinear gate scales with its "
        "data ratio (TAG must be sfN so the step size is derivable: "
        "the 10x-decade gate is SUPERLINEAR_RATIO, a 3x step gates at "
        "SUPERLINEAR_RATIO*3/10)",
    )
    args = ap.parse_args()
    if args.keys is None:
        if args.suite == "bench":
            args.keys = list(
                dict.fromkeys(
                    HEADLINE
                    + [f"q_tpch_q{i}" for i in range(1, 23)]
                    + LLM_SECONDARY
                )
            )
        else:
            args.keys = WATCH_KEYS
    if args.dirs is not None:
        dirs = []
        for spec in args.dirs:
            tag, _, path = spec.partition("=")
            if not path or not tag.startswith("sf"):
                print(f"--dirs entries must be sfN=PATH, got {spec!r}",
                      file=sys.stderr)
                sys.exit(2)
            dirs.append((tag, os.path.abspath(path)))
    else:
        dirs = list(SF_DIRS)
    for _tag, d in dirs:
        if not os.path.isdir(d):
            print(
                f"missing {d} — run tools/make_second_decade_fixture.py"
                " (use --sf for non-sf1 scales)",
                file=sys.stderr,
            )
            sys.exit(2)
    # each step's superlinear gate scales with that step's data ratio:
    # the canonical gate is per 10x decade, so a 3x step (sf1 -> sf3)
    # gates at SUPERLINEAR_RATIO * 3/10
    sf_vals = [float(tag[2:]) for tag, _ in dirs]
    step_gates = [
        SUPERLINEAR_RATIO * (sf_vals[i + 1] / sf_vals[i]) / 10.0
        for i in range(len(dirs) - 1)
    ]
    top_tag, top_dir = dirs[-1]
    spark = build_session(app_name="scaling-second-decade")
    qs = registry.all_queries()
    results = {}
    gate_hits: list[str] = []
    for key in args.keys:
        fn = qs[key]
        times = {
            tag: time_key(spark, fn, d, args.repeats) for tag, d in dirs
        }
        ratios = {}
        flagged = False
        for i in range(len(dirs) - 1):
            a, b = dirs[i][0], dirs[i + 1][0]
            r = times[b] / times[a]
            ratios[f"{b}/{a}"] = round(r, 2)
            if r > step_gates[i]:
                flagged = True
        if flagged:
            gate_hits.append(key)
        results[key] = {
            "sec": times,
            "ratios": ratios,
        }
        chain = " -> ".join(f"{times[t]:.2f}s" for t, _ in dirs)
        rs = ", ".join(f"x{v:.1f}" for v in ratios.values())
        flag = " <-- SUPERLINEAR" if flagged else ""
        print(f"  {key}: {chain}  ({rs}){flag}")
    verify_fails: list[str] = []
    verify: dict[str, str] = {}
    if args.verify:
        sys.path.insert(0, os.path.join(ROOT, "tests"))
        import __spark_entry__ as entry_mod
        from tests.parity import compare, duckdb_conn

        oracles = entry_mod.oracle_sql()
        con = duckdb_conn(top_dir)
        for key in args.keys:
            try:
                if key in oracles:
                    ok, msg = compare(qs[key](spark, top_dir), con, oracles[key])
                else:
                    cnt = qs[key](spark, top_dir).count()
                    ok, msg = cnt > 0, f"rows-only returned {cnt} rows"
            except Exception as e:  # noqa: BLE001 — report, don't mask
                ok, msg = False, f"ERR {type(e).__name__}: {e}"
            verify[key] = msg if ok else f"FAIL: {str(msg)[:300]}"
            print(f"  verify@{top_tag} {'ok  ' if ok else 'FAIL'} {key}"
                  + ("" if ok else f": {str(msg)[:200]}"))
            if not ok:
                verify_fails.append(key)
    out = {
        "watch_keys": results,
        "gate_per_decade": SUPERLINEAR_RATIO,
        "step_gates": {
            f"{dirs[i + 1][0]}/{dirs[i][0]}": round(step_gates[i], 2)
            for i in range(len(dirs) - 1)
        },
    }
    if args.verify:
        out[f"verify_{top_tag}"] = verify
    print(json.dumps(out))
    if gate_hits or verify_fails:
        sys.exit(1)


if __name__ == "__main__":
    main()
