#!/usr/bin/env python
"""Dump formatted physical plans at $SPARK_GRAFT_SF_DIR.

Usage:
    python tools/dump_plans.py                          # regenerate PLANS.md
    python tools/dump_plans.py OUT_DIR TAG KEY [KEY ...]

With no arguments, regenerates PLANS.md: the plan of each headline
query with the properties that matter (pushed filters, exchanges,
broadcasts) summarized per query — the evidence artifact for the
scaling claims in SCALING.md.

With arguments, writes OUT_DIR/<key>_<TAG>.txt per key (e.g.
`python tools/dump_plans.py plans/r15 before q_sim_lsh`). A query that
`localCheckpoint()`s an intermediate truncates its final plan at a
`Scan ExistingRDD` node, so localCheckpoint is wrapped to also write
each pre-checkpoint fragment as OUT_DIR/<key>_<TAG>_ckptfrag<N>.txt."""

from __future__ import annotations

import os
import sys

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _ROOT)

from oke_cassandra_spark_locality_demo_spark import registry
from oke_cassandra_spark_locality_demo_spark.catalog import DEFAULT_SF_DIR
from oke_cassandra_spark_locality_demo_spark.plans.inspect import (
    count_exchanges,
    formatted_plan,
    has_broadcast_join,
    pushed_filters,
)
from oke_cassandra_spark_locality_demo_spark.session import build_session

from bench import HEADLINE, LLM_SECONDARY


def write_plans_md(spark, sf_dir: str) -> None:
    out = [
        "# PLANS — headline-query physical plans (generated by tools/dump_plans.py)",
        "",
        f"Scale: `{sf_dir}`. Regenerate after operator changes:",
        "`python tools/dump_plans.py`.",
        "",
    ]
    qs = registry.all_queries()
    tpch = sorted(
        (q for q in qs if q.startswith("q_tpch_q")),
        key=lambda s: int(s[len("q_tpch_q"):]),
    )
    names = HEADLINE + tpch + LLM_SECONDARY
    for name in names:
        df = qs[name](spark, sf_dir)
        plan = formatted_plan(df)
        pf = pushed_filters(df)
        out += [
            f"## {name}",
            "",
            f"- exchanges: {count_exchanges(df)}, broadcast join: "
            f"{has_broadcast_join(df)}, pushed filters: {len(pf)}",
            "",
            "```",
            # header section of the formatted plan (the tree, not the
            # per-node detail dump) keeps the file reviewable
            plan.split("\n\n")[0].strip(),
            "```",
            "",
        ]
    with open(os.path.join(_ROOT, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print(f"wrote PLANS.md ({len(names)} queries)")


def write_key_plans(spark, sf_dir: str, out_dir: str, tag: str, names: list[str]) -> None:
    # Spark 4: pyspark.sql.DataFrame is the abstract facade; methods
    # execute on the classic concrete class — patch that one.
    from pyspark.sql.classic.dataframe import DataFrame

    os.makedirs(out_dir, exist_ok=True)
    qs = registry.all_queries()
    orig_ckpt = DataFrame.localCheckpoint
    for name in names:
        frags: list[str] = []

        def capturing_ckpt(self, *a, **kw):  # noqa: ANN001
            frags.append(formatted_plan(self))
            return orig_ckpt(self, *a, **kw)

        DataFrame.localCheckpoint = capturing_ckpt
        try:
            df = qs[name](spark, sf_dir)
        finally:
            DataFrame.localCheckpoint = orig_ckpt
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(f"# {name} ({tag}) at {sf_dir}\n\n{formatted_plan(df)}\n")
        print(path)
        for i, frag in enumerate(frags):
            fpath = os.path.join(out_dir, f"{name}_{tag}_ckptfrag{i}.txt")
            with open(fpath, "w") as f:
                f.write(
                    f"# {name} ({tag}) pre-localCheckpoint fragment {i} "
                    f"at {sf_dir}\n# (plan of the DataFrame passed to "
                    "localCheckpoint — the part the main dump truncates "
                    f"to `Scan ExistingRDD`)\n\n{frag}\n"
                )
            print(fpath)


def main() -> None:
    args = sys.argv[1:]
    if len(args) in (1, 2):
        sys.exit(__doc__)
    sf_dir = DEFAULT_SF_DIR
    spark = build_session(app_name="plan-dump")
    if args:
        write_key_plans(spark, sf_dir, args[0], args[1], args[2:])
    else:
        write_plans_md(spark, sf_dir)
    spark.stop()


if __name__ == "__main__":
    main()
