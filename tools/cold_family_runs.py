#!/usr/bin/env python
"""Cold single-execution timings for the memoized dedup family
(VERDICT r13 item 7): each key runs ONCE in a FRESH SparkSession, so
none of the (appId, sf_dir, corpus-fingerprint)-keyed family memos
(_prefix_k density, shingle/candidate/docarray slots) can carry state
between the measurement and anything before it. Each timing is one
bench.time_key noop write. The bench contract (min-of-N, warm session)
is unchanged; the point is to put the warm/cold ratio on record so
speedup claims can separate plan wins from memo wins.

Usage:
    python tools/cold_family_runs.py [key ...]   # default: the family
"""
from __future__ import annotations

import os
import sys

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _ROOT)

FAMILY = [
    "q_dedup_ngram_jaccard",
    "q_dedup_ngram_prefix",
    "q_dedup_containment",
    "q_dedup_minhash",
    "q_dedup_incremental_fuzzy",
]


def main() -> None:
    names = sys.argv[1:] or FAMILY
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from bench import time_key
    from oke_cassandra_spark_locality_demo_spark import registry
    from oke_cassandra_spark_locality_demo_spark.session import build_session

    for name in names:
        spark = build_session(app_name=f"cold-{name}")
        # session warmup only (JVM/codegen/table open) — runs at a
        # DIFFERENT sf_dir, so corpus-fingerprint-keyed memos for the
        # measured scale stay cold
        queries = registry.all_queries()
        time_key(spark, queries["q_dedup_exact"], "/root/testdata/sf0.001", 1)
        fn = queries[name]
        spark.sparkContext.setJobDescription(f"cold {name}")
        cold = time_key(spark, fn, sf_dir, 1)
        warm = time_key(spark, fn, sf_dir, 1)
        print(f"{name}\tcold={cold:.3f}\twarm2nd={warm:.3f}")
        spark.stop()


if __name__ == "__main__":
    main()
