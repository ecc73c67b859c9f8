#!/usr/bin/env python
"""Benchmark runner: the headline, TPC-H and LLM suites at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS].

Every timing builds the key's DataFrame and writes it to Spark's noop
sink (``time_key``), so every output column is computed. A ``count()``
would let Catalyst prune each column it does not read: a column whose
Python UDF raises still counts. Each key records its min-of-N wall
seconds, or -1.0 if it raised.

Usage:
    python bench.py
        Prints ONE JSON line (metric/value/unit/queries/sf/action/
        deployment) and writes every suite's timings with the
        deployment block to BENCH_DETAIL.json beside this script.
    python bench.py compare PARENT.json [PARENT2.json ...] CHANGE.json
        Same-host comparison of saved BENCH_DETAIL.json files. Flags
        every key whose CHANGE time exceeds REGRESSION_RATIO x its
        largest PARENT time and exits 1 if any key is flagged. Refuses
        (exit 2) files taken on different deployments.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from oke_cassandra_spark_locality_demo_spark import registry
from oke_cassandra_spark_locality_demo_spark.catalog import load
from oke_cassandra_spark_locality_demo_spark.session import build_session

#: min-of-5 on the headline, min-of-2 on the TPC-H and LLM suites: the
#: min of a few repeats is the steady-state figure, one repeat swings
#: with the host's background load
REPEATS = 5
SECONDARY_REPEATS = 2

#: ``compare`` flags a key whose change time exceeds this multiple of
#: its largest parent time. With an A/B/A run the two parents bound
#: the host's noise on that key, so a one-key 1.8x slowdown flags
#: while parents within 1.2x of each other, and +-15% noise on every
#: key (at most 1.15/0.85 = 1.35x) does not.
REGRESSION_RATIO = 1.5

#: The driver's artifact keeps only the last ~2 KB of stdout, so the
#: summary line must fit that window whole. Budget below the 2000-char
#: capture with margin for a stray warning line.
SUMMARY_LINE_BUDGET = 1900

#: headline set: one per operator family, weighted toward shuffle-heavy shapes
HEADLINE = [
    "q_flagship_pricing_summary",
    "q_scan_pushdown",
    "q_join_inner",
    "q_join_broadcast",
    "q_join_multiway",
    "q_join_asof",
    "q_agg_hash",
    "q_agg_distinct",
    "q_win_rank",
    "q_topk_per_group",
    "q_stream_tumbling",
    "q_stream_session",
    "q_dedup_exact",
    "q_dedup_ngram_jaccard",
    "q_sim_knn_blas",
    "q_text_tfidf",
    "q_multimodal_cols",
    "q_pipeline_e2e",
]

#: LLM-data-pipeline secondary suite (operators not already in the
#: headline): dedup tiers, ANN, ranking, sketches, corpus ops,
#: multimodal, tokenizer. Also the plan-dump set for tools/dump_plans.py.
LLM_SECONDARY = [
    "q_dedup_span",
    "q_dedup_containment",
    "q_dedup_minhash",
    "q_dedup_simhash",
    "q_text_bm25",
    "q_shuffle_epoch",
    "q_agg_sketch_theta",
    "q_sim_lsh",
    "q_sample_weighted",
    "q_pack_sequences",
    "q_multimodal_resize",
    "q_text_bpe_train",
    "q_text_bpe_encode",
    "q_text_boilerplate",
    "q_join_asof_tolerance",
    "q_dedup_incremental_fuzzy",
    "q_corpus_card",
    "q_text_perplexity_bigram",
    "q_text_bpe_fertility",
    "q_privacy_kanon",
    "q_select_dsir",
    "q_order_curriculum",
    "q_multimodal_phash",
    "q_drift_ks",
    "q_classify_nb",
    "q_split_leakage",
    "q_text_novelty",
    "q_quality_gopher",
    "q_dedup_url",
    "q_text_rake",
    "q_agg_heavy_hitters",
    "q_geo_radius_join",
    "q_geo_knn",
    "q_graph_kcore",
    "q_stats_permutation",
    "q_multimodal_scenecut",
    "q_agg_abc_pareto",
    "q_drift_jsd",
    "q_stats_kruskal",
    "q_vec_jl_projection",
    "q_join_asof_nearest",
    "q_geo_grid_density",
    "q_agg_ohlc",
    "q_export_manifest",
    "q_ts_interpolate_linear",
    "q_multimodal_decode_real",
]

SUITES = ("headline", "tpch", "llm")


def time_key(spark, fn, sf_dir: str, repeats: int) -> float:
    """Min-of-``repeats`` wall seconds to build ``fn``'s DataFrame and
    write it to the noop sink."""
    best = float("inf")
    for _ in range(repeats):
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        best = min(best, time.perf_counter() - t0)
    return round(best, 3)


def time_suite(spark, queries, names, sf_dir: str, repeats: int) -> dict[str, float]:
    """``time_key`` per name; a key that raises records -1.0 (the error
    goes to stderr, so a failing key never breaks the JSON line)."""
    out = {}
    for name in names:
        try:
            out[name] = time_key(spark, queries[name], sf_dir, repeats)
        except Exception as exc:
            print(f"bench: {name} failed: {exc}", file=sys.stderr)
            out[name] = -1.0
    return out


def deployment(spark) -> dict:
    """What ``compare`` requires to match: the same fields as
    perfbench's report. The loadavg samples are recorded, not gated on."""
    sc = spark.sparkContext
    with open("/proc/meminfo") as f:
        mem_kb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
    return {
        "master": sc.master,
        "default_parallelism": sc.defaultParallelism,
        "driver_memory": spark.conf.get("spark.driver.memory"),
        "cpus": len(os.sched_getaffinity(0)),
        "mem_gb": round(mem_kb / 1024**2, 1),
        "spark": spark.version,
    }


def compact_summary_line(*, total, timings, tpch_total, llm_total, deployment, sf) -> str:
    """The single driver-contract stdout JSON line: headline per-key
    seconds, the secondary suites as totals, compact separators."""
    return json.dumps(
        {
            "metric": "headline_suite_total",
            "value": total,
            "unit": "sec",
            "queries": timings,
            "tpch_total_sec": tpch_total,
            "llm_total_sec": llm_total,
            "repeats": REPEATS,
            "action": "noop",
            "deployment": deployment,
            "sf": sf,
        },
        separators=(",", ":"),
    )


def _identity(doc: dict) -> dict:
    """A run's deployment without its loadavg samples, plus the scale
    and the timed action: what two runs must share to compare."""
    if "deployment" not in doc:
        raise ValueError("no deployment block (a count()-era file?)")
    dep = {k: v for k, v in doc["deployment"].items() if not k.startswith("loadavg")}
    return {**dep, "sf": doc.get("sf"), "action": doc.get("action")}


def compare(parents: list[dict], change: dict) -> dict[str, float]:
    """Keys of ``change`` (a BENCH_DETAIL.json document) slower than
    REGRESSION_RATIO x their largest time over ``parents``, mapped to
    that ratio; a key that fails only in ``change`` maps to inf. Keys
    that failed in a parent have no baseline and are skipped. Raises
    ValueError if the documents come from different deployments."""
    want = _identity(change)
    for doc in parents:
        got = _identity(doc)
        if got != want:
            diff = sorted(k for k in want.keys() | got.keys() if want.get(k) != got.get(k))
            raise ValueError(f"different deployments ({', '.join(diff)}): "
                             "only same-host runs compare")
    flagged = {}
    for suite in SUITES:
        for key, t in change[suite]["queries"].items():
            base = [doc[suite]["queries"].get(key, -1.0) for doc in parents]
            if min(base) <= 0:
                continue
            ratio = t / max(base) if t > 0 else float("inf")
            if ratio > REGRESSION_RATIO:
                flagged[key] = round(ratio, 3)
    return flagged


def compare_main(paths: list[str]) -> int:
    if len(paths) < 2:
        print("usage: bench.py compare PARENT.json [PARENT2.json ...] CHANGE.json",
              file=sys.stderr)
        return 2
    docs = [json.loads(Path(p).read_text()) for p in paths]
    try:
        flagged = compare(docs[:-1], docs[-1])
    except ValueError as exc:
        print(f"bench compare: {exc}", file=sys.stderr)
        return 2
    for key, ratio in sorted(flagged.items(), key=lambda kv: -kv[1]):
        print(f"{key}\t{ratio}x")
    print(f"bench compare: {len(flagged)} key(s) over {REGRESSION_RATIO}x "
          f"the largest of {len(docs) - 1} parent run(s)", file=sys.stderr)
    return 1 if flagged else 0


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = os.path.basename(os.path.normpath(sf_dir)).replace("sf", "")
    sf = float(sf) if sf.replace(".", "").isdigit() else sf
    load_start = os.getloadavg()[0]
    spark = build_session(app_name="spark-graft-bench")
    queries = registry.all_queries()

    # Session warm-up is setup, not throughput: JVM codegen and JIT
    # (flagship), the Python/Arrow worker pool (knn), and each LLM
    # table's one-time open costs (file listing, footers, the events
    # µs-staging copy).
    for q in ("q_flagship_pricing_summary", "q_sim_knn_blas"):
        time_key(spark, queries[q], "/root/testdata/sf0.001", 1)
    for t in ("events", "documents", "embeddings"):
        load(spark, sf_dir, t).count()

    tpch = sorted((q for q in queries if q.startswith("q_tpch_q")),
                  key=lambda s: int(s[len("q_tpch_q"):]))
    detail: dict = {"action": "noop", "sf": sf}
    for suite, names, repeats in (("headline", HEADLINE, REPEATS),
                                  ("tpch", tpch, SECONDARY_REPEATS),
                                  ("llm", LLM_SECONDARY, SECONDARY_REPEATS)):
        timings = time_suite(spark, queries, names, sf_dir, repeats)
        total = round(sum(t for t in timings.values() if t >= 0), 3)
        detail[suite] = {"total_sec": total, "repeats": repeats, "queries": timings}
    detail["deployment"] = dep = {**deployment(spark), "loadavg_1m_start": round(load_start, 2),
                                  "loadavg_1m_end": round(os.getloadavg()[0], 2)}

    # Full detail goes to stderr and BENCH_DETAIL.json; the driver
    # parses only the last ~2 KB of stdout.
    print("bench-detail: " + json.dumps(detail), file=sys.stderr)
    detail_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json")
    try:
        with open(detail_path, "w") as f:
            json.dump(detail, f, indent=1)
            f.write("\n")
    except OSError as exc:  # read-only checkout must not fail the bench
        print(f"bench: could not write BENCH_DETAIL.json: {exc}", file=sys.stderr)
    print(compact_summary_line(
        total=detail["headline"]["total_sec"],
        timings=detail["headline"]["queries"],
        tpch_total=detail["tpch"]["total_sec"],
        llm_total=detail["llm"]["total_sec"],
        deployment=dep,
        sf=sf,
    ))
    spark.stop()


if __name__ == "__main__":
    if sys.argv[1:2] == ["compare"]:
        sys.exit(compare_main(sys.argv[2:]))
    main()
