"""bench.py: the noop-write timing helper, the deployment block, the
same-host ``compare`` and the size of the driver's stdout line."""

from __future__ import annotations

import json
import os
import random

import pytest
from pyspark.sql import functions as F

import bench

DEPLOYMENT = {
    "master": "local[4]",
    "default_parallelism": 4,
    "driver_memory": "7680m",
    "cpus": 4,
    "mem_gb": 15.0,
    "spark": "4.0.0",
    "loadavg_1m_start": 0.5,
    "loadavg_1m_end": 3.1,
}
TPCH = [f"q_tpch_q{i}" for i in range(1, 23)]


def _doc(headline, tpch=None, llm=None, **deployment) -> dict:
    """A BENCH_DETAIL.json document as bench.main writes it."""
    return {
        "action": "noop",
        "sf": 0.1,
        "headline": {"queries": headline},
        "tpch": {"queries": tpch or {}},
        "llm": {"queries": llm or {}},
        "deployment": {**DEPLOYMENT, **deployment},
    }


def _base(keys, seed=0) -> dict[str, float]:
    rng = random.Random(seed)
    return {k: round(rng.uniform(0.15, 3.0), 3) for k in keys}


def _scaled(times, factor, noise=0.0, seed=1) -> dict[str, float]:
    rng = random.Random(seed)
    return {k: round(t * factor * (1 + rng.uniform(-noise, noise)), 3)
            for k, t in times.items()}


def test_time_suite_materializes_every_column(spark):
    """The only column raises in a Python UDF. ``count()`` prunes it
    and succeeds; the noop write computes it, so the key fails."""
    boom = F.udf(lambda x: x // 0, "long")

    def q_boom(spark, sf_dir):
        return spark.range(10).select(boom("id").alias("x"))

    def q_ok(spark, sf_dir):
        return spark.range(10).select((F.col("id") * 2).alias("x"))

    assert q_boom(spark, None).count() == 10
    out = bench.time_suite(spark, {"q_boom": q_boom, "q_ok": q_ok},
                           ["q_boom", "q_ok"], "unused", 2)
    assert out["q_boom"] == -1.0
    assert out["q_ok"] > 0


def test_deployment_records_the_host(spark):
    dep = bench.deployment(spark)
    assert dep["master"] == spark.sparkContext.master
    assert dep["default_parallelism"] == spark.sparkContext.defaultParallelism
    assert dep["cpus"] == len(os.sched_getaffinity(0))
    assert dep["driver_memory"] and dep["mem_gb"] > 0
    assert dep["spark"] == spark.version


def test_compare_flags_one_key_slowdown():
    """A/B/A: a 1.8x slowdown on any single key flags that key alone,
    with both parents carrying +-10% noise."""
    base = _base(bench.HEADLINE)
    a1, a2 = _scaled(base, 1.0, 0.1, seed=2), _scaled(base, 1.0, 0.1, seed=3)
    for key in bench.HEADLINE:
        change = _scaled(base, 1.0, 0.1, seed=4)
        change[key] = round(base[key] * 1.8, 3)
        flagged = bench.compare([_doc(a1), _doc(a2)], _doc(change))
        assert set(flagged) == {key}, (key, flagged)
        assert flagged[key] > bench.REGRESSION_RATIO


def test_compare_flags_uniform_slowdown():
    base = _base(bench.HEADLINE)
    parents = [_doc(_scaled(base, 1.0, 0.02, seed=s)) for s in (2, 3)]
    flagged = bench.compare(parents, _doc(_scaled(base, 1.6)))
    assert set(flagged) == set(bench.HEADLINE)


def test_compare_ignores_noise_on_every_key():
    base = _base(bench.HEADLINE)
    # the worst case of +-15%: the parents all 15% fast, the change all
    # 15% slow
    assert bench.compare([_doc(_scaled(base, 0.85))], _doc(_scaled(base, 1.15))) == {}
    for seed in range(20):
        parents = [_doc(_scaled(base, 1.0, 0.15, seed=seed + s)) for s in (100, 200)]
        change = _doc(_scaled(base, 1.0, 0.15, seed=seed + 300))
        assert bench.compare(parents, change) == {}


def test_compare_covers_every_suite():
    head, tpch = _base(bench.HEADLINE), _base(TPCH, seed=5)
    llm = _base(bench.LLM_SECONDARY, seed=6)
    parent = _doc(head, dict(tpch), dict(llm))
    slow_tpch = {**tpch, "q_tpch_q5": tpch["q_tpch_q5"] * 2}
    broken_llm = {**llm, "q_graph_kcore": -1.0}
    assert bench.compare([parent], _doc(head, slow_tpch, broken_llm)) == {
        "q_tpch_q5": 2.0, "q_graph_kcore": float("inf"),
    }
    # a key that failed in a parent has no baseline
    parent_broken = _doc(head, tpch, broken_llm)
    slow_llm = {**llm, "q_graph_kcore": 99.0}
    assert bench.compare([parent, parent_broken], _doc(head, tpch, slow_llm)) == {}


@pytest.mark.parametrize("field,value", [("cpus", 32), ("master", "local[32]")])
def test_compare_refuses_other_deployments(field, value):
    base = _base(bench.HEADLINE)
    with pytest.raises(ValueError, match=field):
        bench.compare([_doc(base)], _doc(base, **{field: value}))
    with pytest.raises(ValueError, match=field):
        bench.compare([_doc(base), _doc(base, **{field: value})], _doc(base))
    # loadavg is recorded, not compared
    assert bench.compare([_doc(base, loadavg_1m_start=9.0)], _doc(base)) == {}


def test_compare_cli_exit_codes(tmp_path, capsys):
    base = _base(bench.HEADLINE)
    paths = {}
    for name, doc in {
        "a": _doc(base),
        "b": _doc({**base, "q_agg_hash": base["q_agg_hash"] * 1.8}),
        "c": _doc(base, cpus=32),
        "old": {"headline": {"queries": base}},
    }.items():
        paths[name] = str(tmp_path / f"{name}.json")
        with open(paths[name], "w") as f:
            json.dump(doc, f)
    assert bench.compare_main([paths["a"], paths["b"], paths["a"]]) == 0
    assert bench.compare_main([paths["a"], paths["a"], paths["b"]]) == 1
    assert capsys.readouterr().out.startswith("q_agg_hash\t1.8x")
    assert bench.compare_main([paths["a"], paths["c"]]) == 2
    assert bench.compare_main([paths["old"], paths["a"]]) == 2
    assert bench.compare_main([paths["a"]]) == 2


def test_summary_line_fits_tail_capture_with_real_shapes():
    """The driver keeps only the last ~2 KB of stdout: the summary line
    must fit whole at the headline's shape and realistic widths."""
    line = bench.compact_summary_line(
        total=12345.678,
        timings={q: 123.456 for q in bench.HEADLINE},
        tpch_total=12345.678,
        llm_total=12345.678,
        deployment=DEPLOYMENT,
        sf=0.001,
    )
    assert len(line) <= bench.SUMMARY_LINE_BUDGET, len(line)
    parsed = json.loads(line)
    assert parsed["metric"] == "headline_suite_total"
    assert parsed["unit"] == "sec" and parsed["value"] == 12345.678
    assert set(parsed["queries"]) == set(bench.HEADLINE)
    assert parsed["action"] == "noop" and parsed["deployment"] == DEPLOYMENT
    assert parsed["sf"] == 0.001


def test_summary_line_fits_with_section_checks():
    """The line also carries the TPC-H and LLM suite totals and the
    deployment block: it must still fit the 2 KB tail capture at
    worst-case numeric widths in every field."""
    worst = {
        "master": "local[1024]",
        "default_parallelism": 1024,
        "driver_memory": "24576m",
        "cpus": 1024,
        "mem_gb": 1024.5,
        "spark": "4.0.0-preview2",
        "loadavg_1m_start": 1024.55,
        "loadavg_1m_end": 1024.55,
    }
    line = bench.compact_summary_line(
        total=999999.999,
        timings={q: 99999.999 for q in bench.HEADLINE},
        tpch_total=999999.999,
        llm_total=999999.999,
        deployment=worst,
        sf=0.001,
    )
    assert len(line) <= bench.SUMMARY_LINE_BUDGET, len(line)
    parsed = json.loads(line)
    assert parsed["tpch_total_sec"] == parsed["llm_total_sec"] == 999999.999
    assert parsed["deployment"] == worst
    assert set(parsed["queries"]) == set(bench.HEADLINE)
