"""Workloads and metric names of the benchmark.

Each workload is a fixed list of registry keys; a run executes whole
passes over its list, so every run holds the same mix of keys. Why each
workload exists is recorded in BENCHMARK.json. The lists are small
subsets of the engine's key families, so that one run, set-up included,
takes under a minute on 4 cores.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    keys: tuple[str, ...]
    #: Seconds one warm pass takes on a 4-core host. A run of ``--seconds``
    #: S times ceil(S / pass_s) whole passes: a fixed count, so that every
    #: run has the same mix and the same distance from a cold JVM.
    pass_s: float


WORKLOADS: dict[str, Workload] = {
    # JVM only: joins, exchanges and exact decimal sums (each catalog.load
    # runs a parquet schema-inference job), a CTAS into the warehouse and
    # an availableNow stream with a watermarked state store
    "tpch-warehouse": Workload(
        pass_s=4.2,
        keys=(
            "q_tpch_q1",
            "q_tpch_q3",
            "q_tpch_q5",
            "q_tpch_q6",
            "q_ctas",
            "q_stream_watermark_late",
        ),
    ),
    # Python/Arrow workers: the simhash, lsh and image-hash mapInPandas
    # kernels and the bigram perplexity. q_agg_sketch_theta is left out:
    # its within_band verdict fails the oracle on some seeded fixtures
    "llm-corpus": Workload(
        pass_s=4.5,
        keys=(
            "q_dedup_simhash",
            "q_sim_lsh",
            "q_multimodal_phash",
            "q_text_perplexity_bigram",
        ),
    ),
}

END_TO_END = {
    "throughput_qps": "1/s",
    "latency_p50_s": "s",
    "cpu_s_per_query": "s",
    "peak_rss_mb": "MB",
    "setup_s": "s",
}

#: Per-layer metrics of a traced run, each per execution unless its name
#: says otherwise. ``build.`` covers the builder call, ``plan.`` the
#: physical planning of its DataFrame, ``exec.`` the noop write (which
#: plans the write again).
PER_LAYER = {
    "session.start_s": "s",
    "catalog.stage_s": "s",
    "warmup.s": "s",
    "catalog.load_s": "s",
    "build.s": "s",
    "plan.s": "s",
    "exec.s": "s",
    "trace.latency_mean_s": "s",
    "trace.latency_p50_s": "s",
    "trace.untraced_latency_mean_s": "s",
    "build.jobs": "count",
    "build.stages": "count",
    "build.tasks": "count",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "build.task_cpu_s": "s",
    "exec.task_cpu_s": "s",
    "build.task_run_s": "s",
    "exec.task_run_s": "s",
    "build.input_mb": "MB",
    "exec.input_mb": "MB",
    "build.output_mb": "MB",
    "exec.output_mb": "MB",
    "exec.shuffle_write_mb": "MB",
    "exec.shuffle_read_mb": "MB",
    "build.spill_mb": "MB",
    "exec.spill_mb": "MB",
    "exec.peak_exec_mem_mb": "MB",
    "build.failed_tasks": "count",
    "exec.failed_tasks": "count",
    "driver.cpu_s": "s",
    "jvm.cpu_s": "s",
    "pyworker.cpu_s": "s",
    "jvm.gc_s": "s",
    "stream.jobs": "count",
    "stream.batches": "count",
    "stream.trigger_s": "s",
    "stream.commit_s": "s",
    "stream.state_rows": "count",
    "stream.state_mem_mb": "MB",
    "trace.untraced_qps": "1/s",
    "trace.traced_qps": "1/s",
    "trace.overhead_pct": "%",
}
