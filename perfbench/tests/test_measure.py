"""Tests of the benchmark's own helpers. Run from the repository root:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import datagen  # noqa: E402
import measure  # noqa: E402
from workloads import END_TO_END, PER_LAYER, WORKLOADS  # noqa: E402

BENCHMARK_JSON = os.path.join(os.path.dirname(os.path.dirname(HERE)), "BENCHMARK.json")


def test_tail_percentile_refused_with_fewer_than_ten_beyond():
    for q in (0.75, 0.9, 0.99):
        n = measure.min_samples(q)
        assert measure.samples_beyond(n, q) == measure.MIN_BEYOND
        measure.percentile(range(n), q)
        with pytest.raises(ValueError):
            measure.percentile(range(n - 1), q)
    assert measure.min_samples(0.9) == 100
    with pytest.raises(ValueError):
        measure.percentile(range(99), 0.9)


def test_median_is_never_refused():
    assert measure.percentile([3.0], 0.5) == 3.0
    assert measure.percentile([1.0, 2.0, 4.0, 10.0], 0.5) == 3.0


def test_percentile_interpolates_between_order_statistics():
    samples = list(range(100, 0, -1))  # 1..100, unsorted
    assert measure.percentile(samples, 0.5) == pytest.approx(50.5)
    assert measure.percentile(samples, 0.9) == pytest.approx(90.1)


def test_seeded_passes_are_reproducible_permutations():
    keys = [f"q{i}" for i in range(9)]
    a, b = measure.seeded_passes(keys, 7), measure.seeded_passes(keys, 7)
    first = [next(a) for _ in range(5)]
    assert first == [next(b) for _ in range(5)]
    for p in first:
        assert sorted(p) == sorted(keys)
    assert len({tuple(p) for p in first}) > 1
    other = measure.seeded_passes(keys, 8)
    assert [next(other) for _ in range(5)] != first


def test_digest_ignores_row_order_but_not_content():
    rows = [(1, "a", 0.5), (2, "b", None), (2, "b", None)]
    assert measure.digest(rows) == measure.digest(list(reversed(rows)))
    assert measure.digest(rows).startswith("3:")
    assert measure.digest(rows) != measure.digest(rows[:2])
    assert measure.digest(rows) != measure.digest([(1, "a", 0.5000001), *rows[1:]])


def _fake_proc(root, pid, ppid, comm, utime, stime, cutime=0, cstime=0, hwm_kb=None):
    d = os.path.join(root, str(pid))
    os.makedirs(d)
    fields = ["S", ppid, 1, 1, 0, -1, 0, 0, 0, 0, 0, utime, stime, cutime, cstime, 20, 0]
    with open(os.path.join(d, "stat"), "w") as f:
        f.write(f"{pid} ({comm}) " + " ".join(str(x) for x in fields) + "\n")
    if hwm_kb is not None:
        with open(os.path.join(d, "status"), "w") as f:
            f.write(f"Name:\t{comm}\nVmPeak:\t{hwm_kb * 2} kB\nVmHWM:\t{hwm_kb} kB\nVmRSS:\t1 kB\n")


def test_tree_cpu_and_hwm_on_fake_proc(tmp_path):
    root = str(tmp_path)
    tick = os.sysconf("SC_CLK_TCK")
    _fake_proc(root, 100, 1, "python3", 2 * tick, tick)  # the Spark driver: this benchmark
    _fake_proc(root, 101, 100, "java", 10 * tick, 2 * tick, cutime=tick, hwm_kb=1024 * 1000)
    _fake_proc(root, 102, 101, "python3", tick, 0, cutime=3 * tick, cstime=tick, hwm_kb=1024 * 50)
    _fake_proc(root, 103, 102, "python3 (x)", 2 * tick, tick, hwm_kb=1024 * 60)  # a worker
    _fake_proc(root, 104, 100, "sh", tick, 0)  # another child of the Spark driver
    _fake_proc(root, 200, 1, "java", 99 * tick, 0, hwm_kb=1024 * 999)  # outside the tree
    with open(os.path.join(root, "stat"), "w") as f:
        f.write("cpu 1 2 3\n")  # non-pid entries are skipped

    s = measure.sample_tree(100, proc_root=root)
    assert s.jvm_pid == 101
    assert sorted(s.pyworker_pids) == [102, 103]
    assert s.driver_s == pytest.approx(4.0)
    assert s.jvm_s == pytest.approx(13.0)
    assert s.pyworker_s == pytest.approx(8.0)
    assert s.total_s == pytest.approx(25.0)
    hwm = measure.vm_hwm_mb([s.jvm_pid, *s.pyworker_pids, 999], proc_root=root)
    assert hwm == pytest.approx(1110.0)


def test_comm_with_spaces_and_parens_parses(tmp_path):
    _fake_proc(str(tmp_path), 5, 1, "a) b (c", 7, 3)
    procs = measure.scan_procs(str(tmp_path))
    assert procs[5].comm == "a) b (c"
    assert procs[5].ppid == 1
    assert procs[5].cpu_ticks == 10


def test_metric_names_are_well_formed():
    names = [*END_TO_END, *PER_LAYER]
    assert all(measure.METRIC_NAME.fullmatch(n) for n in names)
    assert len(set(names)) == len(names)
    assert not measure.METRIC_NAME.fullmatch("bad name")


def test_benchmark_json_matches_the_program():
    with open(BENCHMARK_JSON) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER
    for m in spec["end_to_end"]:
        assert 0 < m["bound"] <= 0.25
    assert max(m["bound"] for m in spec["end_to_end"]) == next(
        m["bound"] for m in spec["end_to_end"] if m["name"] == "setup_s"
    )


def test_stream_figures_sum_batches_and_keep_final_state():
    from tracing import stream_figures

    mb = 1024 * 1024
    events = [
        ("q1", {"triggerExecution": 300, "walCommit": 20, "commitOffsets": 10}, [(5, mb)]),
        ("q1", {"triggerExecution": 200, "walCommit": 10, "commitOffsets": 5}, [(8, 2 * mb)]),
        ("q2", {"triggerExecution": 100}, []),
    ]
    assert stream_figures(events) == pytest.approx(
        {
            "stream.batches": 3.0,
            "stream.trigger_s": 0.6,
            "stream.commit_s": 0.045,
            "stream.state_rows": 8.0,
            "stream.state_mem_mb": 2.0,
        }
    )
    assert set(stream_figures([]).values()) == {0.0}


def test_fixture_is_a_function_of_the_seed(tmp_path):
    def files(d):
        out = {}
        for name in sorted(os.listdir(d)):
            with open(os.path.join(d, name), "rb") as f:
                out[name] = f.read()
        return out

    a = files(datagen.write_fixture(str(tmp_path / "a"), 3))
    b = files(datagen.write_fixture(str(tmp_path / "b"), 3))
    c = files(datagen.write_fixture(str(tmp_path / "c"), 4))
    assert a == b
    assert sorted(a) == sorted(f"{t}.parquet" for t in datagen.ROWS)
    assert a["lineitem.parquet"] != c["lineitem.parquet"]
