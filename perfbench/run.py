"""End-to-end benchmark of the spark-graft engine.

Run from the repository root:

    python3 perfbench/run.py --workload tpch-warehouse --seed 1 --seconds 25 --trace 0

One closed-loop client: this process drives one ``local[nproc]`` session
and runs each registry key through the engine's public entry points,
``session.build_session``, ``registry.all_queries()[key](spark, sf_dir)``
and a noop write that materializes every column. A run

1. generates the fixture tables from ``--seed`` (``datagen.py``) in a
   fresh run directory that also holds TMPDIR, SPARK_LOCAL_DIRS, the
   warehouse and the working directory; they are set before the engine
   is imported, because some of its modules read the temp dir at import;
2. sets up: session start, the first load of every fixture table (with
   the events microsecond staging), and one untimed warm-up pass whose
   outputs are checked: oracle-backed keys against DuckDB through
   ``tests/parity.py``, rows-only keys by a row count and an
   order-independent digest that the last timed pass must repeat;
3. times whole passes over the workload's keys, each pass a permutation
   drawn from the seed; ``--seconds`` sets how many (``workloads.py``).

With ``--trace 1`` the passes alternate between untraced and traced per
layer (``tracing.py``), each half as many as in an untraced run, rounded
up; the ratio of the two throughputs is the tracing overhead.

The last line of standard output is the result: ``correct``,
``attempted``, ``failed`` and ``metrics``; the line before it records the
deployment, the seed, the execution count, per-key latencies and the
output checks. The exit code is 1 when an output check fails or an
execution raises, 2 when the engine is missing.
"""

from __future__ import annotations

import argparse
import importlib
import json
import math
import os
import platform
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from collections import Counter

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "oke_cassandra_spark_locality_demo_spark"
sys.path.insert(0, HERE)

from measure import digest, percentile, sample_tree, seeded_passes, vm_hwm_mb  # noqa: E402
from workloads import END_TO_END, PER_LAYER, WORKLOADS  # noqa: E402


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def host() -> dict:
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    # the engine's default heap (24g) exceeds small hosts; the fixtures
    # need far less than 1g
    heap_mb = min(1024, mem_kb // 1024 // 4)
    return {
        "cpus": len(os.sched_getaffinity(0)),
        "mem_gb": round(mem_kb / 1024**2, 1),
        "heap": f"{heap_mb}m",
    }


def hermetic_env(run_dir: str, h: dict) -> dict[str, str]:
    """Point every temp, scratch and output location of the engine into
    ``run_dir`` and pin the deployment to this host."""
    dirs = {k: os.path.join(run_dir, k) for k in ("tmp", "local", "warehouse", "cwd", "data")}
    for d in dirs.values():
        os.makedirs(d)
    os.environ["TMPDIR"] = dirs["tmp"]
    os.environ["SPARK_LOCAL_DIRS"] = dirs["local"]
    os.environ["SPARK_GRAFT_CPUS"] = str(h["cpus"])
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = h["heap"]
    # glibc's per-thread malloc arenas make the JVM's resident set wander
    # by hundreds of MB from run to run; two arenas keep peak_rss_mb steady
    os.environ["MALLOC_ARENA_MAX"] = "2"
    tempfile.tempdir = None
    os.chdir(dirs["cwd"])
    return dirs


class Collected:
    """What ``tests/parity.py`` ``compare`` reads of a DataFrame, with the
    rows collected once."""

    def __init__(self, df) -> None:
        self.schema = df.schema
        self.columns = df.columns
        self.rows = df.collect()

    def collect(self) -> list:
        return self.rows


class Passes:
    """Executions of the timed passes that ran in one mode."""

    def __init__(self) -> None:
        self.latencies: list[float] = []
        self.by_key: dict[str, list[float]] = {}
        self.records: list[dict] = []
        self.done: Counter = Counter()
        self.executions = self.failed = self.passes = 0
        self.wall = self.gc_s = 0.0
        self.cpu = {"driver": 0.0, "jvm": 0.0, "pyworker": 0.0}

    def add_cpu(self, before, after) -> None:
        self.cpu["driver"] += after.driver_s - before.driver_s
        self.cpu["jvm"] += after.jvm_s - before.jvm_s
        self.cpu["pyworker"] += after.pyworker_s - before.pyworker_s


class Bench:
    def __init__(self, args: argparse.Namespace, dirs: dict[str, str], sf_dir: str) -> None:
        self.args = args
        workload = WORKLOADS[args.workload]
        self.keys = workload.keys
        self.n_passes = max(1, math.ceil(args.seconds / workload.pass_s))
        self.dirs = dirs
        self.sf_dir = sf_dir
        self.passes = seeded_passes(self.keys, args.seed)
        self.pid = os.getpid()
        self.checks: dict[str, dict] = {}
        self.failed_keys: set[str] = set()
        self.last_dfs: dict = {}

    # -- set-up ---------------------------------------------------------
    def setup(self) -> dict[str, float]:
        t0 = time.perf_counter()
        sys.path.insert(0, ROOT)
        from tests import parity

        self.parity = parity
        self.catalog = importlib.import_module(f"{PACKAGE}.catalog")
        registry = importlib.import_module(f"{PACKAGE}.registry")
        session = importlib.import_module(f"{PACKAGE}.session")
        # the heap starts at its full size: a heap that grows in steps
        # moves the JVM's VmHWM by ~20% from run to run, so peak_rss_mb
        # tracks non-heap and Python-worker memory; heap pressure shows
        # as jvm.gc_s and spill in the traced run
        heap = os.environ["SPARK_GRAFT_DRIVER_MEM"]
        java_opts = f"-Djava.io.tmpdir={self.dirs['tmp']} -XX:-UsePerfData -Xms{heap}"
        self.spark = session.build_session(
            app_name="perfbench",
            extra_conf={
                "spark.sql.warehouse.dir": self.dirs["warehouse"],
                "spark.driver.extraJavaOptions": java_opts,
            },
        )
        jvm = self.spark.sparkContext._jvm
        self.gc_beans = list(jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans())
        queries = registry.all_queries()
        self.fns = {k: queries[k] for k in self.keys}
        oracles = registry.all_oracles()
        self.oracles = {k: oracles[k] for k in self.keys if k in oracles}
        t1 = time.perf_counter()
        for name in self.catalog.TABLES:
            self.catalog.load(self.spark, self.sf_dir, name)
        t2 = time.perf_counter()
        warm = self.warmup_and_check()
        return {"session.start_s": t1 - t0, "catalog.stage_s": t2 - t1, "warmup.s": warm}

    def gc_s(self) -> float:
        return sum(b.getCollectionTime() for b in self.gc_beans) / 1e3

    def warmup_and_check(self) -> float:
        """One untimed pass. Each execution collects its output instead of
        writing it to the noop sink, so that it is the key's output check
        too; only the execution counts toward set-up."""
        t0 = time.perf_counter()
        con = self.parity.duckdb_conn(self.sf_dir)
        spent = 0.0
        try:
            for key in next(self.passes):
                try:
                    t = time.perf_counter()
                    out = Collected(self.fns[key](self.spark, self.sf_dir))
                    spent += time.perf_counter() - t
                    if key in self.oracles:
                        ok, msg = self.parity.compare(out, con, self.oracles[key])
                        self.checks[key] = {"oracle": msg, "ok": ok}
                    else:
                        self.checks[key] = {"digest": digest(out.rows), "ok": True}
                except Exception as e:  # a broken key fails its check, not the run
                    traceback.print_exc()
                    self.checks[key] = {"error": repr(e)[:300], "ok": False}
        finally:
            con.close()
        self.check_s = time.perf_counter() - t0 - spent
        return spent

    def recheck_digests(self) -> None:
        """Rows-only keys: the output of the last timed pass must repeat
        the warm-up pass's row count and digest."""
        for key, check in self.checks.items():
            if "digest" in check and key in self.last_dfs:
                again = digest(self.last_dfs[key].collect())
                check["digest_last_pass"] = again
                check["ok"] = again == check["digest"]

    # -- timed passes ---------------------------------------------------
    def execute(self, key: str, n: int):
        t0 = time.perf_counter()
        df = self.fns[key](self.spark, self.sf_dir)
        df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0, df, None

    def execute_traced(self, key: str, n: int):
        sc = self.spark.sparkContext
        self.tracer.skip_to_now()  # jobs of an untraced pass before this one
        build_group, exec_group = f"perfbench-{n}-build", f"perfbench-{n}-exec"
        sc.setJobGroup(build_group, key)
        t0 = time.perf_counter()
        df = self.fns[key](self.spark, self.sf_dir)
        t1 = time.perf_counter()
        df._jdf.queryExecution().executedPlan()
        t2 = time.perf_counter()
        sc.setJobGroup(exec_group, key)
        df.write.format("noop").mode("overwrite").save()
        t3 = time.perf_counter()
        sc.setLocalProperty("spark.jobGroup.id", None)
        record = {"build.s": t1 - t0, "plan.s": t2 - t1, "exec.s": t3 - t2}
        record.update(self.tracer.collect(build_group, exec_group))
        return t3 - t0, df, record

    def timed(self, n_passes: int, modes: list) -> None:
        """``n_passes`` whole passes in each mode, a (Passes, execute
        function) pair; the modes alternate pass by pass."""
        for _ in range(n_passes):
            for bucket, run_one in modes:
                self.timed_pass(bucket, run_one)

    def timed_pass(self, bucket: Passes, run_one) -> None:
        cpu0, gc0, t0 = sample_tree(self.pid), self.gc_s(), time.perf_counter()
        for key in next(self.passes):
            bucket.executions += 1
            try:
                latency, df, record = run_one(key, bucket.executions)
            except Exception:
                traceback.print_exc()
                bucket.failed += 1
                self.failed_keys.add(key)
                continue
            bucket.latencies.append(latency)
            bucket.by_key.setdefault(key, []).append(round(latency, 4))
            bucket.done[key] += 1
            if record is not None:
                bucket.records.append(record)
            self.last_dfs[key] = df
        bucket.wall += time.perf_counter() - t0
        bucket.gc_s += self.gc_s() - gc0
        bucket.add_cpu(cpu0, sample_tree(self.pid))
        bucket.passes += 1

    # -- results --------------------------------------------------------
    def end_to_end(self, run: Passes, setup: dict, hwm: dict[int, float]) -> dict[str, float]:
        return {
            "throughput_qps": len(run.latencies) / run.wall,
            "latency_p50_s": percentile(run.latencies, 0.5),
            "cpu_s_per_query": sum(run.cpu.values()) / run.executions,
            "peak_rss_mb": sum(hwm.values()),
            "setup_s": sum(setup.values()),
        }

    def hwm_by_process(self) -> dict[int, float]:
        """VmHWM of the JVM and of each live Python worker process."""
        tree = sample_tree(self.pid)
        return {pid: vm_hwm_mb([pid]) for pid in (tree.jvm_pid, *tree.pyworker_pids)}

    def per_layer(self, untraced: Passes, traced: Passes, setup: dict) -> dict[str, float]:
        recs, n = traced.records, len(traced.records)
        out: dict[str, float] = dict(setup)
        for name in recs[0]:
            out[name] = sum(r[name] for r in recs) / n
        for name in ("exec.peak_exec_mem_mb", "stream.state_mem_mb"):
            out[name] = max(r[name] for r in recs)
        out["trace.latency_mean_s"] = statistics.mean(traced.latencies)
        out["trace.latency_p50_s"] = statistics.median(traced.latencies)
        out["trace.untraced_latency_mean_s"] = statistics.mean(untraced.latencies)
        for part, seconds in traced.cpu.items():
            out[f"{part}.cpu_s"] = seconds / traced.executions
        out["jvm.gc_s"] = traced.gc_s / traced.executions
        out["catalog.load_s"] = self.load_seconds()
        out["trace.untraced_qps"] = len(untraced.latencies) / untraced.wall
        out["trace.traced_qps"] = len(traced.latencies) / traced.wall
        out["trace.overhead_pct"] = 100 * (out["trace.untraced_qps"] / out["trace.traced_qps"] - 1)
        missing = set(PER_LAYER) - set(out)
        if missing:
            raise RuntimeError(f"per-layer metrics not measured: {sorted(missing)}")
        return {k: out[k] for k in PER_LAYER}

    def load_seconds(self, reps: int = 3) -> float:
        """Median time of one warm ``catalog.load`` over every table."""
        times = []
        for _ in range(reps):
            for name in self.catalog.TABLES:
                t0 = time.perf_counter()
                self.catalog.load(self.spark, self.sf_dir, name)
                times.append(time.perf_counter() - t0)
        return statistics.median(times)

    def run(self) -> tuple[dict, dict]:
        load0 = os.getloadavg()[0]
        setup = self.setup()
        sc = self.spark.sparkContext
        if self.args.trace:
            from tracing import Tracer

            self.tracer = Tracer(self.spark)
            untraced, traced = Passes(), Passes()
            modes = [(untraced, self.execute), (traced, self.execute_traced)]
            self.timed(math.ceil(self.n_passes / 2), modes)
            runs = [untraced, traced]
        else:
            runs = [Passes()]
            self.timed(self.n_passes, [(runs[0], self.execute)])
        hwm = self.hwm_by_process()
        if self.args.trace:
            metrics = self.per_layer(*runs, setup)
        else:
            metrics = self.end_to_end(runs[0], setup, hwm)
        self.recheck_digests()
        units = PER_LAYER if self.args.trace else END_TO_END
        wrong = {k for k, c in self.checks.items() if not c["ok"]}
        attempted = sum(r.executions for r in runs)
        # an execution that raised, or whose key gave a wrong output, failed
        failed = sum(r.failed + sum(r.done[k] for k in wrong) for r in runs)
        report = {
            "workload": self.args.workload,
            "seed": self.args.seed,
            "trace": self.args.trace,
            "executions": attempted,
            "passes": sum(r.passes for r in runs),
            "timed_wall_s": round(sum(r.wall for r in runs), 3),
            "setup": {k: round(v, 3) for k, v in setup.items()},
            "checks_s": round(self.check_s, 3),
            "deployment": {
                "master": sc.master,
                "default_parallelism": sc.defaultParallelism,
                "driver_memory": self.spark.conf.get("spark.driver.memory"),
                "malloc_arena_max": os.environ["MALLOC_ARENA_MAX"],
                "host": host(),
                "spark": self.spark.version,
                "python": platform.python_version(),
                "loadavg_1m_start": load0,
                "loadavg_1m_end": os.getloadavg()[0],
            },
            "latency_s_by_key": runs[0].by_key,
            "vm_hwm_mb": {str(pid): round(mb, 1) for pid, mb in hwm.items()},
            "checks": self.checks,
            "failed_keys": sorted(self.failed_keys | wrong),
        }
        result = {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        }
        return report, result

    def stop(self) -> None:
        """Stop the session, the JVM it launched and the Python workers,
        and wait for each to end."""
        from pyspark import SparkContext

        spark = getattr(self, "spark", None)
        if spark is None:
            return
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        spark.stop()
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    for needed in (os.path.join(PACKAGE, "__init__.py"), os.path.join("tests", "parity.py")):
        if not os.path.exists(os.path.join(ROOT, needed)):
            print(f"perfbench: {needed} not found under {ROOT}", file=sys.stderr)
            return 2
    run_dir = os.path.join(HERE, ".runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    bench = None
    try:
        dirs = hermetic_env(run_dir, host())
        import datagen

        bench = Bench(args, dirs, datagen.write_fixture(dirs["data"], args.seed))
        report, result = bench.run()
    finally:
        if bench is not None:
            bench.stop()
        os.chdir(ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(report))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
