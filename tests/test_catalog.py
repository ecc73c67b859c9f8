"""The fixture catalog's read path: footer schemas inferred once per
application and file identity, fresh relations on every load, and staged
events copies that belong to one source file."""

from __future__ import annotations

import os
import shutil
import uuid

import pyarrow as pa
import pyarrow.parquet as pq

from oke_cassandra_spark_locality_demo_spark.catalog import (
    TABLES,
    _stage_events_us,
    load,
)
from oke_cassandra_spark_locality_demo_spark.streaming.runtime import stage_events_dir


def _jobs_started(spark, fn) -> list[int]:
    """Ids of the Spark jobs that ``fn()`` starts."""
    sc = spark.sparkContext
    group = f"catalog-test-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "catalog test")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return list(sc.statusTracker().getJobIdsForGroup(group))


def test_second_load_starts_no_job(spark, sf_dir):
    for name in TABLES:
        load(spark, sf_dir, name)
    started = _jobs_started(
        spark, lambda: [load(spark, sf_dir, name) for name in TABLES]
    )
    assert started == []


def test_cached_schema_equals_inferred_schema(spark, sf_dir):
    for name in TABLES:
        path = (
            _stage_events_us(sf_dir)
            if name == "events"
            else os.path.join(sf_dir, f"{name}.parquet")
        )
        load(spark, sf_dir, name)  # the second load reads the cached schema
        assert load(spark, sf_dir, name).schema == spark.read.parquet(path).schema, name


def test_file_rewritten_in_place_is_reinferred(spark, tmp_path):
    path = tmp_path / "region.parquet"
    pq.write_table(pa.table({"r_regionkey": [0, 1], "r_name": ["A", "B"]}), path)
    assert load(spark, str(tmp_path), "region").columns == ["r_regionkey", "r_name"]
    pq.write_table(
        pa.table({"r_regionkey": [0, 1], "r_name": ["A", "B"], "r_extra": [7, 8]}),
        path,
    )
    df = load(spark, str(tmp_path), "region")
    assert df.columns == ["r_regionkey", "r_name", "r_extra"]
    assert sorted(r.r_extra for r in df.collect()) == [7, 8]


def test_two_loads_self_join(spark, sf_dir):
    """Each load is a new relation, so a join of two loads of one table
    resolves both sides' columns; the rows equal the same join over two
    schema-inferring reads."""

    def pairs(a, b):
        j = a.join(b, a["n_regionkey"] == b["n_regionkey"])
        return sorted(j.select(a["n_nationkey"], b["n_nationkey"]).collect())

    path = os.path.join(sf_dir, "nation.parquet")
    want = pairs(spark.read.parquet(path), spark.read.parquet(path))
    got = pairs(load(spark, sf_dir, "nation"), load(spark, sf_dir, "nation"))
    assert got == want
    assert len(got) == 125  # 5 regions of 5 nations: 5 * 5 * 5


def test_staged_events_are_per_source_file(spark, sf_dir, tmp_path):
    """Two fixture directories that share a basename get their own staged
    events copies, for the batch (µs) copy and the streaming copy."""
    events = pq.read_table(os.path.join(sf_dir, "events.parquet"))
    dirs = {}
    for parent, n in (("d1", 3), ("d2", 7)):
        d = tmp_path / parent / "sfX"
        d.mkdir(parents=True)
        pq.write_table(events.slice(0, n), d / "events.parquet")
        dirs[str(d)] = n
    staged = []
    try:
        for d, n in dirs.items():
            batch = _stage_events_us(d)
            stream = stage_events_dir(spark, d)
            staged += [os.path.dirname(batch), os.path.dirname(stream)]
            assert load(spark, d, "events").count() == n
            assert spark.read.parquet(stream).count() == n
    finally:
        for s in staged:
            shutil.rmtree(s, ignore_errors=True)
