"""Structured Streaming forms: batch/stream agreement, late-data drop,
stateful dedup — the incremental halves of the q_stream_* keys."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from oke_cassandra_spark_locality_demo_spark.catalog import load
from oke_cassandra_spark_locality_demo_spark.registry import get
from oke_cassandra_spark_locality_demo_spark.streaming.runtime import (
    run_streaming_query,
    scoped_conf,
)
from oke_cassandra_spark_locality_demo_spark.streaming.windows import STREAMING_FORMS


def _rowset(df):
    cols = sorted(df.columns)
    return sorted(tuple(str(r[c]) for c in cols) for r in df.collect())


def test_tumbling_stream_matches_batch(spark, sf_dir):
    batch = get("q_stream_tumbling").fn(spark, sf_dir)
    stream = run_streaming_query(
        spark, sf_dir, STREAMING_FORMS["q_stream_tumbling"], "complete"
    )
    assert _rowset(stream) == _rowset(batch)


def test_session_stream_matches_batch(spark, sf_dir):
    batch = get("q_stream_session").fn(spark, sf_dir)
    stream = run_streaming_query(
        spark, sf_dir, STREAMING_FORMS["q_stream_session"], "complete"
    )
    assert _rowset(stream) == _rowset(batch)


def test_streaming_dedup_drops_duplicate_ids(spark, sf_dir):
    """dropDuplicates over a stream: replaying events twice (two files)
    must still yield each event_id once."""

    src = os.path.join(tempfile.gettempdir(), "graft_dedup_src")
    ckpt = os.path.join(tempfile.gettempdir(), "graft_dedup_ckpt")
    for p in (src, ckpt):
        shutil.rmtree(p, ignore_errors=True)
    e = load(spark, sf_dir, "events")
    n_unique = e.count()
    e.write.mode("overwrite").parquet(src)
    # second copy of the same rows = duplicates arriving later
    e.write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(e.schema)
        .parquet(src)
        .dropDuplicates(["event_id"])
    )
    name = "graft_dedup_sink"
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.table(name)
    assert got.count() == n_unique
    assert got.select("event_id").distinct().count() == n_unique


def test_watermark_drops_late_row(spark, sf_dir):
    """Two-batch replay: after the watermark passes a window, a late row
    for that window is dropped (append mode only emits closed windows)."""
    src = os.path.join(tempfile.gettempdir(), "graft_late_src")
    ckpt = os.path.join(tempfile.gettempdir(), "graft_late_ckpt")
    for p in (src, ckpt):
        shutil.rmtree(p, ignore_errors=True)
    os.makedirs(src)

    schema = "event_id long, ts string, value double"
    batch1 = spark.createDataFrame(
        [(1, "2024-01-01 00:01:00", 1.0), (2, "2024-01-01 01:00:00", 1.0)],
        schema,
    ).selectExpr("event_id", "cast(ts as timestamp) ts", "value")
    # late row: window 00:00-00:10 is far behind the 01:00 watermark
    batch2 = spark.createDataFrame(
        [(3, "2024-01-01 00:02:00", 1.0), (4, "2024-01-01 02:00:00", 1.0)],
        schema,
    ).selectExpr("event_id", "cast(ts as timestamp) ts", "value")

    sink = os.path.join(tempfile.gettempdir(), "graft_late_sink")
    shutil.rmtree(sink, ignore_errors=True)

    def run_once():
        stream = (
            spark.readStream.schema(batch1.schema)
            .parquet(src)
            .withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "10 minutes").alias("w"))
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("w.start").alias("wstart"), "n")
        )
        # memory sink can't resume from a checkpoint; the file sink is the
        # checkpoint-recoverable path (and the production shape anyway)
        q = (
            stream.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.read.parquet(sink)

    batch1.write.mode("append").parquet(src)
    run_once()
    batch2.write.mode("append").parquet(src)
    out = run_once()
    emitted = {(str(r["wstart"]), r["n"]) for r in out.collect()}
    # the 00:00 window was emitted with n=1 (event 1) when the watermark
    # passed it; late event 3 must not re-open it
    assert ("2024-01-01 00:00:00", 1) in emitted
    assert ("2024-01-01 00:00:00", 2) not in emitted


def test_stream_stream_join_matches_batch(spark, sf_dir):
    """Two-sided incremental interval join agrees with the batch form
    (inner stream-stream joins emit every match regardless of
    watermark; the watermark only bounds retained state)."""
    from oke_cassandra_spark_locality_demo_spark.streaming.joins import streaming_join

    batch = get("q_stream_join_interval").fn(spark, sf_dir)
    stream = run_streaming_query(spark, sf_dir, streaming_join, "append")
    assert _rowset(stream) == _rowset(batch)


def test_stream_static_join_matches_batch(spark, sf_dir):
    """Stateless stream-static dimension join: every micro-batch probes
    the broadcast static side; the union of micro-batch outputs equals
    the batch join."""
    from oke_cassandra_spark_locality_demo_spark.streaming.joins import (
        streaming_static_join,
    )

    customer = load(spark, sf_dir, "customer")
    batch = get("q_stream_join_static").fn(spark, sf_dir)
    stream = run_streaming_query(
        spark, sf_dir, lambda e: streaming_static_join(e, customer), "append"
    )
    assert _rowset(stream) == _rowset(batch)


def test_stateful_running_count_matches_batch(spark, sf_dir):
    result = get("q_stream_stateful").fn(spark, sf_dir)
    batch = (
        load(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("events_seen"))
    )
    assert _rowset(result) == _rowset(batch)


def test_rocksdb_state_store_provider(spark, sf_dir):
    """The 100 TB streaming-state answer is the RocksDB state store
    (spillable off-heap state + changelog checkpointing) instead of the
    default in-memory HDFS-backed provider. Run the stateful windowed
    aggregation on RocksDB and require the identical result — proving
    the engine's stateful operators are provider-agnostic and the
    scale-out store actually works in this build."""
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    baseline = run_streaming_query(
        spark, sf_dir, STREAMING_FORMS["q_stream_tumbling"], "complete"
    )
    try:
        spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        )
        rocks = run_streaming_query(
            spark, sf_dir, STREAMING_FORMS["q_stream_tumbling"], "complete"
        )
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
    assert _rowset(rocks) == _rowset(baseline)


def test_stream_stream_outer_join_matches_batch(spark, sf_dir):
    """LEFT OUTER stream-stream join: null-padded rows are only final
    once the watermark passes p_ts + interval; inside the finalized
    region (the batch key's cutoff) streaming and batch must agree
    exactly — including which purchases got NULL matches."""
    from oke_cassandra_spark_locality_demo_spark.streaming.joins import (
        finalized_cutoff,
        streaming_outer_join,
    )

    batch = get("q_stream_join_outer").fn(spark, sf_dir)
    cut = finalized_cutoff(load(spark, sf_dir, "events")).collect()[0]["cut"]
    stream = run_streaming_query(
        spark, sf_dir, streaming_outer_join, "append"
    ).filter(F.col("p_ts") <= F.lit(cut))
    assert _rowset(stream) == _rowset(batch)


def test_checkpoint_resume_processes_only_new_files(spark, sf_dir):
    """Exactly-once across restarts: a file-source → file-sink query is
    run to completion, new data arrives, and a NEW query instance over
    the SAME checkpoint must process only the new file — the sink ends
    with each input row exactly once. This is the recovery contract a
    100 TB ingest pipeline leans on: restarts are replays of offsets,
    not reprocessing."""
    base = tempfile.mkdtemp(prefix="graft_ckpt_")
    src, sink, ckpt = (os.path.join(base, d) for d in ("src", "sink", "ckpt"))
    ev = load(spark, sf_dir, "events").select("event_id", "event_type", "value")
    a = ev.filter(F.col("event_id") % 2 == 0)
    b = ev.filter(F.col("event_id") % 2 == 1)
    n_a, n_b = a.count(), b.count()
    schema = ev.schema

    def run_once():
        q = (
            spark.readStream.schema(schema)
            .parquet(src)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    try:
        a.coalesce(1).write.parquet(os.path.join(src, "batch_a"))
        # file source needs a flat dir of files; point it at the part files
        for f in os.listdir(os.path.join(src, "batch_a")):
            if f.endswith(".parquet"):
                os.rename(
                    os.path.join(src, "batch_a", f), os.path.join(src, "a.parquet")
                )
        shutil.rmtree(os.path.join(src, "batch_a"))
        run_once()
        assert spark.read.parquet(sink).count() == n_a
        b.coalesce(1).write.parquet(os.path.join(src, "batch_b"))
        for f in os.listdir(os.path.join(src, "batch_b")):
            if f.endswith(".parquet"):
                os.rename(
                    os.path.join(src, "batch_b", f), os.path.join(src, "b.parquet")
                )
        shutil.rmtree(os.path.join(src, "batch_b"))
        run_once()
        out = spark.read.parquet(sink)
        # exactly once: every event id exactly one row, nothing replayed
        assert out.count() == n_a + n_b
        assert out.select("event_id").distinct().count() == n_a + n_b
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_streaming_dedup_within_watermark(spark, sf_dir):
    """dropDuplicatesWithinWatermark — the bounded-state streaming dedup:
    unlike plain dropDuplicates (whose key state grows forever), state
    is evicted once the watermark passes, which is the only dedup that
    survives an unbounded 100 TB stream; duplicates here arrive within
    the watermark window, so the result is still exact."""
    src = os.path.join(tempfile.gettempdir(), "graft_dedupww_src")
    ckpt = os.path.join(tempfile.gettempdir(), "graft_dedupww_ckpt")
    for p in (src, ckpt):
        shutil.rmtree(p, ignore_errors=True)
    e = load(spark, sf_dir, "events").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    n_unique = e.count()
    e.write.mode("overwrite").parquet(src)
    e.write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(e.schema)
        .parquet(src)
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    name = "graft_dedupww_sink"
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.table(name)
    assert got.count() == n_unique
    assert got.select("event_id").distinct().count() == n_unique


def test_multires_stream_matches_batch(spark, sf_dir):
    """Chained windowed aggregations stream incrementally (Spark 3.5+):
    10-min tumbling → hourly rollup with a watermark, append mode. The
    streaming form must equal the batch rollup on every hour the
    watermark finalized before the replay ended."""
    from oke_cassandra_spark_locality_demo_spark.streaming.windows import _multires

    batch = get("q_stream_multires").fn(spark, sf_dir)
    cut = (
        load(spark, sf_dir, "events")
        .agg((F.max("ts") - F.expr("INTERVAL 2 HOURS")).alias("cut"))
        .collect()[0]["cut"]
    )

    def xf(stream):
        return _multires(
            stream.withColumn("ts", F.col("ts").cast("timestamp")).withWatermark(
                "ts", "30 minutes"
            )
        )

    stream = run_streaming_query(spark, sf_dir, xf, "append").filter(
        F.col("hstart") <= F.lit(cut)
    )
    batch_cut = batch.filter(F.col("hstart") <= F.lit(cut))
    assert _rowset(stream) == _rowset(batch_cut)
    assert stream.count() > 0, "cutoff left nothing to compare"


def test_stream_stream_semi_join_matches_batch(spark, sf_dir):
    """LEFT SEMI stream-stream join: each purchase with >=1 prior-10min
    same-user event emits exactly once; a finite full replay equals the
    batch semi-join (semi emits on first match — no finalization
    cutoff needed, unlike the outer form)."""
    from oke_cassandra_spark_locality_demo_spark.streaming.joins import (
        streaming_semi_join,
    )

    batch = get("q_stream_join_semi").fn(spark, sf_dir)
    stream = run_streaming_query(spark, sf_dir, streaming_semi_join, "append")
    assert sorted(map(tuple, stream.collect())) == sorted(
        map(tuple, batch.collect())
    )


def test_foreachbatch_epoch_overwrite_survives_midbatch_crash(spark, sf_dir):
    """Exactly-once through a CRASH, not just a clean restart: the
    foreachBatch epoch pattern (q_stream_foreach_batch) claims a
    restarted query overwrites its failed epoch instead of
    double-appending. Prove it: a 4-batch run (maxFilesPerTrigger=2
    over the 8-file staged source) whose sink writes a PARTIAL epoch
    directory then dies mid-batch on its first encounter with epoch 1;
    the restarted query must replay that epoch under the SAME id,
    overwrite the partial, and finish with the sink equal to the batch
    aggregate — every input row exactly once, the torn write invisible.
    This is the claim a 100 TB replayable ingest leans on: failures
    are epoch replays, and epoch-keyed overwrite makes replays
    idempotent."""
    import shutil

    from oke_cassandra_spark_locality_demo_spark.streaming.runtime import (
        stage_events_dir,
    )

    base = tempfile.mkdtemp(prefix="graft_feb_crash_")
    data_dir = os.path.join(base, "data")
    ckpt = os.path.join(base, "ckpt")
    crash_marker = os.path.join(base, "crashed_once")

    def write_epoch(batch_df, epoch_id):
        out = os.path.join(data_dir, f"epoch={epoch_id}")
        if epoch_id == 1 and not os.path.exists(crash_marker):
            # torn write: half the batch lands, then the "process" dies
            batch_df.limit(3).write.mode("overwrite").parquet(out)
            open(crash_marker, "w").close()
            raise RuntimeError("injected mid-batch crash after partial write")
        batch_df.write.mode("overwrite").parquet(out)

    src = stage_events_dir(spark, sf_dir)
    schema = spark.read.parquet(src).schema

    def run():
        q = (
            spark.readStream.schema(schema)
            # source option, not sink: 8 staged files / 2 = 4 batches
            .option("maxFilesPerTrigger", 2)
            .parquet(src)
            .writeStream.foreachBatch(write_epoch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    try:
        try:
            run()
            raise AssertionError("injected crash did not surface")
        except Exception as e:  # noqa: BLE001 — the injection must fire
            assert "injected mid-batch crash" in str(e), str(e)[:300]
        assert os.path.exists(crash_marker)
        run()  # restart over the same checkpoint replays epoch 1
        back = spark.read.option("basePath", data_dir).parquet(data_dir)
        expect = load(spark, sf_dir, "events").agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("event_id").alias("ids"),
        ).collect()[0]
        got = back.agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("event_id").alias("ids"),
        ).collect()[0]
        assert (got["n"], got["ids"]) == (expect["n"], expect["ids"]), (
            got, expect,
        )
        # the torn epoch was replaced, not appended to
        assert got["n"] == got["ids"], "duplicate rows survived the replay"
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_cdc_merge_recovers_from_disk_and_ignores_torn_snapshot(spark):
    """Crash-replay contract for the CDC upsert protocol
    (streaming/stateful.py cdc_merge_epoch): a crash AFTER staging but
    BEFORE publishing an epoch leaves only a ``.tmp`` snapshot; a
    restarted query (fresh closure, state lost) must recover the last
    PUBLISHED snapshot from disk, replay the torn epoch under the same
    id, and converge — no pre-crash upsert lost, no torn bytes read,
    and a tombstone never resurrected by a late older upsert. This is
    the transaction-log recovery discipline the docstring claims; the
    registered query exercises the same module-level function."""
    from datetime import datetime

    from oke_cassandra_spark_locality_demo_spark.streaming.stateful import (
        cdc_latest_snapshot,
        cdc_merge_epoch,
    )

    def batch(rows):
        return spark.createDataFrame(
            rows,
            "user_id long, event_id long, ts timestamp, value double, "
            "event_type string",
        )

    t = lambda d: datetime(2024, 1, d)  # noqa: E731
    base = tempfile.mkdtemp(prefix="graft_cdc_crash_")
    try:
        state = {}
        b0 = batch([(1, 1, t(1), 10.0, "click"), (2, 2, t(1), 20.0, "click"),
                    (3, 3, t(1), 30.0, "click")])
        cdc_merge_epoch(spark, base, state, b0, 0)

        # epoch 1: update user 2, DELETE user 3 — staged, then crash
        b1 = batch([(2, 4, t(2), 25.0, "click"), (3, 5, t(2), 0.0, "error")])
        try:
            cdc_merge_epoch(spark, base, {}, b1, 1, _crash_before_publish=True)
            raise AssertionError("injected crash did not surface")
        except RuntimeError as e:
            assert "injected crash" in str(e)
        assert os.path.isdir(os.path.join(base, "snap_epoch=1.tmp"))
        # recovery must see ONLY the published epoch-0 snapshot
        assert cdc_latest_snapshot(base).endswith("snap_epoch=0")

        # restart: fresh closure replays epoch 1, then epoch 2 arrives
        # with a new user AND a LATE, OLDER upsert for deleted user 3
        state2 = {}
        cdc_merge_epoch(spark, base, state2, b1, 1)
        b2 = batch([(4, 6, t(3), 40.0, "click"),
                    (3, 1_000_000, t(1), 99.0, "click")])
        cdc_merge_epoch(spark, base, state2, b2, 2)

        snap = spark.read.parquet(state2["cur"])
        live = {
            r["user_id"]: (r["event_id"], r["value"])
            for r in snap.filter(F.col("op") != "D").collect()
        }
        assert live == {1: (1, 10.0), 2: (4, 25.0), 4: (6, 40.0)}, live
        # the tombstone survives as a row (merge-on-read), hiding user 3
        dead = snap.filter(F.col("op") == "D").collect()
        assert [r["user_id"] for r in dead] == [3]
    finally:
        import shutil

        shutil.rmtree(base, ignore_errors=True)


_REPLAY_CONFS = (
    "spark.sql.shuffle.partitions",
    "spark.sql.streaming.checkpointFileManagerClass",
)


def _sink_views(spark):
    return [
        t.name for t in spark.catalog.listTables()
        if t.name.startswith("graft_sink_")
    ]


def test_replays_leave_no_sink_view(spark, sf_dir):
    """Each replay drops its memory sink's temp view: the returned
    DataFrame keeps the sink's rows, the session keeps neither."""
    counts = [
        run_streaming_query(
            spark, sf_dir, lambda s: s.groupBy("user_id").count(), "complete"
        ).count()
        for _ in range(3)
    ]
    pyds = get("q_stream_pyds").fn(spark, sf_dir).count()
    assert _sink_views(spark) == []
    n_users = load(spark, sf_dir, "events").select("user_id").distinct().count()
    assert counts == [n_users] * 3
    assert pyds == 3


def test_replay_restores_session_conf(spark, sf_dir):
    """The replay's start-time settings are scoped to ``start()``: the
    caller's session reads exactly as before, also when ``start()``
    raises (append mode over an aggregation without a watermark fails
    analysis there)."""
    from pyspark.errors import AnalysisException

    def read():
        return {k: spark.conf.get(k, None) for k in _REPLAY_CONFS}

    before = read()
    run_streaming_query(spark, sf_dir, lambda s: s.groupBy("user_id").count())
    assert read() == before
    fc = ("org.apache.spark.sql.execution.streaming.checkpointing."
          "FileContextBasedCheckpointFileManager")
    with scoped_conf(spark, {_REPLAY_CONFS[1]: fc}):
        with pytest.raises(AnalysisException):
            run_streaming_query(
                spark, sf_dir, lambda s: s.groupBy("user_id").count(), "append"
            )
        assert read() == {**before, _REPLAY_CONFS[1]: fc}
    assert read() == before
    assert _sink_views(spark) == []


def test_replay_takes_one_wave_of_state_partitions(spark, sf_dir):
    """A replay's state operator gets min(shuffle partitions,
    defaultParallelism) partitions: on a temporary checkpoint every
    partition past one wave of cores only adds a state store."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Parts(StreamingQueryListener):
        def __init__(self):
            self.seen = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            self.seen += [
                s.numShufflePartitions for s in event.progress.stateOperators
            ]

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    wave = spark.sparkContext.defaultParallelism
    listener = Parts()
    spark.streams.addListener(listener)
    try:
        # twice the cores: the session's own width must not reach the state
        with scoped_conf(spark, {"spark.sql.shuffle.partitions": str(2 * wave)}):
            run_streaming_query(
                spark, sf_dir, lambda s: s.groupBy("user_id").count()
            )
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    finally:
        spark.streams.removeListener(listener)
    assert listener.seen and set(listener.seen) == {wave}, listener.seen
