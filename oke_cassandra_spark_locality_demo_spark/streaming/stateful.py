"""Stateful streaming: dedup, watermarks, arbitrary per-key state, sinks.

The oracle-checked keys use deterministic batch equivalents; the real
incremental forms (dropDuplicates state store, watermark-driven late
drop, applyInPandasWithState) run under `trigger(availableNow=True)` in
the rows-only keys and the test suite.

Scale notes: streaming dedup state is bounded by the watermark horizon
(without it, state grows forever — never ship that); per-key state in
applyInPandasWithState lives in the state store keyed by the shuffle
partitioning, so key cardinality × state size is the sizing formula.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..catalog import load
from ..registry import EVENTS_US, register
from .runtime import events_stream, run_streaming_query, scoped_conf


@register(
    "q_stream_dedup",
    oracle=f"""
    SELECT event_id, user_id, event_type, ts, value
    FROM {EVENTS_US}
    QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                               ORDER BY ts, event_id) = 1
    """,
)
def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed dedup: first event per (user_id, event_type) by event time.
    Batch form is the deterministic window-rank pick (streaming
    `dropDuplicates` keeps an arbitrary first — exercised as such in the
    streaming tests, where any kept row is valid)."""
    e = load(spark, sf_dir, "events")
    # first row per key as a hash aggregate (min_by over (ts, event_id)),
    # not a sort window — map-side combinable, one row per key shuffles
    return (
        e.groupBy("user_id", "event_type")
        .agg(
            F.min_by(
                F.struct("event_id", "ts", "value"), F.struct("ts", "event_id")
            ).alias("r")
        )
        .select("r.event_id", "user_id", "event_type", "r.ts", "r.value")
    )


@register(
    "q_stream_watermark_late",
    oracle=f"""
    SELECT CAST(TO_TIMESTAMP(FLOOR(EPOCH(ts) / 600) * 600) AS TIMESTAMP)
               AS wstart,
           COUNT(*) AS n
    FROM {EVENTS_US}
    GROUP BY 1
    """,
)
def q_stream_watermark_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True streaming run: 10-minute watermark + tumbling count, executed
    incrementally with availableNow into a memory sink. In a single
    replay nothing is late, so totals equal the batch tumbling counts —
    which IS the oracle (epoch-bucketed 10-minute windows in SQL); the
    dedicated test drives a two-batch replay where a late row is
    actually dropped, the part an oracle can't express."""

    def xf(stream: DataFrame) -> DataFrame:
        return (
            # watermarks require TIMESTAMP (LTZ); the staged events carry
            # TIMESTAMP_NTZ — cast under the session's UTC zone
            stream.withColumn("ts", F.col("ts").cast("timestamp"))
            .withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "10 minutes").alias("w"))
            .agg(F.count(F.lit(1)).alias("n"))
            # window bounds are tz-aware (watermark required the LTZ cast);
            # cast back to NTZ for output parity (UTC session → value-exact)
            .select(F.col("w.start").cast("timestamp_ntz").alias("wstart"), "n")
        )

    return run_streaming_query(spark, sf_dir, xf, output_mode="complete")


_STATE_SCHEMA = T.StructType([T.StructField("seen", T.LongType())])
_OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("events_seen", T.LongType()),
    ]
)


def _count_per_user(key, pdf_iter, state):
    """applyInPandasWithState update fn: running event count per user."""
    seen = state.get[0] if state.exists else 0
    for pdf in pdf_iter:
        seen += len(pdf)
    state.update((seen,))
    yield pd.DataFrame({"user_id": [key[0]], "events_seen": [seen]})


@register(
    "q_stream_stateful",
    oracle="""
    SELECT user_id, COUNT(*) AS events_seen
    FROM events
    GROUP BY user_id
    """,
)
def q_stream_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary stateful op: per-user running count via
    `applyInPandasWithState` (GroupState in the state store), run as a
    real incremental query. After a full replay the final state equals
    the batch GROUP BY — which is the oracle."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    def xf(stream: DataFrame) -> DataFrame:
        return stream.groupBy("user_id").applyInPandasWithState(
            _count_per_user,
            outputStructType=_OUT_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )

    result = run_streaming_query(spark, sf_dir, xf, output_mode="update")
    # availableNow may emit multiple updates per key across micro-batches;
    # the final state per user is the max running count.
    return result.groupBy("user_id").agg(F.max("events_seen").alias("events_seen"))


_TWS_OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("events_seen", T.LongType()),
        T.StructField("max_value", T.DoubleType()),
    ]
)


def _make_user_agg_processor():
    """StatefulProcessor for transformWithStateInPandas (Spark 4's
    arbitrary-state API, successor to applyInPandasWithState): per-user
    running count + max via a ValueState cell."""
    from pyspark.sql.streaming.stateful_processor import StatefulProcessor

    class UserAggProcessor(StatefulProcessor):
        def init(self, handle) -> None:
            self._state = handle.getValueState(
                "agg", "seen BIGINT, vmax DOUBLE"
            )

        def handleInputRows(self, key, rows, timerValues):
            if self._state.exists():
                seen, vmax = self._state.get()
            else:
                seen, vmax = 0, None
            for pdf in rows:
                seen += len(pdf)
                m = float(pdf["value"].max())
                vmax = m if vmax is None else max(vmax, m)
            self._state.update((seen, vmax))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "events_seen": [seen],
                    "max_value": [vmax],
                }
            )

        def close(self) -> None:
            pass

    return UserAggProcessor()


def _tws_available() -> bool:
    """transformWithState's Python worker needs protobuf, which this
    container lacks (pip installs are off-limits) — gate behind an
    import-try per the environment contract."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


def _count_max_per_user(key, pdf_iter, state):
    """applyInPandasWithState fallback body: running (count, max)."""
    if state.exists:
        seen, vmax = state.get
    else:
        seen, vmax = 0, None
    for pdf in pdf_iter:
        seen += len(pdf)
        m = float(pdf["value"].max())
        vmax = m if vmax is None else max(vmax, m)
    state.update((seen, vmax))
    yield pd.DataFrame(
        {"user_id": [key[0]], "events_seen": [seen], "max_value": [vmax]}
    )


@register(
    "q_stream_stateful_tws",
    oracle="""
    SELECT user_id, COUNT(*) AS events_seen, MAX(value) AS max_value
    FROM events
    GROUP BY user_id
    """,
)
def q_stream_stateful_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """transformWithStateInPandas (Spark 4 arbitrary-state API): per-user
    running count + max through a ValueState cell on the RocksDB state
    store — the production store whose changelog checkpointing keeps
    100 TB streaming state restartable. The API's Python worker needs
    protobuf, absent in this container, so the same semantics fall back
    to applyInPandasWithState when unavailable. Final state equals the
    batch GROUP BY either way (max over doubles is order-exact, so the
    oracle is exact)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    use_tws = _tws_available()

    def xf(stream: DataFrame) -> DataFrame:
        grouped = stream.groupBy("user_id")
        if use_tws:
            return grouped.transformWithStateInPandas(
                statefulProcessor=_make_user_agg_processor(),
                outputStructType=_TWS_OUT_SCHEMA,
                outputMode="Update",
                timeMode="None",
            )
        return grouped.applyInPandasWithState(
            _count_max_per_user,
            outputStructType=_TWS_OUT_SCHEMA,
            stateStructType="seen BIGINT, vmax DOUBLE",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )

    provider = {
        "spark.sql.streaming.stateStore.providerClass":
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    } if use_tws else {}
    with scoped_conf(spark, provider):
        # run_streaming_query barriers the sink read under starvation
        result = run_streaming_query(spark, sf_dir, xf, output_mode="update")
    return result.groupBy("user_id").agg(
        F.max("events_seen").alias("events_seen"),
        F.max("max_value").alias("max_value"),
    )


@register(
    "q_stream_sink",
    oracle="SELECT COUNT(*) AS n_rows, COUNT(DISTINCT event_id) AS n_ids FROM events",
)
def q_stream_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-sink round trip: readStream → append-mode parquet sink with
    checkpoint (exactly-once via sink manifest) → batch read-back."""
    import os
    import shutil

    from ..workdir import scratch_root

    out_root = scratch_root("stream_sink")
    tag = os.path.basename(os.path.normpath(sf_dir))
    data_dir = os.path.join(out_root, tag, "data")
    ckpt_dir = os.path.join(out_root, tag, "ckpt")
    shutil.rmtree(os.path.join(out_root, tag), ignore_errors=True)

    q = (
        events_stream(spark, sf_dir)
        .writeStream.format("parquet")
        .option("path", data_dir)
        .option("checkpointLocation", ckpt_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    back = spark.read.parquet(data_dir)
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("event_id").alias("n_ids"),
    )


@register(
    "q_stream_foreach_batch",
    oracle="""
    SELECT event_type, COUNT(*) AS n,
           CAST(SUM(CAST(ROUND(value * 10000.0) AS BIGINT)) AS BIGINT) AS total_value_tt
    FROM events WHERE event_type <> 'error'
    GROUP BY event_type
    """,
)
def q_stream_foreach_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch sink: each micro-batch lands as one parquet append
    partitioned by its epoch id — the escape hatch for sinks Spark has no
    native writer for (JDBC upserts, MERGEs, multi-table fan-out). The
    epoch directory makes replays idempotent at the batch level: a
    restarted query overwrites its epoch instead of double-appending.
    Read-back aggregate is oracle-checked against the batch equivalent."""
    import os
    import shutil

    from ..workdir import scratch_root

    out_root = scratch_root("feb_sink")
    tag = os.path.basename(os.path.normpath(sf_dir))
    data_dir = os.path.join(out_root, tag, "data")
    ckpt_dir = os.path.join(out_root, tag, "ckpt")
    shutil.rmtree(os.path.join(out_root, tag), ignore_errors=True)

    def write_epoch(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(
            os.path.join(data_dir, f"epoch={epoch_id}")
        )

    q = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") != "error")
        .writeStream.foreachBatch(write_epoch)
        .option("checkpointLocation", ckpt_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    back = spark.read.option("basePath", data_dir).parquet(data_dir)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        # tt-units, not SUM(decimal-cast) — the events.value decimal path
        # is the q_agg_incremental driver hash-fail shape (FIXTURES.md)
        F.sum(F.round(F.col("value") * 10000.0, 0).cast("long")).alias(
            "total_value_tt"
        ),
    )


def cdc_latest_snapshot(base_dir: str) -> str | None:
    """Recover the current CDC snapshot FROM DISK, not a closure: a
    query restarted over the same checkpoint gets a fresh closure
    (cur=None) while the checkpoint resumes at epoch N+1 — merging
    against None there would silently drop every pre-crash upsert.
    This is the transaction-log discovery any Delta/Iceberg reader
    does on open. Only PUBLISHED snapshots count: cdc_merge_epoch
    stages to ``.tmp`` and renames, so a torn write is never
    recovered."""
    import os

    if not os.path.isdir(base_dir):
        return None
    snaps = [
        d
        for d in os.listdir(base_dir)
        if d.startswith("snap_epoch=") and not d.endswith(".tmp")
    ]
    if not snaps:
        return None
    latest = max(snaps, key=lambda d: int(d.rsplit("=", 1)[1]))
    return os.path.join(base_dir, latest)


def cdc_merge_epoch(
    spark: SparkSession,
    base_dir: str,
    state: dict,
    batch_df: DataFrame,
    epoch_id: int,
    _crash_before_publish: bool = False,
) -> None:
    """One CDC micro-batch merge: latest-per-key max_by((ts, event_id))
    between the standing snapshot (recovered from disk when the closure
    is fresh — see cdc_latest_snapshot) and the batch, tombstones
    ('error' → op='D') kept as rows, snapshot published
    STAGE-THEN-RENAME: a crash mid-write leaves only a ``.tmp`` dir
    recovery ignores, and a REPLAYED epoch — whose prior snapshot may
    be the very one being read — swaps in atomically after the read
    completes. Replay is idempotent by construction: re-applying a
    batch over a snapshot that already contains it changes nothing
    (max of max). ``_crash_before_publish`` is the fault-injection
    seam the crash-replay test uses: stage the full write, then die
    before the rename — the torn-epoch shape."""
    import os
    import shutil

    if state.get("cur") is None:
        state["cur"] = cdc_latest_snapshot(base_dir)
    feed = batch_df.select(
        "user_id",
        "event_id",
        "ts",
        "value",
        F.when(F.col("event_type") == "error", "D").otherwise("U").alias("op"),
    )
    if state["cur"] is not None:
        feed = spark.read.parquet(state["cur"]).unionByName(feed)
    merged = (
        feed.groupBy("user_id")
        .agg(
            F.max_by(
                F.struct("event_id", "ts", "value", "op"),
                F.struct("ts", "event_id"),
            ).alias("r")
        )
        .select("user_id", "r.event_id", "r.ts", "r.value", "r.op")
    )
    nxt = os.path.join(base_dir, f"snap_epoch={epoch_id}")
    tmp = nxt + ".tmp"
    merged.write.mode("overwrite").parquet(tmp)
    if _crash_before_publish:
        raise RuntimeError(
            f"injected crash: epoch {epoch_id} staged but not published"
        )
    shutil.rmtree(nxt, ignore_errors=True)
    os.replace(tmp, nxt)
    state["cur"] = nxt


@register(
    "q_stream_cdc_upsert",
    oracle=f"""
    WITH feed AS (
        SELECT user_id, event_id, ts, value,
               CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op
        FROM {EVENTS_US}
    ),
    latest AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                     ORDER BY ts DESC, event_id DESC) AS rn
        FROM feed
    )
    SELECT user_id, event_id AS last_event_id, ts AS last_ts, value AS last_value
    FROM latest WHERE rn = 1 AND op <> 'D'
    """,
)
def q_stream_cdc_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING CDC UPSERT SINK: each micro-batch foreachBatch-MERGEs
    into a keyed snapshot — the production pattern for materializing a
    change stream as a queryable current-state table (Kafka→Delta
    upsert, re-expressed on plain parquet with per-epoch snapshot
    versions standing in for the transaction log). The merge keeps
    max_by((ts, event_id)) between the standing snapshot and the batch
    — associative and commutative, so the final state is independent of
    how the replay was batched (forced multi-batch here via
    maxFilesPerTrigger=1). Deletes live in the snapshot as TOMBSTONES
    (merge-on-read): a late-arriving older upsert cannot resurrect a
    newer delete, and the read path filters them out — exactly
    q_cdc_apply's batch semantics, which is what the oracle checks.

    100 TB story: the per-batch merge is one keyed shuffle of
    |snapshot|+|batch| rows (with map-side latest-per-key combine on
    the batch side); real deployments replace the full-snapshot rewrite
    with Delta/Iceberg MERGE (row-group level) and compact tombstones
    on a schedule."""
    import os
    import shutil

    from ..catalog import read_parquet
    from ..workdir import scratch_root
    from .runtime import stage_events_dir

    out_root = scratch_root("cdc_sink")
    tag = os.path.basename(os.path.normpath(sf_dir))
    base_dir = os.path.join(out_root, tag)
    shutil.rmtree(base_dir, ignore_errors=True)
    ckpt_dir = os.path.join(base_dir, "ckpt")
    state = {"cur": None}

    def merge_epoch(batch_df: DataFrame, epoch_id: int) -> None:
        # protocol lives module-level (cdc_merge_epoch) so the
        # crash-replay test can drive it with injected faults
        cdc_merge_epoch(spark, base_dir, state, batch_df, epoch_id)

    src = stage_events_dir(spark, sf_dir)
    schema = read_parquet(spark, src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(merge_epoch)
        .option("checkpointLocation", ckpt_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    snap = spark.read.parquet(state["cur"])
    return snap.filter(F.col("op") != "D").select(
        "user_id",
        F.col("event_id").alias("last_event_id"),
        F.col("ts").alias("last_ts"),
        F.col("value").alias("last_value"),
    )
