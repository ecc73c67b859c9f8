"""Custom Python DataSource mirroring the reference's Cassandra read path.

The reference's only analytical source is
`spark.read.format("org.apache.spark.sql.cassandra")` over `testks.users`
(/root/reference/userdata/cloudinit.sh:346-349, table DDL+rows at
306-314), whose connector splits the scan into Murmur3 token ranges
(B1), advertises replica locality (B2), and pushes partition-key
predicates down to single-replica point reads (B3) — SURVEY §2.2.

This module re-creates that *source contract* on Spark's public Python
DataSource API (Spark 4): `users_tokenring` serves the same 3-row users
table, splits it into N hash "token ranges" (one input partition each —
the B1 analog), and implements `pushFilters` so an `id = k` predicate
routes the scan to exactly one partition (the B3/B2 analog of a
token-aware single-replica read). At 100 TB the same shape is how any
external keyed store (Cassandra, HBase, a KV service) is exposed to
Spark: partitions = token ranges, pushed key predicates = point routes,
everything else stays declarative above it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceWriter,
    EqualTo,
    InputPartition,
    SimpleDataSourceStreamReader,
    WriterCommitMessage,
)

from ..registry import register

#: the reference table, verbatim (cloudinit.sh:312-314)
USERS_ROWS = [
    (1, "Alice", "alice@example.com"),
    (2, "Bob", "bob@example.com"),
    (3, "Charlie", "charlie@example.com"),
]

USERS_ORACLE_VALUES = (
    "(VALUES (1, 'Alice', 'alice@example.com'),"
    " (2, 'Bob', 'bob@example.com'),"
    " (3, 'Charlie', 'charlie@example.com')) AS t(id, name, email)"
)


def _token(i: int, n_ranges: int) -> int:
    """Deterministic 'token ring' route (Murmur3-token-mod analog)."""
    return i % n_ranges


class _UsersReader(DataSourceReader):
    def __init__(self, options):
        self.n_ranges = int(options.get("ranges", "4"))
        self.point_id: int | None = None

    def pushFilters(self, filters):
        """Accept `id = k` (the partition-key predicate the connector
        turns into a routed point read); everything else is returned to
        Spark to evaluate above the scan."""
        unsupported = []
        for f in filters:
            if isinstance(f, EqualTo) and tuple(f.attribute) == ("id",):
                self.point_id = int(f.value)
            else:
                unsupported.append(f)
        return unsupported

    def partitions(self):
        if self.point_id is not None:
            # routed read: exactly one "replica" partition
            return [InputPartition(_token(self.point_id, self.n_ranges))]
        return [InputPartition(i) for i in range(self.n_ranges)]

    def read(self, partition: InputPartition):
        rng = partition.value
        for row in USERS_ROWS:
            if _token(row[0], self.n_ranges) == rng:
                if self.point_id is None or row[0] == self.point_id:
                    yield row


class UsersTokenRingDataSource(DataSource):
    """`spark.read.format("users_tokenring").option("ranges", 4)`."""

    @classmethod
    def name(cls) -> str:
        return "users_tokenring"

    def schema(self) -> str:
        # the reference's CQL schema: id int PRIMARY KEY, name text,
        # email text (cloudinit.sh:306-310)
        return "id int, name string, email string"

    def reader(self, schema) -> _UsersReader:
        return _UsersReader(self.options)

    def simpleStreamReader(self, schema) -> "_UsersStreamReader":
        return _UsersStreamReader()


class _UsersStreamReader(SimpleDataSourceStreamReader):
    """Streaming half of the source contract: the table arrives as a
    change feed (offset = rows emitted so far). One microbatch carries
    the snapshot, later batches are empty — the CDC-bootstrap shape;
    readBetweenOffsets replays a committed range deterministically for
    recovery, which is what makes the source exactly-once capable."""

    def initialOffset(self) -> dict:
        return {"offset": 0}

    def read(self, start: dict):
        if start["offset"] == 0:
            return iter(USERS_ROWS), {"offset": len(USERS_ROWS)}
        return iter([]), start

    def readBetweenOffsets(self, start: dict, end: dict):
        if start["offset"] == 0 and end["offset"] > 0:
            return iter(USERS_ROWS)
        return iter([])


def _ensure_registered(spark: SparkSession) -> None:
    # idempotent per session; re-registering the same class is harmless
    spark.dataSource.register(UsersTokenRingDataSource)
    # runtime-settable; required for pushFilters to be consulted (the
    # engine session sets it too, but queries must run on a plain one)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")


@register(
    "q_source_pyds_scan",
    oracle=f"SELECT id, name, email FROM {USERS_ORACLE_VALUES}",
)
def q_source_pyds_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full scan through the custom Python DataSource: N token-range
    input partitions, schema declared by the source (the A6 analog —
    schema comes from the store, not the query). The driver-side data
    is 3 rows only because the reference's is (cloudinit.sh:312-314);
    the partition/route machinery is what scales."""
    _ensure_registered(spark)
    return spark.read.format("users_tokenring").option("ranges", "4").load()


@register(
    "q_source_pyds_lookup",
    oracle=f"SELECT id, name, email FROM {USERS_ORACLE_VALUES} WHERE id = 2",
)
def q_source_pyds_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point lookup through the custom source: the `id = 2` predicate is
    pushed into the reader (pushFilters), which routes the scan to the
    single owning token range — one input partition instead of N, the
    B3 predicate-pushdown / token-aware-routing analog. The filter also
    stays in the plan above the scan (Spark keeps residuals), so
    correctness never depends on the source honoring the pushdown."""
    _ensure_registered(spark)
    return (
        spark.read.format("users_tokenring")
        .option("ranges", "4")
        .load()
        .filter("id = 2")
    )


@register(
    "q_stream_pyds",
    oracle=f"SELECT id, name, email FROM {USERS_ORACLE_VALUES}",
)
def q_stream_pyds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's read path as a STREAM: readStream over the custom
    Python DataSource (SimpleDataSourceStreamReader), processed to
    completion with availableNow into a memory sink — the same
    source-contract symmetry the connector has (batch scan + CDC feed
    from one store). Offsets are checkpointable dicts and
    readBetweenOffsets replays ranges, so the source slots into
    Structured Streaming's exactly-once machinery unchanged."""
    from ..streaming.runtime import replay_to_memory

    _ensure_registered(spark)
    return replay_to_memory(
        spark, spark.readStream.format("users_tokenring").load(), "append"
    )


class _TokenRouteCommit(WriterCommitMessage):
    """Per-task commit message: the hidden temp files this ATTEMPT
    wrote, plus (tmp, final) rename pairs for the driver-side commit."""

    def __init__(self, renames):
        self.renames = tuple(renames)  # ((tmp_path, final_path), ...)


class _TokenRouteWriter(DataSourceWriter):
    """Executor-side half of the writeback path (B7 analog): every task
    routes its rows to per-token-bucket JSONL files, the write-side
    mirror of the reader's token-range partitions (a Cassandra write
    routes each row to its token's replica set the same way).

    TWO-PHASE, ATTEMPT-ISOLATED (r10): tasks write HIDDEN
    attempt-unique temp files (leading underscore — ignored by Spark's
    file listing, so a half-written attempt is never readable) and
    return the rename plan in their commit message; only the
    driver-side commit(), which Spark calls with exactly ONE winning
    message per partition, renames them into place. The pre-r10 writer
    wrote final-named files straight from write(): idempotent under
    sequential retry (same name, truncating open) but corruptible by
    CONCURRENT speculative attempts of the same partition interleaving
    writes into one file, and a failed job left partial files a reader
    would ingest. Now losers' temp files stay hidden and commit()
    sweeps them; abort() removes every reported temp file. This is the
    same commit discipline Spark's own FileCommitProtocol applies —
    re-expressed at the Python DataSource layer. The speculative and
    fault-injection sweeps (tests/test_sinks.py) pin exactly-once
    read-back under both perturbations.

    Fault injection: the ``fail_attempt0_of_partition`` option makes
    the FIRST attempt of one partition write a partial temp file and
    die — the lever the task-retry test uses to prove a real retried
    task converges with no duplicate and no partial-file leak.
    """

    def __init__(self, path: str, n_ranges: int, fail_pid: int | None):
        self.path = path
        self.n_ranges = n_ranges
        self.fail_pid = fail_pid

    def write(self, iterator):
        import json as _json
        import os as _os

        from pyspark import TaskContext

        ctx = TaskContext.get()
        pid = ctx.partitionId()
        attempt = ctx.taskAttemptId()
        inject = self.fail_pid == pid and ctx.attemptNumber() == 0
        handles = {}
        renames = []
        n = 0
        try:
            for row in iterator:
                b = _token(row.id, self.n_ranges)
                if b not in handles:
                    tmp = _os.path.join(
                        self.path,
                        f"_tmp-bucket={b}-task={pid}-attempt={attempt}.jsonl",
                    )
                    final = _os.path.join(
                        self.path, f"bucket={b}-task={pid}.jsonl"
                    )
                    handles[b] = open(tmp, "w")
                    renames.append((tmp, final))
                handles[b].write(
                    _json.dumps(
                        {"id": row.id, "name": row.name, "email": row.email, "bucket": b}
                    )
                    + "\n"
                )
                n += 1
                if inject and n >= 1:
                    raise RuntimeError(
                        f"injected failure: partition {pid} attempt 0 "
                        f"after {n} rows"
                    )
        finally:
            for h in handles.values():
                h.close()
        return _TokenRouteCommit(renames)

    def commit(self, messages) -> None:
        import os as _os

        for msg in messages:
            if msg is None:
                continue
            for tmp, final in msg.renames:
                if _os.path.exists(tmp):
                    _os.replace(tmp, final)
                elif not _os.path.exists(final):
                    # ADVICE r10: a WINNING task's temp vanished before
                    # the driver-side publish and nothing else produced
                    # the final file — a silent skip here would turn a
                    # lost winner into silently-missing output rows.
                    # Fail-stop instead (correctness-or-error is the
                    # only acceptable two-phase-sink posture); a
                    # pre-existing final (duplicate commit message /
                    # re-run over a published epoch) stays idempotent.
                    raise RuntimeError(
                        f"tokenroute_sink commit: winner temp {tmp!r} "
                        f"missing and final {final!r} absent — refusing "
                        "to publish a partial result"
                    )
        # sweep losers: temp files from failed/speculative attempts
        # whose message never reached the driver. Best-effort by
        # design: a still-running zombie speculative task can recreate
        # a temp AFTER this sweep — readers ignore `_`-prefixed files,
        # so exactly-once holds and the stray temp is bounded litter.
        for name in _os.listdir(self.path):
            if name.startswith("_tmp-"):
                _os.unlink(_os.path.join(self.path, name))

    def abort(self, messages) -> None:
        import os as _os

        for msg in messages:
            if msg is None:
                continue
            for tmp, _final in msg.renames:
                if _os.path.exists(tmp):
                    _os.unlink(tmp)


class TokenRouteSinkDataSource(DataSource):
    """`df.write.format("tokenroute_sink").option("path", dir)` — the
    writeback half of the custom-connector story. The driver-side
    `writer()` prepares the target (overwrite semantics); executors
    route rows to token buckets; `commit()` runs once with every task's
    commit message — the standard two-phase sink contract."""

    @classmethod
    def name(cls) -> str:
        return "tokenroute_sink"

    def writer(self, schema, overwrite: bool) -> _TokenRouteWriter:
        import os as _os
        import shutil as _shutil

        path = self.options["path"]
        n_ranges = int(self.options.get("ranges", "4"))
        fail_pid = self.options.get("fail_attempt0_of_partition")
        if overwrite and _os.path.isdir(path):
            _shutil.rmtree(path)
        _os.makedirs(path, exist_ok=True)
        return _TokenRouteWriter(
            path, n_ranges, int(fail_pid) if fail_pid is not None else None
        )


@register(
    "q_sink_pyds",
    oracle="""
    SELECT c_custkey % 4 AS bucket,
           COUNT(*) AS n_rows,
           MIN(c_custkey) AS min_id,
           MAX(c_custkey) AS max_id
    FROM customer WHERE c_custkey < 200
    GROUP BY 1 ORDER BY bucket
    """,
)
def q_sink_pyds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round trip through the custom Python DataSource WRITER: a
    users-shaped projection of customer is written with
    `format("tokenroute_sink")` — each executor routes rows to
    token-bucket files (the B7 writeback analog of the reader's
    token-range scan) — then read back and audited per bucket. The
    oracle recomputes the same audit relationally, so the sink must
    deliver every row to exactly the bucket the token function names,
    exactly once.
    """
    import os

    from ..catalog import load
    from ..workdir import scratch_root

    spark.dataSource.register(TokenRouteSinkDataSource)
    # per-process root (workdir.py): the r9 audit caught two concurrent
    # drives of this exact key colliding on the old fixed path
    path = os.path.join(scratch_root("pyds"), "tokenroute_sink")
    users = (
        load(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") < 200)
        .select(
            F.col("c_custkey").cast("int").alias("id"),
            F.col("c_name").alias("name"),
            F.concat(F.col("c_name"), F.lit("@example.com")).alias("email"),
        )
    )
    users.write.format("tokenroute_sink").mode("overwrite").option(
        "path", path
    ).option("ranges", "4").save()
    back = spark.read.json(path)
    return (
        back.groupBy(F.col("bucket").cast("bigint").alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("id").alias("min_id"),
            F.max("id").alias("max_id"),
        )
        .orderBy("bucket")
    )
