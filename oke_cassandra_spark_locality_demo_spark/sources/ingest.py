"""CSV/JSON ingest with declared schemas, partitioned parquet sink, CTAS.

Reference analogs: A6 (source load with store-inferred schema —
userdata/cloudinit.sh:346-349) becomes schema-*declared* reads for
formats that can't self-describe; B7 (connector writeback) becomes
partitioned parquet writes; A1-A3 (CQL DDL/DML) become session-catalog
CTAS.

Each query round-trips fixture data through the format under test and
returns the read-back result, so the DuckDB oracle (reading the
original parquet) checks the full write→read fidelity.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..catalog import load, register_views
from ..memharden import starved_parts
from ..registry import EVENTS_US, register
from ..workdir import scratch_root


def _out(name: str) -> str:
    # per-process root (workdir.py): concurrent verification processes
    # driving the same key write to disjoint paths (VERDICT r9 item 2)
    return os.path.join(scratch_root("io"), name)


#: (warehouse_dir, table_name) pairs this process created with
#: PID-suffixed names (q_join_bucketed). Unlike workdir scratch these
#: live in the cwd-shared spark-warehouse, so without reclamation every
#: driver process permanently leaks two bucket directories (ADVICE
#: r10). The atexit hook rmtree's the DIRECTORIES only — the catalog
#: entries are in-memory and die with the process; a DROP would need a
#: live session, which is not guaranteed at interpreter exit.
_BUCKETED_TABLES: set[tuple[str, str]] = set()
_BUCKETED_OWNER_PID = os.getpid()
_BUCKETED_HOOKED = [False]


def _reap_bucketed_tables() -> None:
    import shutil

    # PID guard: fork()ed children inherit the hook but not ownership
    if os.getpid() != _BUCKETED_OWNER_PID:
        return
    for wh, name in _BUCKETED_TABLES:
        shutil.rmtree(os.path.join(wh, name), ignore_errors=True)


def _register_bucketed_cleanup(wh: str, names: tuple[str, ...]) -> None:
    import atexit

    for n in names:
        _BUCKETED_TABLES.add((wh, n))
    if not _BUCKETED_HOOKED[0]:
        _BUCKETED_HOOKED[0] = True
        atexit.register(_reap_bucketed_tables)


CUSTOMER_SCHEMA = T.StructType(
    [
        T.StructField("c_custkey", T.LongType(), False),
        T.StructField("c_name", T.StringType(), True),
        T.StructField("c_nationkey", T.IntegerType(), True),
        T.StructField("c_acctbal", T.DoubleType(), True),
        T.StructField("c_mktsegment", T.StringType(), True),
    ]
)


@register("q_source_csv", oracle="SELECT * FROM customer")
def q_source_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV round-trip with a declared StructType (no inference pass —
    at 100 TB schema inference is a full extra scan). Doubles survive
    exactly because Spark writes shortest-round-trip decimal strings."""
    path = _out("customer_csv")
    c = load(spark, sf_dir, "customer")
    c.write.mode("overwrite").option("header", True).csv(path)
    return spark.read.schema(CUSTOMER_SCHEMA).option("header", True).csv(path)


@register("q_source_json", oracle="SELECT * FROM supplier")
def q_source_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines round-trip with declared schema."""
    path = _out("supplier_json")
    schema = T.StructType(
        [
            T.StructField("s_suppkey", T.LongType(), False),
            T.StructField("s_name", T.StringType(), True),
            T.StructField("s_nationkey", T.IntegerType(), True),
            T.StructField("s_acctbal", T.DoubleType(), True),
        ]
    )
    s = load(spark, sf_dir, "supplier")
    s.write.mode("overwrite").json(path)
    return spark.read.schema(schema).json(path)


@register(
    "q_sink_parquet_partitioned",
    oracle="""
    SELECT event_type, COUNT(*) AS n,
           CAST(SUM(CAST(ROUND(value * 10000.0) AS BIGINT)) AS BIGINT)
               AS total_value_tt
    FROM events
    GROUP BY event_type
    """,
)
def q_sink_parquet_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-style partitioned parquet sink (B7 analog), then an aggregate
    over the read-back that *prunes by partition column* — the layout that
    turns 100 TB scans into per-partition reads."""
    path = _out("events_by_type")
    e = load(spark, sf_dir, "events")
    e.write.mode("overwrite").partitionBy("event_type").parquet(path)
    back = spark.read.parquet(path)
    # integer ten-thousandth units, not SUM(decimal-cast): the
    # double→decimal cast path hash-failed q_agg_incremental on the
    # driver three rounds running for this very column (events.value
    # is a full-noise double, unlike 2-dp money columns)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round(F.col("value") * 10000.0, 0).cast("long")).alias(
            "total_value_tt"
        ),
    )


@register(
    "q_scan_partition_pruned",
    oracle="""
    SELECT user_id, COUNT(*) AS n,
           CAST(SUM(CAST(ROUND(value * 10000.0) AS BIGINT)) AS BIGINT)
               AS total_value_tt
    FROM events
    WHERE event_type IN ('purchase', 'signup')
    GROUP BY user_id
    """,
)
def q_scan_partition_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-pruned scan over the Hive-layout sink: the filter on the
    partition column prunes whole directories at planning time — at
    100 TB this is the difference between listing 5 directories and
    scanning everything. tests/test_plans.py asserts the pruned plan
    reads only the 2 matching partitions."""
    path = _out("events_by_type")
    e = load(spark, sf_dir, "events")
    # idempotent layout write (same layout q_sink_parquet_partitioned uses)
    e.write.mode("overwrite").partitionBy("event_type").parquet(path)
    back = spark.read.parquet(path)
    return (
        back.filter(F.col("event_type").isin("purchase", "signup"))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            # ten-thousandth units (see q_sink_parquet_partitioned)
            F.sum(F.round(F.col("value") * 10000.0, 0).cast("long")).alias(
                "total_value_tt"
            ),
        )
    )


@register(
    "q_ctas",
    oracle="""
    SELECT n.n_name, COUNT(*) AS n_suppliers,
           CAST(SUM(CAST(s.s_acctbal AS DECIMAL(28,4))) AS DOUBLE) AS total_bal
    FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def q_ctas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DDL+DML (A1/A2/A3 analog): CREATE TABLE AS SELECT into the session
    catalog (parquet-backed managed table), then read back via spark.sql.
    """
    import shutil

    register_views(spark, sf_dir, ("supplier", "nation"))
    spark.sql("DROP TABLE IF EXISTS supplier_by_nation")
    # the in-memory catalog forgets tables across sessions but the
    # warehouse directory persists — clear any stale location too
    loc = os.path.join(_out("warehouse"), "supplier_by_nation")
    shutil.rmtree(loc, ignore_errors=True)
    spark.sql(
        f"""
        CREATE TABLE supplier_by_nation USING parquet LOCATION '{loc}' AS
        SELECT n.n_name, COUNT(*) AS n_suppliers,
               CAST(SUM(CAST(s.s_acctbal AS DECIMAL(28,4))) AS DOUBLE) AS total_bal
        FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
        GROUP BY n.n_name
        """
    )
    return spark.sql("SELECT * FROM supplier_by_nation")


@register(
    "q_insert_upsert",
    oracle="""
    SELECT * FROM (VALUES
        (1, 'Alice', 'alice@new.example.com'),
        (2, 'Bob', 'bob@example.com'),
        (3, 'Charlie', 'charlie@example.com'),
        (4, 'Dana', 'dana@example.com')
    ) AS users(id, name, email)
    """,
)
def q_insert_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cassandra INSERT = primary-key upsert (reference
    userdata/cloudinit.sh:312-314). Plain parquet has no keyed upsert, so
    this is the documented MERGE-rewrite: anti-join the base on the key,
    union the updates — the scalable pattern for keyed mutation on
    immutable storage (SURVEY §7 hazard 2)."""
    from ..catalog import users_df

    base = users_df(spark)
    updates = spark.createDataFrame(
        [(1, "Alice", "alice@new.example.com"), (4, "Dana", "dana@example.com")],
        "id int, name string, email string",
    )
    survived = base.join(updates.select("id"), "id", "left_anti")
    return survived.unionByName(updates)


@register(
    "q_source_text",
    oracle="""
    SELECT COUNT(*) AS n_lines,
           CAST(SUM(LENGTH(text)) AS BIGINT) AS total_chars,
           CAST(MIN(LENGTH(text)) AS INTEGER) AS min_len,
           CAST(MAX(LENGTH(text)) AS INTEGER) AS max_len
    FROM documents
    """,
)
def q_source_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-delimited text round-trip — the rawest LLM-corpus ingest
    format (one document per line, no schema, no footer): the documents
    table is written with the text sink and read back with the text
    source, and the oracle checks the content survived byte-for-byte
    via count + per-line length stats (line order is not preserved by a
    distributed write, so the audit is order-insensitive). At 100 TB
    the text source is the entry point for crawl dumps: splittable,
    trivially parallel, schema applied downstream."""
    path = _out("documents_text")
    d = load(spark, sf_dir, "documents")
    d.select("text").write.mode("overwrite").text(path)
    back = spark.read.text(path)
    return back.agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.length("value")).alias("total_chars"),
        F.min(F.length("value")).alias("min_len"),
        F.max(F.length("value")).alias("max_len"),
    )


@register(
    "q_source_binaryfile",
    oracle="""
    SELECT doc_id,
           CAST(LENGTH(text) AS BIGINT) AS n_bytes,
           MD5(text) AS digest
    FROM documents
    WHERE doc_id < 20
    """,
)
def q_source_binaryfile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """binaryFile source — the opaque-blob entry point a multimodal
    pipeline starts from (images/audio land as files; Spark lists the
    directory, splits by file, and each row carries path + bytes).
    Twenty fixture documents are materialized as .txt blobs, read back
    through the binaryFile source, and verified content-exactly: the id
    parses from the file path, the size from the source's length
    column, and md5(content) must equal the oracle's md5 of the
    original text (ASCII fixture ⇒ chars == bytes). At scale the same
    read feeds mapInPandas decoders (pkg/llm/multimodal.py); this
    verifies the listing/split/content plumbing under it."""
    blob_dir = _out("doc_blobs")
    os.makedirs(blob_dir, exist_ok=True)
    d = load(spark, sf_dir, "documents")
    for r in d.filter(F.col("doc_id") < 20).select("doc_id", "text").collect():
        with open(os.path.join(blob_dir, f"{r['doc_id']}.txt"), "wb") as f:
            f.write(r["text"].encode("utf-8"))
    back = spark.read.format("binaryFile").load(blob_dir)
    return back.select(
        F.regexp_extract(F.col("path"), r"(\d+)\.txt$", 1).cast("long").alias("doc_id"),
        F.col("length").alias("n_bytes"),
        F.md5(F.col("content")).alias("digest"),
    )


@register(
    "q_source_orc",
    oracle="""
    SELECT s_nationkey, COUNT(*) AS n,
           CAST(SUM(CAST(s_acctbal AS DECIMAL(28,4))) AS DOUBLE) AS total_bal
    FROM supplier
    GROUP BY s_nationkey
    """,
)
def q_source_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC round-trip: write the supplier table as ORC, read it back
    (self-describing schema, vectorized reader, predicate pushdown —
    Spark's other first-class columnar format), aggregate over the
    read-back so the oracle checks the full round-trip, not just counts."""
    path = _out("supplier_orc")
    s = load(spark, sf_dir, "supplier")
    s.write.mode("overwrite").orc(path)
    back = spark.read.orc(path)
    return back.groupBy("s_nationkey").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("s_acctbal").cast("decimal(28,4)")).cast("double").alias("total_bal"),
    )


@register(
    "q_join_bucketed",
    oracle="""
    SELECT o.o_orderstatus, COUNT(*) AS n,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(28,4))) AS DOUBLE) AS total_price
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    GROUP BY o.o_orderstatus
    """,
)
def q_join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-free join via bucketed tables — the storage-layout analog
    of the reference's replica-aligned locality (SURVEY §2.2 B2/B6):
    both tables are written `bucketBy(8, key)` + `sortBy(key)`, so every
    bucket i of orders co-locates with bucket i of lineitem and the join
    compiles to a zero-Exchange sort-merge over aligned buckets
    (asserted in tests/test_plans.py). At 100 TB this is the decisive
    layout: the fact-table shuffle happens once at write time and every
    subsequent keyed join/aggregation reads it back for free.
    """
    import shutil

    # stale warehouse dirs outlive the in-memory catalog across sessions
    wh = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    wh = wh.removeprefix("file://").removeprefix("file:")
    # PID-suffixed table names (r10, same audit as workdir.py): the
    # warehouse DIRECTORY is cwd-shared across processes, so fixed
    # names make one process's DROP/rmtree race another's bucket read;
    # per-process names keep the managed-table layout while making the
    # underlying directories disjoint. Stable within a process, so
    # repeat invocations still exercise the DROP+overwrite path.
    pid = os.getpid()
    for name, src, key in (
        (f"orders_bkt_{pid}", "orders", "o_orderkey"),
        (f"lineitem_bkt_{pid}", "lineitem", "l_orderkey"),
    ):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        shutil.rmtree(os.path.join(wh, name), ignore_errors=True)
        (
            load(spark, sf_dir, src)
            .write.bucketBy(8, key)
            .sortBy(key)
            .mode("overwrite")
            .format("parquet")
            .saveAsTable(name)
        )
    # reclaim the PID-suffixed directories at process exit (ADVICE
    # r10): registered AFTER both writes so the returned DataFrame —
    # which reads these tables lazily when the caller acts on it —
    # keeps them for the process lifetime, and the shared warehouse
    # stops accumulating one pair per driver process.
    _register_bucketed_cleanup(
        wh, (f"orders_bkt_{pid}", f"lineitem_bkt_{pid}")
    )
    o = spark.table(f"orders_bkt_{pid}")
    l = spark.table(f"lineitem_bkt_{pid}")
    joined = o.join(l, o.o_orderkey == l.l_orderkey)
    return joined.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("l_extendedprice").cast("decimal(28,4)"))
        .cast("double")
        .alias("total_price"),
    )


@register(
    "q_source_json_corrupt",
    oracle="""
    SELECT COUNT(*) FILTER (WHERE s_suppkey % 7 <> 0) AS n_good,
           COUNT(*) FILTER (WHERE s_suppkey % 7 = 0) AS n_corrupt,
           CAST(SUM(CAST(s_acctbal AS DECIMAL(28,4)))
                FILTER (WHERE s_suppkey % 7 <> 0) AS DOUBLE) AS good_bal
    FROM supplier
    """,
)
def q_source_json_corrupt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dirty-ingest handling: a JSON staging file where every 7th record
    is truncated mid-object is read in PERMISSIVE mode with a
    `_corrupt_record` column — bad rows are quarantined as raw strings
    instead of failing the load (the only survivable posture for a
    100 TB ingest: one bad record must not kill a 6-hour job). Returns
    good/corrupt counts plus an aggregate over the clean rows; the
    oracle derives the same numbers from the pristine source table.

    The staging fixture itself is written DISTRIBUTED (VERDICT r5 item
    4): each row is serialized executor-side with `to_json` and every
    7th line truncated mid-object with `substring`, then written as a
    text sink — no data-proportional `.collect()` on the driver. The
    single output partition is a fixture-realism choice (one staging
    file), not a scale requirement; at 100 TB the same plan without
    the repartition writes one shard per task."""
    path = _out("supplier_corrupt_json")
    line = F.to_json(F.struct("s_suppkey", "s_name", "s_acctbal"))
    (
        load(spark, sf_dir, "supplier")
        .select("s_suppkey", line.alias("value"))
        .withColumn(
            "value",
            F.when(
                F.col("s_suppkey") % 7 == 0,
                # truncate mid-object → guaranteed-invalid JSON prefix
                F.expr(
                    "substring(value, 1, cast(length(value) / 2 as int))"
                ),
            ).otherwise(F.col("value")),
        )
        .repartition(1)
        .sortWithinPartitions("s_suppkey")
        .select("value")
        .write.mode("overwrite")
        .text(path)
    )

    schema = T.StructType(
        [
            T.StructField("s_suppkey", T.LongType(), True),
            T.StructField("s_name", T.StringType(), True),
            T.StructField("s_acctbal", T.DoubleType(), True),
            T.StructField("_corrupt_record", T.StringType(), True),
        ]
    )
    raw = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
    )
    # cache before splitting on _corrupt_record: Spark requires referencing
    # the corrupt column only on a materialized frame (SPARK-21610)
    raw = raw.cache()
    raw.count()
    bad = F.col("_corrupt_record").isNotNull()
    return raw.agg(
        F.count_if(~bad).alias("n_good"),
        F.count_if(bad).alias("n_corrupt"),
        F.sum(F.when(~bad, F.col("s_acctbal")).cast("decimal(28,4)"))
        .cast("double")
        .alias("good_bal"),
    )


@register(
    "q_source_schema_evolution",
    oracle="""
    SELECT o_orderstatus,
           COUNT(*) AS n,
           CAST(COUNT(o_comment_len) AS BIGINT) AS n_with_new_col
    FROM (
        SELECT o_orderstatus, NULL AS o_comment_len
        FROM orders WHERE o_orderkey % 2 = 0
        UNION ALL
        SELECT o_orderstatus, LENGTH(o_orderpriority)
        FROM orders WHERE o_orderkey % 2 = 1
    )
    GROUP BY o_orderstatus
    """,
)
def q_source_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on read: batch 1 is written with the v1 schema,
    batch 2 adds a column; `mergeSchema` unifies them at read time with
    nulls for the missing column — the append-only evolution path that
    avoids rewriting 100 TB of history when a producer adds a field."""
    path = _out("orders_evolving")
    import shutil

    shutil.rmtree(path, ignore_errors=True)
    o = load(spark, sf_dir, "orders")
    v1 = o.filter(F.col("o_orderkey") % 2 == 0).select("o_orderkey", "o_orderstatus")
    v2 = o.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey",
        "o_orderstatus",
        F.length("o_orderpriority").alias("o_comment_len"),
    )
    v1.write.parquet(os.path.join(path, "batch=1"))
    v2.write.parquet(os.path.join(path, "batch=2"))
    merged = spark.read.option("mergeSchema", "true").parquet(path)
    return merged.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.count("o_comment_len").alias("n_with_new_col"),
    )


@register(
    "q_export_jsonl_shards",
    oracle="""
    SELECT CAST((STRPOS('0123456789abcdef',
                        SUBSTRING(MD5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) % 8
                AS INT) AS shard,
           COUNT(*) AS n_docs,
           COUNT(DISTINCT doc_id) AS n_distinct_docs,
           CAST(SUM(LENGTH(text)) AS BIGINT) AS n_chars
    FROM documents
    GROUP BY 1
    ORDER BY 1
    """,
)
def q_export_jsonl_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data export: documents serialized to JSONL and written
    hash-sharded (md5(doc_id) % 8 — engine-portable, reproducible across
    runs and cluster sizes, unlike round-robin) via a partitioned text
    sink, then read back with partition discovery and audited per shard.
    Deterministic sharding is what makes a 100 TB export resumable and
    what keeps one doc's versions in one shard for downstream dedup.
    The audit (count / distinct / char mass per shard) is computed on
    the READ-BACK files, so the oracle match proves the JSON round-trip
    is lossless, newlines included (to_json escapes them)."""
    import shutil

    d = load(spark, sf_dir, "documents")
    shard = (
        (
            F.expr(
                "locate(substring(md5(cast(doc_id as string)), 1, 1),"
                " '0123456789abcdef')"
            )
            - 1
        )
        % 8
    ).cast("int")
    path = _out("documents_jsonl")
    shutil.rmtree(path, ignore_errors=True)
    d.select(
        F.to_json(F.struct("doc_id", "lang", "text")).alias("value"),
        shard.alias("shard"),
    ).write.partitionBy("shard").mode("overwrite").text(path)

    back = spark.read.text(path)
    r = F.from_json("value", "doc_id BIGINT, lang STRING, text STRING").alias("r")
    return (
        back.select(r, F.col("shard").cast("int").alias("shard"))
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("r.doc_id").alias("n_distinct_docs"),
            F.sum(F.length("r.text")).alias("n_chars"),
        )
        .orderBy("shard")
    )


@register(
    "q_maintenance_compact",
    oracle="""
    SELECT 'before' AS phase, event_type,
           COUNT(DISTINCT user_id % 16) AS n_files, COUNT(*) AS n_rows
    FROM events GROUP BY event_type
    UNION ALL
    SELECT 'after' AS phase, event_type,
           CAST(1 AS BIGINT) AS n_files, COUNT(*) AS n_rows
    FROM events GROUP BY event_type
    ORDER BY phase, event_type
    """,
)
def q_maintenance_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction — the table-maintenance pass every
    long-lived 100 TB lake needs (streaming/appends fragment partitions;
    query latency then dies on file-open overhead and tiny row groups).
    Stage 1 deliberately fragments: events land partitioned by
    (event_type, user_id%16) — one file per leaf, 16 files per type.
    Stage 2 compacts by rewriting with partitioning aligned to the
    partition column only, collapsing each type directory to a single
    file (at real scale: repartition to ceil(bytes/target) files per
    partition, same mechanics). The audit counts physical files per
    type via input_file_name() on the read-back of both layouts; the
    fragment/compact file counts are deterministic functions of the
    data (distinct shards per type, then 1), which is what makes a
    filesystem-level maintenance op fully oracle-checkable."""
    e = load(spark, sf_dir, "events").withColumn(
        "shard", F.pmod(F.col("user_id"), F.lit(16))
    )
    # Memory-aware stage width (memharden.starved_parts): the dynamic-
    # partition write sorters and the countDistinct audits starve at
    # 16-wide stages under the fraction=0.05 extreme; narrowing the
    # exchanges to 2 keeps per-task shares above one Tungsten page.
    # File counts are UNCHANGED either way — a hash repartition on the
    # partition columns lands each leaf's rows in exactly one task
    # regardless of partition count, so the oracle-checked n_files
    # stays a pure function of the data. stage_barrier is NOT usable
    # here: the audits read input_file_name(), which checkpointed
    # blocks no longer carry.
    n = starved_parts(spark)
    rep_args_frag = ([n] if n else []) + ["event_type", "shard"]
    rep_args_comp = ([n] if n else []) + ["event_type"]
    small = _out("events_fragmented")
    e.repartition(*rep_args_frag).write.mode("overwrite").partitionBy(
        "event_type", "shard"
    ).parquet(small)

    frag = spark.read.parquet(small)
    compacted = _out("events_compacted")
    frag.repartition(*rep_args_comp).write.mode("overwrite").partitionBy(
        "event_type"
    ).parquet(compacted)

    def audit(df: DataFrame, phase: str) -> DataFrame:
        if n:
            df = df.coalesce(n)  # narrow op: input_file_name survives
        return (
            df.withColumn("f", F.input_file_name())
            .groupBy("event_type")
            .agg(
                F.countDistinct("f").alias("n_files"),
                F.count(F.lit(1)).alias("n_rows"),
            )
            .select(
                F.lit(phase).alias("phase"), "event_type", "n_files", "n_rows"
            )
        )

    return (
        audit(frag, "before")
        .unionByName(audit(spark.read.parquet(compacted), "after"))
        .orderBy("phase", "event_type")
    )


@register(
    "q_merge_multi_action",
    oracle=f"""
    WITH cutoff AS (SELECT MAX(ts) - INTERVAL 7 DAY AS cut1,
                           MAX(ts) - INTERVAL 14 DAY AS cut2
                    FROM {EVENTS_US} ev),
    t AS (
        SELECT user_id, event_type, v_tt FROM (
            SELECT user_id, event_type,
                   CAST(ROUND(value * 10000.0) AS BIGINT) AS v_tt,
                   ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                      ORDER BY ts DESC, event_id DESC) AS rn
            FROM {EVENTS_US} ev
            WHERE ts >= (SELECT cut2 FROM cutoff)
              AND ts < (SELECT cut1 FROM cutoff))
        WHERE rn = 1
    ),
    s AS (
        SELECT user_id, event_type, v_tt,
               CASE WHEN (v_tt // 100) % 10 = 0 THEN 'D' ELSE 'U' END AS op
        FROM (
            SELECT user_id, event_type,
                   CAST(ROUND(value * 10000.0) AS BIGINT) AS v_tt,
                   ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                      ORDER BY ts DESC, event_id DESC) AS rn
            FROM {EVENTS_US} ev WHERE ts >= (SELECT cut1 FROM cutoff))
        WHERE rn = 1
    )
    SELECT COALESCE(t.user_id, s.user_id) AS user_id,
           COALESCE(t.event_type, s.event_type) AS event_type,
           CASE WHEN s.user_id IS NULL THEN t.v_tt ELSE s.v_tt END AS v_tt,
           CASE WHEN s.user_id IS NULL THEN 'keep'
                WHEN t.user_id IS NULL THEN 'insert'
                ELSE 'update' END AS action
    FROM t FULL OUTER JOIN s
      ON t.user_id = s.user_id AND t.event_type = s.event_type
    WHERE s.op IS NULL OR s.op <> 'D'
    """,
)
def q_merge_multi_action(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-action MERGE (Delta/Iceberg `MERGE INTO` re-expressed on
    plain DataFrames): target = per-(user, event_type) profiles from the
    prior 7-day batch, source = the current batch's latest change per
    key (rows whose latest value has a zero cents digit are tombstones, ~10%), and
    ONE full-outer join routes every key through
      WHEN MATCHED AND tombstone      THEN DELETE
      WHEN MATCHED                    THEN UPDATE
      WHEN NOT MATCHED AND NOT tombstone THEN INSERT
    with untouched target keys passing through as 'keep' (unmatched
    tombstones are no-ops). Emits the merged table with action
    provenance — at fixture scale all four routes fire (~keeps/inserts
    from 7-day coverage gaps, deletes ~10%) — the richer sibling of
    q_insert_upsert's two-action anti-join+union rewrite.

    100 TB story: a single keyed shuffle of both sides (or broadcast
    when the delta batch is small — AQE decides); all three actions
    resolve in the same join pass, never three separate scans of the
    target. This is exactly the physical shape a lakehouse MERGE
    compiles to on a non-bucketed target."""
    e = load(spark, sf_dir, "events")
    cut = e.agg(
        (F.max("ts") - F.expr("INTERVAL 7 DAYS")).alias("cut1"),
        (F.max("ts") - F.expr("INTERVAL 14 DAYS")).alias("cut2"),
    )
    f = e.crossJoin(F.broadcast(cut)).select(
        "user_id",
        "event_type",
        "event_id",
        "ts",
        F.round(F.col("value") * 10000.0, 0).cast("long").alias("v_tt"),
        "cut1",
        "cut2",
    )

    def latest(df):
        return df.groupBy("user_id", "event_type").agg(
            F.max_by(F.col("v_tt"), F.struct("ts", "event_id")).alias("v")
        )

    t = (
        latest(
            f.filter(
                (F.col("ts") >= F.col("cut2")) & (F.col("ts") < F.col("cut1"))
            )
        )
        .withColumnRenamed("v", "t_v")
        # key-presence marker: match/insert routing must test whether the
        # TARGET ROW exists, not whether its value is null — a null-valued
        # matched row would otherwise misroute to 'insert' (self-review r4;
        # the oracle classifies by join-key nullability)
        .withColumn("in_t", F.lit(True))
    )
    s = latest(f.filter(F.col("ts") >= F.col("cut1"))).select(
        "user_id",
        "event_type",
        F.col("v").alias("s_v"),
        F.when(F.floor(F.col("v") / 100) % 10 == 0, "D").otherwise("U").alias("op"),
    )
    j = t.join(s, ["user_id", "event_type"], "full_outer")
    return (
        j.filter(F.col("op").isNull() | (F.col("op") != "D"))
        .select(
            "user_id",
            "event_type",
            F.when(F.col("op").isNull(), F.col("t_v"))
            .otherwise(F.col("s_v"))
            .alias("v_tt"),
            F.when(F.col("op").isNull(), "keep")
            .when(F.col("in_t").isNull(), "insert")
            .otherwise("update")
            .alias("action"),
        )
    )


#: WebDataset export shards
_WDS_SHARDS = 8


@register(
    "q_export_webdataset",
    oracle=f"""
    WITH m AS (
        SELECT CAST(doc_id % {_WDS_SHARDS} AS INT) AS shard,
               -- BYTE length, not LENGTH() characters: tar members are
               -- sized in UTF-8 bytes and the corpus is multilingual
               OCTET_LENGTH(ENCODE(text)) AS sz
        FROM documents
    ),
    per AS (
        SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(sz) AS BIGINT) AS payload_bytes,
               -- USTAR layout: 512-byte header + data padded to 512
               -- per member, two 512 zero blocks, archive padded to
               -- the 10240-byte record size
               CAST(
                 CEIL((SUM(512 + CEIL(sz / 512.0) * 512) + 1024) / 10240.0)
                 * 10240 AS BIGINT) AS tar_bytes
        FROM m GROUP BY shard
    )
    SELECT shard, n_docs, payload_bytes, tar_bytes FROM per ORDER BY shard
    """,
)
def q_export_webdataset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEBDATASET EXPORT: the corpus leaves as .tar shards of named
    members — the standard streaming-friendly format multimodal/LLM
    training loaders (webdataset, torchdata) consume. Each shard is
    written executor-side by one applyInPandas group (sorted members,
    zeroed mtime/uid — byte-reproducible archives), and the returned
    manifest (docs, payload bytes, tar bytes per shard) is what a
    dataset build publishes next to the shards.

    The oracle pins the EXACT tar byte size per shard from the USTAR
    layout arithmetic (512-byte header + 512-padded data per member +
    1024-byte terminator, record-size 10240 padding) — so a wrong
    member set, a non-canonical header, or nondeterministic ordering
    changes real bytes and hash-fails. Scale shape: one shuffle on the
    shard key; shard count scales with corpus size (here 8); writes go
    to local scratch standing in for object storage."""
    import tarfile
    from io import BytesIO

    import pandas as pd

    out_root = _out("wds_shards")
    d = load(spark, sf_dir, "documents").select(
        (F.col("doc_id") % _WDS_SHARDS).cast("int").alias("shard"),
        "doc_id",
        "text",
    )

    def write_shard(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id")
        shard = int(pdf["shard"].iloc[0])
        buf = BytesIO()
        with tarfile.open(
            fileobj=buf, mode="w", format=tarfile.USTAR_FORMAT
        ) as tar:
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                payload = text.encode("utf-8")
                info = tarfile.TarInfo(name=f"{int(doc_id):08d}.txt")
                info.size = len(payload)
                info.mtime = 0
                info.uid = info.gid = 0
                info.uname = info.gname = ""
                tar.addfile(info, BytesIO(payload))
        blob = buf.getvalue()
        os.makedirs(out_root, exist_ok=True)
        with open(os.path.join(out_root, f"shard-{shard:04d}.tar"), "wb") as f:
            f.write(blob)
        return pd.DataFrame(
            {
                "shard": [shard],
                "n_docs": [len(pdf)],
                "payload_bytes": [int(sum(len(t.encode("utf-8")) for t in pdf["text"]))],
                "tar_bytes": [len(blob)],
            }
        )

    return (
        d.groupBy("shard")
        .applyInPandas(
            write_shard,
            "shard int, n_docs long, payload_bytes long, tar_bytes long",
        )
        .orderBy("shard")
    )


@register("q_source_xml", oracle="SELECT * FROM nation ORDER BY n_nationkey")
def q_source_xml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML round-trip through Spark 4's NATIVE xml data source (the
    spark-xml package folded into core) with a declared schema on the
    read side — no inference pass, same policy as q_source_csv/_json.
    XML is the interchange format enterprise feeds still arrive in;
    rowTag framing makes the read splittable per row element. The
    nation dimension keeps the demo's round-trip exact (int/string
    columns only — XML has no binary/decimal fidelity story worth
    relying on at 100 TB; heavy tables belong in parquet, which is the
    documented catalog policy)."""
    path = _out("nation_xml")
    n = load(spark, sf_dir, "nation")
    (
        n.write.mode("overwrite")
        .format("xml")
        .option("rootTag", "nations")
        .option("rowTag", "nation")
        .save(path)
    )
    schema = T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType(), True),
            T.StructField("n_name", T.StringType(), True),
            T.StructField("n_regionkey", T.IntegerType(), True),
        ]
    )
    return (
        spark.read.schema(schema)
        .format("xml")
        .option("rowTag", "nation")
        .load(path)
        .orderBy("n_nationkey")
    )


@register(
    "q_export_manifest",
    oracle="""
    WITH tagged AS (
        SELECT doc_id, lang,
               CAST(('0x' || SUBSTRING(MD5('shard' ||
                    CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT % 8
                    AS BIGINT) AS shard_id,
               MD5(text) AS doc_md5,
               OCTET_LENGTH(ENCODE(text)) AS nbytes
        FROM documents
    )
    SELECT shard_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(nbytes) AS BIGINT) AS payload_bytes,
           CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
           MD5(STRING_AGG(doc_md5, '' ORDER BY doc_md5)) AS shard_digest
    FROM tagged
    GROUP BY shard_id
    ORDER BY shard_id
    """,
)
def q_export_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXPORT MANIFEST with integrity digests — the sidecar every
    sharded dataset release needs: per shard (deterministic md5-prefix
    assignment mod 8, so any worker routes any doc without
    coordination), the doc count, exact UTF-8 payload bytes, language
    spread, and a CONTENT DIGEST — md5 over the shard's per-doc md5s
    concatenated in SORTED order. Sorting by the hash itself makes the
    digest ORDER-INDEPENDENT of how executors deliver rows (a digest
    over arrival order would be nondeterministic under Spark's task
    scheduling — the classic manifest bug), while still changing if any
    single byte of any document changes. Spark side builds it with
    array_sort(collect_list(...)) inside the shard aggregate: the
    collect is bounded per shard and the sorted fold is deterministic.
    Consumers re-verify a shard by recomputing the same digest.
    Reference analog: none — the reference's writeback path (SURVEY B7)
    emits data; the release metadata sidecar is target-only."""
    d = load(spark, sf_dir, "documents")
    tagged = d.select(
        "doc_id",
        "lang",
        F.expr(
            "CAST(conv(substring(md5(concat('shard',"
            " CAST(doc_id AS STRING))), 1, 8), 16, 10) AS BIGINT) % 8"
        ).alias("shard_id"),
        F.md5(F.col("text").cast("binary")).alias("doc_md5"),
        F.octet_length(F.encode(F.col("text"), "UTF-8")).cast("long").alias(
            "nbytes"
        ),
    )
    return (
        tagged.groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("nbytes").alias("payload_bytes"),
            F.countDistinct("lang").alias("n_langs"),
            F.md5(
                F.concat_ws("", F.array_sort(F.collect_list("doc_md5")))
                .cast("binary")
            ).alias("shard_digest"),
        )
        .orderBy("shard_id")
    )


@register(
    "q_scan_dpp",
    oracle="""
    SELECT event_type, COUNT(*) AS n,
           CAST(SUM(CAST(ROUND(value * 10000.0) AS BIGINT)) AS BIGINT)
               AS total_value_tt
    FROM events
    WHERE event_type IN ('purchase', 'signup')
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def q_scan_dpp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC PARTITION PRUNING — the runtime counterpart to
    q_scan_partition_pruned's static pruning: the fact side is the
    Hive-partitioned events layout, the filter lives on a DIMENSION
    table (a conversion-flag dim written to its own parquet), and the
    partition list is only known after the dim scan runs — Spark
    injects a dynamicpruningexpression subquery into the fact scan's
    PartitionFilters (asserted by tests/test_plans.py), reusing the
    broadcast of the dim join side. At 100 TB this is THE star-schema
    scan killer: the fact directory listing shrinks to the dim-selected
    partitions at runtime, no manual IN-list maintenance. Planner
    subtlety baked in (measured this round): the dim filter must be
    "likely selective" for PartitionPruning to inject the subquery — an
    EqualTo on a literal qualifies, a bare boolean attribute does NOT
    (BooleanSimplification strips `= true` and the bare attribute fails
    the rule's isLikelySelective test) — hence the string `category`
    column. The result is oracle-checked against the
    statically-filtered equivalent (same rows by construction).
    Reference analog: locality-aware scans (SURVEY B2) pick WHERE to
    read; DPP picks WHAT to read."""
    fact_path = _out("events_by_type")
    e = load(spark, sf_dir, "events")
    e.write.mode("overwrite").partitionBy("event_type").parquet(fact_path)
    dim_path = _out("event_type_dim")
    dim = spark.createDataFrame(
        [
            ("click", "engage"),
            ("view", "engage"),
            ("error", "ops"),
            ("purchase", "conversion"),
            ("signup", "conversion"),
        ],
        "event_type string, category string",
    )
    dim.write.mode("overwrite").parquet(dim_path)
    fact = spark.read.parquet(fact_path)
    dim_back = spark.read.parquet(dim_path).filter(
        F.col("category") == "conversion"
    )
    return (
        fact.join(F.broadcast(dim_back), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 10000.0, 0).cast("long")).alias(
                "total_value_tt"
            ),
        )
        .orderBy("event_type")
    )
