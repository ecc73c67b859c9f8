"""Fixture catalog: parquet tables as DataFrames + temp views.

Reference analog: the Cassandra keyspace/table + schema-inference-at-load
path (`spark.read.format("org.apache.spark.sql.cassandra")…load()`,
/root/reference/userdata/cloudinit.sh:346-349). Parquet is self-describing
the same way; the keyspace maps to the session catalog's temp-view
namespace (SURVEY §1.2).

Inferring a parquet schema is a Spark job (a one-task footer read, run
even with mergeSchema off). `read_parquet` runs it once per application
and file identity (path, mtime, size) and passes the inferred schema to
every later read of the same file, so building a query starts no job
per table; a file rewritten in place is re-inferred.

Also provides the 3-row `users` mirror of `testks.users`
(/root/reference/userdata/cloudinit.sh:306-314) as the Layer-A smoke
fixture.
"""

from __future__ import annotations

import hashlib
import os
import stat
from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: All driver-generated fixture tables (TESTDATA.md).
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: Small dimension tables — always broadcast-eligible at any SF
#: (region 5 rows, nation 25, supplier ~10/SF; SURVEY §2.2 B5 analog).
BROADCAST_DIMS = frozenset({"region", "nation", "supplier"})

USERS_SCHEMA = T.StructType(
    [
        T.StructField("id", T.IntegerType(), False),
        T.StructField("name", T.StringType(), True),
        T.StructField("email", T.StringType(), True),
    ]
)

#: Mirror of testks.users rows (reference userdata/cloudinit.sh:312-314).
USERS_ROWS = [
    (1, "Alice", "alice@example.com"),
    (2, "Bob", "bob@example.com"),
    (3, "Charlie", "charlie@example.com"),
]


def _identity(path: str) -> tuple:
    """What identifies a file's content without reading it: its mtime
    and size. A directory source is identified by its data files (the
    names Spark lists: no leading ``_`` or ``.``)."""
    st = os.stat(path)
    if not stat.S_ISDIR(st.st_mode):
        return st.st_mtime_ns, st.st_size
    return tuple(
        sorted(
            (e.name, e.stat().st_mtime_ns, e.stat().st_size)
            for e in os.scandir(path)
            if not e.name.startswith(("_", "."))
        )
    )


#: Inferred footer schemas by (application id, absolute path, identity).
_SCHEMAS: dict[tuple, T.StructType] = {}


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` that infers the schema only the first
    time an application reads this version of the file. Every call
    returns a fresh relation (new attribute ids), so two reads of one
    file still self-join."""
    path = os.path.abspath(path)
    key = (spark.sparkContext.applicationId, path, _identity(path))
    schema = _SCHEMAS.get(key)
    if schema is None:
        schema = _SCHEMAS[key] = spark.read.parquet(path).schema
    return spark.read.schema(schema).parquet(path)


def events_stage_tag(sf_dir: str) -> str:
    """Name of the staged copies of ``sf_dir``'s events fixture: the
    directory's basename plus a digest of the source file's absolute
    path, mtime and size, so two fixture directories that share a
    basename (or one fixture rewritten in place) never share a copy."""
    src = os.path.abspath(os.path.join(sf_dir, "events.parquet"))
    digest = hashlib.sha1(repr((src, _identity(src))).encode()).hexdigest()[:16]
    return f"{os.path.basename(os.path.normpath(sf_dir))}-{digest}"


def _stage_events_us(sf_dir: str) -> str:
    """The events fixture carries TIMESTAMP(NANOS) — a parquet type
    Spark's reader rejects outright. Stage a microsecond-truncated copy
    (pyarrow cast, same truncation DuckDB applies when casting
    TIMESTAMP_NS → TIMESTAMP) once per source file; idempotent and
    atomic."""
    import tempfile

    import pyarrow as pa
    import pyarrow.parquet as pq

    out_dir = os.path.join(
        tempfile.gettempdir(), "spark_graft_events", events_stage_tag(sf_dir)
    )
    out = os.path.join(out_dir, "events.parquet")
    if not os.path.exists(out):
        os.makedirs(out_dir, exist_ok=True)
        t = pq.read_table(os.path.join(sf_dir, "events.parquet"))
        ts_us = t["ts"].cast(pa.timestamp("us"), safe=False)
        t = t.set_column(t.schema.get_field_index("ts"), "ts", ts_us)
        # PID-suffixed tmp: two processes staging the same sf_dir
        # concurrently each write their own tmp, and whichever
        # os.replace lands last wins atomically — the old shared
        # ".tmp" path let their writes interleave (r10 hardening,
        # same audit as workdir.py)
        tmp = f"{out}.tmp.{os.getpid()}"
        pq.write_table(t, tmp)
        os.replace(tmp, out)
    return out


def _table_path(sf_dir: str, name: str) -> str:
    """The parquet file Spark reads for fixture table ``name``."""
    if name == "events":
        return _stage_events_us(sf_dir)
    return os.path.join(sf_dir, f"{name}.parquet")


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table as a new relation. Schema comes from the
    parquet footer (self-describing, the analog of connector schema
    inference), inferred once per application and file identity and
    then reused (`read_parquet`)."""
    return read_parquet(spark, _table_path(sf_dir, name))


def row_groups(sf_dir: str, name: str) -> int:
    """Row groups in fixture table ``name``, read from its parquet footer
    (no Spark job; ~0.1 ms). Spark gives each row group to the one split
    that holds its midpoint, so this bounds how many tasks of a scan
    read any rows, whatever the split count."""
    import pyarrow.parquet as pq

    return pq.ParquetFile(_table_path(sf_dir, name)).metadata.num_row_groups


def users_df(spark: SparkSession) -> DataFrame:
    """The reference's `testks.users` table as an in-memory DataFrame."""
    return spark.createDataFrame(USERS_ROWS, USERS_SCHEMA)


def register_views(
    spark: SparkSession, sf_dir: str, names: Iterable[str] = (*TABLES, "users")
) -> dict[str, DataFrame]:
    """Register fixture tables (default: every one, plus `users`) as temp
    views so both the DataFrame API and ``spark.sql`` address the same
    catalog."""
    out: dict[str, DataFrame] = {}
    for name in names:
        df = users_df(spark) if name == "users" else load(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
