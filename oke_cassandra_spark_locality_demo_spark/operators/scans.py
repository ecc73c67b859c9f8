"""Scans: full, column-pruned, predicate-pushdown — Layer A/B analogs.

Reference: the demo's single query is a full scan + full projection of
`testks.users` (`SELECT *` semantics; /root/reference/userdata/
cloudinit.sh:346-351); the connector stack it declares adds column
pruning and predicate pushdown (README.md:135; SURVEY §2.2 B3/B4).
Here those are Catalyst/parquet built-ins — the tests in
tests/test_plans.py assert `PushedFilters`/`ReadSchema` actually show
the pushdown, which is the part that matters at 100 TB (row-group
skipping + column projection bound scan IO).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load, users_df
from ..registry import register


@register("q_scan_full", oracle="SELECT * FROM lineitem")
def q_scan_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full table scan, full projection (A4/A6 re-expressed over parquet)."""
    return load(spark, sf_dir, "lineitem")


@register(
    "q_scan_prune_cols",
    oracle="SELECT l_orderkey, l_quantity, l_shipdate FROM lineitem",
)
def q_scan_prune_cols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-pruned scan (B4 analog): parquet reads only 3 of 11 columns —
    verified via ReadSchema in the physical plan."""
    return load(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity", "l_shipdate")


@register(
    "q_scan_pushdown",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_extendedprice
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1998-01-01'
      AND l_shipdate < TIMESTAMP '1998-04-01'
      AND l_quantity < 10
    """,
)
def q_scan_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predicate-pushdown scan (B3 analog): both predicates reach the
    parquet reader (PushedFilters) for row-group min/max skipping."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-04-01").cast("timestamp"))
            & (F.col("l_quantity") < 10)
        )
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
    )


@register(
    "q_scan_users",
    oracle="""
    SELECT * FROM (VALUES
        (1, 'Alice', 'alice@example.com'),
        (2, 'Bob', 'bob@example.com'),
        (3, 'Charlie', 'charlie@example.com')
    ) AS users(id, name, email)
    """,
)
def q_scan_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Layer-A flagship smoke: the 3-row `users` table mirroring
    testks.users (reference userdata/cloudinit.sh:306-314, read back by
    the PySpark job at :346-351)."""
    return users_df(spark)


def flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q1-shaped flagship for `entry()`: scan → pushdown filter →
    grouped agg → sort, exercising A4/A6/A8 + B3/B4 in one plan.

    Money sums are computed over DECIMAL(18,4) casts so the aggregate is
    order-independent (exact) and identical to the DuckDB oracle after
    the final cast to double (FIXTURES.md parity conventions).
    """
    li = load(spark, sf_dir, "lineitem")
    dec = lambda c: c.cast("decimal(18,4)")  # noqa: E731
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2001-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(dec(F.col("l_quantity"))).cast("double").alias("sum_qty"),
            F.sum(dec(F.col("l_extendedprice"))).cast("double").alias("sum_base_price"),
            F.sum(dec(F.col("l_extendedprice") * (1 - F.col("l_discount"))))
            .cast("double")
            .alias("sum_disc_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


FLAGSHIP_ORACLE = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2001-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""

register("q_flagship_pricing_summary", oracle=FLAGSHIP_ORACLE)(flagship)


@register(
    "q_sample_hash",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity
    FROM lineitem
    WHERE SUBSTRING(MD5(CONCAT(CAST(l_orderkey AS VARCHAR), '-',
                               CAST(l_linenumber AS VARCHAR))), 1, 2)
          < CASE WHEN l_returnflag = 'R' THEN '33' ELSE '1a' END
    """,
)
def q_sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic, stratified hash sampling — the scalable substitute
    for `df.sample()` when the sample must be reproducible across runs,
    engines, and cluster sizes (train/test splits, A/B cohorts):
    row ∈ sample ⟺ md5(stable key) prefix < per-stratum threshold.
    'R'-flag rows are kept at ~20% ('33'/'100' of the hex space), the
    rest at ~10% ('1a') — the same per-stratum-rate shape as
    `sampleBy`, but with zero RNG state: the predicate pushes to the
    scan, needs no shuffle, and any worker can decide membership
    locally. Bit-identical in DuckDB, which is the oracle."""
    li = load(spark, sf_dir, "lineitem")
    key = F.concat_ws(
        "-",
        F.col("l_orderkey").cast("string"),
        F.col("l_linenumber").cast("string"),
    )
    bucket = F.substring(F.md5(key), 1, 2)
    threshold = F.when(F.col("l_returnflag") == "R", F.lit("33")).otherwise(
        F.lit("1a")
    )
    return li.filter(bucket < threshold).select(
        "l_orderkey", "l_linenumber", "l_returnflag", "l_quantity"
    )


@register(
    "q_scan_file_metadata",
    oracle="""
    -- the fixture is exactly one file per table, so the expected
    -- provenance is its constant basename; the Spark side must derive
    -- the same name from the _metadata hidden column
    SELECT 'lineitem.parquet' AS file_name,
           COUNT(*) AS n_rows,
           COUNT(DISTINCT l_orderkey) AS n_orders
    FROM lineitem
    GROUP BY 1 ORDER BY 1
    """,
)
def q_scan_file_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hidden `_metadata` file columns: every file-source row carries its
    physical provenance (file name/path/size) as a queryable struct —
    the lineage surface a 100 TB pipeline uses to audit which files fed
    a result, quarantine a bad delivery, or re-derive per-file row
    counts without a separate manifest (`q_maintenance_compact` uses
    the same signal via input_file_name()). The oracle reads the same
    parquet with DuckDB's filename=true — both engines must attribute
    every row to the same physical file.
    """
    li = load(spark, sf_dir, "lineitem")
    return (
        li.select("l_orderkey", F.col("_metadata.file_name").alias("file_name"))
        .groupBy("file_name")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("l_orderkey").alias("n_orders"),
        )
        .orderBy("file_name")
    )
