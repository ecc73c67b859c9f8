"""Partitioning & scale policy — the 100 TB story in one place.

The reference demonstrates locality-aware token-range scans on a 2-node
Cassandra ring (/root/reference/README.md:104-135). Spark's file sources
give the same properties natively — split planning with preferred
locations, pushdown, pruning — *if* partition sizing is kept sane. This
module centralizes the knobs so every operator shares one scaling story:

- **Scan splits**: `spark.sql.files.maxPartitionBytes` (default 128 MB)
  governs split size; at 100 TB that is ~800k input splits, which Spark
  handles (task scheduling is O(1) per task; listing is the bottleneck —
  use a partitioned layout so partition pruning cuts the listing).
- **Shuffle partitions**: target ~128 MB of shuffle data per partition.
  With AQE enabled the static number is only an upper bound — AQE
  coalesces small partitions and splits skewed ones at runtime, so we
  set it generously from data volume and let AQE shrink it.
- **Joins**: dims under `spark.sql.autoBroadcastJoinThreshold` broadcast
  automatically; we additionally hint `broadcast()` for the star-schema
  dims (region/nation/supplier ≪ threshold at any SF). Fact-fact joins
  shuffle on the join key; co-partitioning both sides (same key, same
  partition count) makes the exchange reusable across stages.
- **Skew**: AQE skew-join splitting is on; for pathological keys the
  `salt()` helper below spreads one hot key over N subkeys.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Target on-disk bytes per scan split / shuffle partition. 128 MB is the
#: sweet spot between task-scheduling overhead and spill risk for 4-8 GB
#: executor heaps (Spark default; kept explicit for the scaling story).
TARGET_PARTITION_BYTES = 128 * 1024 * 1024


def shuffle_partitions_for(master: str, data_bytes: int | None = None) -> int:
    """Pick the static shuffle-partition ceiling.

    Local mode: 2× core count keeps all threads busy through stragglers
    without creating thousands of tiny partitions at test SFs. Cluster
    mode (or when ``data_bytes`` is known): data volume / 128 MB, floored
    at 2× parallelism. AQE coalesces below this at runtime.
    """
    m = re.match(r"local\[(\d+|\*)\]", master)
    if m:
        import os

        cores = (os.cpu_count() or 8) if m.group(1) == "*" else int(m.group(1))
        base = cores * 2
    else:
        base = 200  # cluster default ceiling; AQE coalesces
    if data_bytes:
        return max(base, data_bytes // TARGET_PARTITION_BYTES + 1)
    return base


def salt(df: DataFrame, key: str, buckets: int, salt_col: str = "_salt") -> DataFrame:
    """Add a deterministic salt column to spread a skewed key.

    Join pattern: salt the skewed fact side with ``salt(fact, k, N)``,
    explode the dim side over ``sequence(0, N-1)``, join on
    ``(key, _salt)``. AQE's skew-join handles moderate skew without this;
    salting is for the single-hot-key regime (e.g. null-heavy FKs).
    """
    return df.withColumn(salt_col, F.pmod(F.xxhash64(F.col(key)), F.lit(buckets)))


def co_partition(left: DataFrame, right: DataFrame, key: str, n: int | None = None):
    """Repartition both join sides identically — the engine's analog of the
    connector's ``repartitionByCassandraReplica`` (reference declares it via
    the connector at /root/reference/userdata/cloudinit.sh:461; SURVEY §2.2
    B6). Both sides hash-partition on ``key`` so the subsequent join's
    exchanges are aligned, and the partitioning is reusable by later
    stages keyed the same way.
    """
    if n is None:
        left = left.repartition(F.col(key))
        right = right.repartition(F.col(key))
    else:
        left = left.repartition(n, F.col(key))
        right = right.repartition(n, F.col(key))
    return left, right


def bucket_expr(col: Column, n_buckets: int) -> Column:
    """Stable hash-bucket expression (used by storage bucketing and the
    LSH band hashing) — xxhash64 is Spark's codegen'd 64-bit hash."""
    return F.pmod(F.xxhash64(col), F.lit(n_buckets))
