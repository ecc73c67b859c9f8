"""Memory-aware physical-plan hardening (VERDICT r10 item 3).

Spark's contract under execution-memory pressure is
correctness-or-error, and the r10 perturbation sweep held it at every
probed level — but at the deliberate starvation EXTREME
(``spark.memory.fraction=0.05``) a handful of stages fail-stopped with
UNABLE_TO_ACQUIRE_MEMORY: a stage that pipelines several page-consuming
operators (sort-merge sorts, aggregate hash maps, dynamic-partition
write sorters) divides a pool that long verification sweeps further
shrink (accumulated broadcasts squat the protected storage region)
below ONE 256 KB Tungsten page per consumer. Measured arithmetic at
the extreme: ~6.9 MB pool, half protected, 16 concurrent tasks →
216 KB grants < the 262 144-byte first page request.

The helpers here implement the memory-pressure analog of AQE's runtime
re-planning: IDENTITY at normal memory (no plan change, no cost), and
under starvation — detected from ``spark.memory.fraction`` ≤ 0.1 —
they trade pipelining for guaranteed progress:

- ``stage_barrier(df)``: eager DISK_ONLY localCheckpoint at
  2-partition parallelism. Downstream stages restart from on-disk
  blocks with zero upstream operators in their pipeline, and their
  active-task count (which sets the per-task share pool/(2·N)) drops
  to 2 → ~870 KB guaranteed per task: first page + spill headroom.
  The repartition exchange itself is bypass-merge (≤200 partitions:
  plain per-partition disk writers, zero pool pages), so the barrier
  cannot starve. Results are bit-identical — same rows, lineage cut
  only. NOTE: not applicable upstream of ``input_file_name()``
  consumers (checkpointed blocks have no file).
- ``pin(df)``: the persist analog — ``cache()`` (MEMORY_AND_DISK)
  normally; DISK_ONLY at 2 partitions under starvation so cached
  blocks stop squatting the protected storage region that execution
  cannot evict.
- ``starved_parts(spark)``: the partition count (2) for call sites
  that must keep their own operators (e.g. dynamic-partition writes
  whose sorters starve at 16-wide) but can run them narrow; None at
  normal memory.

100 TB note: a production cluster sizes executor memory so this never
engages (the threshold is far below any sane config). The value is the
contract it preserves: under ANY memory budget the engine either
answers correctly or advances by trading throughput for footprint —
never wrong, never wedged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

#: spark.memory.fraction at or below this = deliberate starvation
STARVED_FRACTION_MAX = 0.1

#: stage width under starvation: pool/(2·2) ≈ 870 KB guaranteed/task
#: at the measured 0.05 extreme — multiple pages of headroom
STARVED_PARTS = 2


def exec_memory_starved(spark: SparkSession) -> bool:
    """True when the session runs under deliberate execution-memory
    starvation (see module docstring for the page arithmetic). Reads
    the one key: ``sparkContext.getConf()`` would copy the whole
    SparkConf over Py4J on every barrier."""
    try:
        frac = float(spark.conf.get("spark.memory.fraction", "0.6"))
    except (TypeError, ValueError):
        return False
    return frac <= STARVED_FRACTION_MAX


#: application ids whose session confs were already narrowed
_TUNED_APPS: set[str] = set()


def _ensure_starved_session_tuning(spark: SparkSession) -> None:
    """Narrow the session's post-shuffle width once starvation is
    detected (idempotent, per app).

    The barriers control MAP-side stage width via their checkpoint
    partition count, but every post-shuffle stage (final aggregations,
    sort-merge joins) runs at ``spark.sql.shuffle.partitions`` — AQE
    normally coalesces those down over the fixture's tiny shuffles,
    but with AQE disabled (a swept environment axis) they stay
    16-wide and starve exactly like the map side did (measured:
    starvation + adaptive=false fail-stopped 5 hardened keys that are
    green under either flip alone). ``spark.memory.fraction`` is a
    static conf, so a starved session is starved for its whole
    lifetime — narrowing the runtime-settable shuffle width
    session-wide is therefore sound, and result-invariant: the r9
    single-reducer sweep (shuffle.partitions=1) is oracle-green over
    the entire registry."""
    app = spark.sparkContext.applicationId
    if app in _TUNED_APPS:
        return
    spark.conf.set("spark.sql.shuffle.partitions", str(STARVED_PARTS))
    _TUNED_APPS.add(app)


def starved_parts(spark: SparkSession) -> int | None:
    """STARVED_PARTS under starvation, else None (use natural width)."""
    if not exec_memory_starved(spark):
        return None
    _ensure_starved_session_tuning(spark)
    return STARVED_PARTS


def stage_barrier(df: DataFrame) -> DataFrame:
    """Identity at normal memory; under starvation, an eager DISK_ONLY
    localCheckpoint at STARVED_PARTS-partition parallelism (module
    docstring has the full rationale and the non-applicability note
    for input_file_name consumers)."""
    if not exec_memory_starved(df.sparkSession):
        return df
    from pyspark.storagelevel import StorageLevel

    _ensure_starved_session_tuning(df.sparkSession)
    return df.repartition(STARVED_PARTS).localCheckpoint(
        eager=True, storageLevel=StorageLevel.DISK_ONLY
    )


def pin(df: DataFrame) -> DataFrame:
    """``cache()`` at normal memory; DISK_ONLY persist at STARVED_PARTS
    partitions under starvation (keeps reuse semantics with zero
    storage-memory footprint; ``unpersist()`` works identically)."""
    if not exec_memory_starved(df.sparkSession):
        return df.cache()
    from pyspark.storagelevel import StorageLevel

    _ensure_starved_session_tuning(df.sparkSession)
    return df.repartition(STARVED_PARTS).persist(StorageLevel.DISK_ONLY)
