"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Backed by the `oke_cassandra_spark_locality_demo_spark` package's query registry: every
operator module registers its (spark, sf_dir) → DataFrame callable and
DuckDB oracle side-by-side (see oke_cassandra_spark_locality_demo_spark/registry.py).

Sample order. The driver grades the first 50 keys of ``queries()``
each round, so ``queries()`` and ``oracle_sql()`` order keys in three
tiers, read from the ``CORRECTNESS_r*.json`` files next to this file:

1. keys changed since their last grade (``CHANGED_SINCE_GRADE``), in
   listing order;
2. keys never graded, oracle-backed before rows-only, in registration
   order;
3. graded keys, stalest grade first, oracle-backed before rows-only.
   A key's grade is the (round, position) of its latest appearance in
   a CORRECTNESS file.

Tier 1 means a changed key is always re-graded externally. Rows-only
keys go last in their tier because the driver gives them only a
row-count verdict. Stalest-first makes the spare slots walk the whole
registry round after round.

Without CORRECTNESS files nothing counts as graded or changed since a
grade, and the order is registration order. Every key stays
registered and callable by name; the order only decides which keys
the driver's sample grades.
"""

from __future__ import annotations

import json
import os
import re
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _HERE)

from oke_cassandra_spark_locality_demo_spark import registry  # noqa: E402
from oke_cassandra_spark_locality_demo_spark.operators.scans import flagship  # noqa: E402

SMOKE_SF_DIR = "/root/testdata/sf0.001"

#: Keys whose builder or oracle changed after their latest grade, listed
#: under the newest CORRECTNESS round at the time of the change. A key
#: listed under round r leads the sample until a CORRECTNESS file
#: numbered above r grades it; then its entry is deleted
#: (tests/test_properties.py names such entries).
CHANGED_SINCE_GRADE: dict[int, tuple[str, ...]] = {
    14: (
        # llm/similarity.py, pq.py, ivf.py: one shared probe fetch,
        # batch top-k and final cosine rank
        "q_sim_knn_exact", "q_sim_knn_blas", "q_sim_lsh", "q_sim_pq",
        "q_sim_ivf", "q_sim_lsh_audit", "q_sim_pq_audit",
        "q_sim_ivf_audit", "q_sim_ivf_index",
        # operators/stats.py: empty input returns the empty frame
        "q_stats_kruskal",
        # reworked with no grade since
        "q_agg_sketch_theta", "q_text_perplexity_bigram",
        # catalog.read_parquet: one footer-schema inference per file
        "q_tpch_q1", "q_tpch_q3", "q_tpch_q5", "q_tpch_q6", "q_ctas",
        "q_stream_watermark_late", "q_scan_file_metadata",
        "q_stream_cdc_upsert",
        # llm/multimodal.py: one phash_bands pass
        "q_multimodal_phash",
        # streaming/runtime.py: FileSystem checkpoint manager, one
        # wave of state partitions
        "q_stream_stateful", "q_stream_stateful_tws", "q_stream_pyds",
        # llm/dedup.py: _spread decides from the documents file's row
        # groups (q_agg_sketch_theta, listed above, derives its
        # intersection band from the estimate's variance)
        "q_dedup_simhash", "q_dedup_span", "q_dedup_containment",
        "q_dedup_ngram_jaccard", "q_dedup_ngram_prefix", "q_dedup_minhash",
        "q_dedup_incremental_fuzzy", "q_contamination", "q_split_leakage",
        "q_text_boilerplate", "q_text_novelty",
    ),
}

_CORRECTNESS = re.compile(r"CORRECTNESS_r(\d+)\.json")


def grades(directory: str = _HERE) -> dict[str, tuple[int, int]]:
    """Each graded key's latest (round, position) in ``directory``'s
    CORRECTNESS files."""
    rounds = {}
    for name in os.listdir(directory):
        m = _CORRECTNESS.fullmatch(name)
        if m:
            rounds[int(m.group(1))] = os.path.join(directory, name)
    latest: dict[str, tuple[int, int]] = {}
    for rnd in sorted(rounds):
        with open(rounds[rnd]) as f:
            for pos, key in enumerate(json.load(f)):
                latest[key] = (rnd, pos)
    return latest


def regraded_changes(directory: str = _HERE) -> list[tuple[int, str]]:
    """``CHANGED_SINCE_GRADE`` entries that a later CORRECTNESS file
    has graded, as (round, key)."""
    latest = grades(directory)
    return [
        (rnd, key)
        for rnd, keys in CHANGED_SINCE_GRADE.items()
        for key in keys
        if key in latest and latest[key][0] > rnd
    ]


def _sample_order(directory: str = _HERE) -> list[str]:
    """Registered keys in the driver's sample order (module docstring)."""
    names = list(registry.all_queries())
    latest = grades(directory)
    if not latest:
        return names
    oracles = registry.all_oracles()
    regraded = set(regraded_changes(directory))
    changed = list(
        dict.fromkeys(
            key
            for rnd in sorted(CHANGED_SINCE_GRADE)
            for key in CHANGED_SINCE_GRADE[rnd]
            if key in names and (rnd, key) not in regraded
        )
    )
    rest = [k for k in names if k not in changed]
    # sorted() is stable: never-graded keys keep registration order
    fresh = sorted(
        (k for k in rest if k not in latest), key=lambda k: k not in oracles
    )
    graded = sorted(
        (k for k in rest if k in latest),
        key=lambda k: (k not in oracles, latest[k]),
    )
    return changed + fresh + graded


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on sf0.001: TPC-H-Q1-shaped pricing summary
    (scan → pushdown filter → grouped agg → sort)."""
    return flagship(spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2.3."""
    fns = registry.all_queries()
    return {k: fns[k] for k in _sample_order()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL for every deterministic query; approx/ANN/
    streaming-only keys are omitted (rows-only check)."""
    oracles = registry.all_oracles()
    return {k: oracles[k] for k in _sample_order() if k in oracles}
