"""Query registry: each operator from SURVEY §2.3 registers a named
(spark, sf_dir) -> DataFrame callable and, when SQL-expressible, the
equivalent DuckDB oracle SQL. `__spark_entry__.py` exposes this registry
to the driver's correctness harness.

Determinism/parity conventions (FIXTURES.md §"Oracle-parity"):
- alias every computed column identically on both sides;
- explicit ORDER BY before any LIMIT;
- round float aggregates to 4 dp on both sides;
- UTC everywhere.
"""

from __future__ import annotations

import os
import shutil
import tempfile
from collections.abc import Callable
from dataclasses import dataclass

from pyspark import SparkFiles
from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

#: Oracle-side events relation at microsecond precision. The raw fixture
#: is TIMESTAMP_NS; Spark reads a µs-truncated staging copy
#: (catalog._stage_events_us), and DuckDB must compute on the identically
#: truncated values or sub-µs remainders leak into hashes.
EVENTS_US = (
    "(SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, "
    "value, props FROM events)"
)


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB SQL; None → driver records rows-only
    doc: str


_REGISTRY: dict[str, QuerySpec] = {}

#: Spark application ids that already had the package zip shipped to
#: their executors (one addPyFile per app; a second add of the same
#: filename is rejected by Spark, so the guard is correctness, not just
#: cost).
_PYFILES_SHIPPED: set[str] = set()


def _ensure_worker_imports(spark: SparkSession) -> None:
    """Ship this package to executor Python workers via ``addPyFile``.

    Pandas UDFs, UDTFs, and Python data sources registered by query
    functions are pickled with references to this package's modules by
    NAME; the executor-side Python worker must therefore be able to
    ``import oke_cassandra_spark_locality_demo_spark``. That resolves today only
    because workers inherit the driver process's cwd and the driver
    happens to be launched from the repo root — a caller running from
    any other directory gets ``ModuleNotFoundError`` inside tasks
    (measured: every UDF/pyds key fails when the harness cwd is /tmp).
    Shipping a zip of the package through Spark's file channel removes
    the cwd dependence entirely: SparkFiles roots are appended to the
    worker's sys.path on every node, which is also exactly what a real
    1000-executor cluster needs (the repo is not installed on worker
    images there either).

    The driver-side worker that plans a *streaming* Python data source
    resolves its includes under ``<SparkFiles root>/streaming_job`` (a
    fixed job-artifact id in Spark's ``PythonStreamingSourceRunner``),
    not under the root where ``addPyFile`` put the zip, so the zip is
    linked there too.
    """
    sc = spark.sparkContext
    app_id = sc.applicationId
    if app_id in _PYFILES_SHIPPED:
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    parent, pkg_name = os.path.split(pkg_dir)
    zip_base = os.path.join(
        tempfile.gettempdir(), f"spark_graft_pkg_{os.getpid()}"
    )
    if not os.path.exists(zip_base + ".zip"):
        shutil.make_archive(zip_base, "zip", root_dir=parent, base_dir=pkg_name)
    sc.addPyFile(zip_base + ".zip")
    root = SparkFiles.getRootDirectory()
    zip_name = os.path.basename(zip_base) + ".zip"
    streaming_root = os.path.join(root, "streaming_job")
    os.makedirs(streaming_root, exist_ok=True)
    link = os.path.join(streaming_root, zip_name)
    if not os.path.lexists(link):
        os.symlink(os.path.join(root, zip_name), link)
    _PYFILES_SHIPPED.add(app_id)


def register(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Decorator: register a query under ``name`` with optional oracle SQL."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query registration: {name}")

        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            # Oracle parity requires UTC regardless of how the caller
            # (driver harness) configured its session (FIXTURES.md).
            spark.conf.set("spark.sql.session.timeZone", "UTC")
            _ensure_worker_imports(spark)
            return fn(spark, sf_dir)

        wrapped.__doc__ = fn.__doc__
        wrapped.__name__ = fn.__name__
        _REGISTRY[name] = QuerySpec(name, wrapped, oracle, (fn.__doc__ or "").strip())
        return fn

    return deco


def _load_all() -> None:
    """Import every operator module so registrations run."""
    from . import operators, functions, sources, streaming, llm  # noqa: F401
    from .operators import (  # noqa: F401
        scans,
        filters,
        joins,
        aggregates,
        windows,
        sorts,
        setops,
        meta,
        sql_features,
        graph,
        tpch,
        geo,
        stats,
    )
    from .functions import scalar, udf  # noqa: F401
    from .sources import ingest, pyds  # noqa: F401
    from .streaming import windows as stream_windows  # noqa: F401
    from .streaming import stateful  # noqa: F401
    from .streaming import joins as stream_joins  # noqa: F401
    from .llm import dedup, similarity, text, multimodal, pipeline, ivf, pq, sampling, bpe, rank  # noqa: F401


def all_queries() -> dict[str, QueryFn]:
    """Every registered query, in registration order."""
    _load_all()
    return {name: spec.fn for name, spec in _REGISTRY.items()}


def all_oracles() -> dict[str, str]:
    """Oracle SQL of every oracle-backed query, in registration order."""
    _load_all()
    return {
        name: spec.oracle
        for name, spec in _REGISTRY.items()
        if spec.oracle is not None
    }


def get(name: str) -> QuerySpec:
    _load_all()
    return _REGISTRY[name]
