"""Automated zero-data-proportional-collect guard (VERDICT r6 item 8).

The 100 TB posture bans driver-side materialization of anything that
grows with the corpus. The manual grep audit ran clean every round;
this test mechanizes it: an AST walk over the package finds every
``.collect()`` / ``.toPandas()`` / ``.toLocalIterator()`` /
``.take()`` / ``.first()`` / ``.head()`` call site and
requires it to appear in the allowlist below. Adding a new collect
site without consciously justifying its boundedness here is a test
failure — the allowlist IS the audit trail. (take/first/head added
per ADVICE r7: they materialize driver-side just like collect, so
leaving them unscanned let the audit under-claim. Calls on the
``F`` functions-module receiver are excluded — ``F.first(...)`` is
the JVM-side aggregate expression, not DataFrame.first().)

Every entry's bound was established in the r4-r6 plan audits:
scalars, ≤group-count folds (groups are fixed-cardinality dims:
25 nations, 5 regions, k≤32 clusters), or dim²-bounded Gram matrices
with a documented distributed fallback (similarity._pca_power_iteration).
"""

from __future__ import annotations

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parent.parent / (
    "oke_cassandra_spark_locality_demo_spark"
)

_COLLECT_ATTRS = (
    "collect",
    "toPandas",
    "toLocalIterator",
    "take",
    "first",
    "head",
)

#: Receivers whose attribute calls are column EXPRESSIONS, not driver
#: materialization: ``F.first(...)`` builds a JVM-side aggregate
#: expression and never moves rows to the driver. Only ``F`` — the one
#: alias the package actually imports (``from pyspark.sql import
#: functions as F``, pinned below by test_expr_receiver_tuple_matches
#: _package_imports) — is exempt; a DataFrame variable named
#: ``functions`` or ``sf`` calling ``.first()`` must NOT escape the
#: audit (ADVICE r8).
_EXPR_MODULE_RECEIVERS = ("F",)

#: (relative path, enclosing function) -> why the materialized size is
#: bounded independent of corpus size.
ALLOWED: dict[tuple[str, str], str] = {
    ("llm/bpe.py", "train_bpe_merges"): (
        "top-1 pair per merge round; VOCAB-bounded driver loop"
    ),
    ("llm/dedup.py", "_prefix_k"): (
        "1-row density scalar (corpus avg shingle df) per index build "
        "— picks the generalized-prefix blocking order (r12)"
    ),
    ("llm/ivf.py", "kmeans_centroids"): (
        "k centroids (k<=32) per Lloyd round, twice (init + update)"
    ),
    ("llm/ivf.py", "q_sim_ivf_index"): (
        "cell manifest + probe-cell list: k<=32 rows; query vector: 1 row"
    ),
    ("llm/pipeline.py", "q_stats_welch_ttest"): (
        "2-row per-group moment fold (two sources compared)"
    ),
    ("llm/pipeline.py", "q_budget_waterfill"): (
        "25-row per-nation demand vector (fixed dim cardinality)"
    ),
    ("llm/pq.py", "train_codebooks"): (
        "k x m codebook entries (k=16, m=4) per round, twice"
    ),
    ("llm/similarity.py", "_probe_block"): (
        "probe block of the vector-search kernels: fetches at most "
        "MAX_PROBES + 1 rows and raises past MAX_PROBES"
    ),
    ("llm/similarity.py", "_pca_power_iteration"): (
        "dim x dim Gram matrix (dim=8 fixture, 768 prod = 4.7 MB); "
        "distributed fallback documented in its docstring"
    ),
    ("llm/text.py", "exact_topk_candidate_prune"): (
        "TPUT thresholds (scalars) + certified candidate ids (<= k + "
        "ties, k constant)"
    ),
    ("operators/aggregates.py", "q_agg_simpson"): (
        "25-row per-nation share vector (fixed dim cardinality)"
    ),
    ("operators/graph.py", "q_graph_bfs"): (
        "frontier size scalar per BFS level (diameter-bounded loop)"
    ),
    ("operators/graph.py", "q_graph_cc"): (
        "convergence scalar per large-star/small-star round"
    ),
    ("operators/graph.py", "q_graph_sssp"): (
        "relaxation-count scalar per Bellman-Ford round"
    ),
    ("operators/stats.py", "q_stats_kruskal"): (
        "per-group H terms: <= 25 groups, twice (groups + tie fold)"
    ),
    ("operators/stats.py", "q_stats_anova_f"): (
        "per-group moments: <= 25 groups, twice (groups + grand mean)"
    ),
    ("operators/stats.py", "q_stats_cohen_kappa"): (
        "2x2 confusion-matrix fold: <= 4 rows"
    ),
    ("operators/stats.py", "q_stats_kaplan_meier"): (
        "per-day risk/event fold: horizon-bounded (<= 30 rows)"
    ),
    ("operators/stats.py", "q_stats_levene"): (
        "per-group absolute-deviation moments: <= 25 groups, twice"
    ),
    ("operators/windows.py", "q_ts_autocorr"): (
        "per-lag scalar moments: MAX_LAG rows (constant)"
    ),
    ("sources/ingest.py", "q_source_binaryfile"): (
        "3-row fixture manifest written once (test asset, not corpus)"
    ),
}


def _collect_sites() -> list[tuple[str, int, str]]:
    sites: list[tuple[str, int, str]] = []
    for p in sorted(PKG.rglob("*.py")):
        rel = str(p.relative_to(PKG))
        tree = ast.parse(p.read_text())

        class V(ast.NodeVisitor):
            def __init__(self) -> None:
                self.stack: list[str] = []

            def visit_FunctionDef(self, n: ast.FunctionDef) -> None:
                self.stack.append(n.name)
                self.generic_visit(n)
                self.stack.pop()

            visit_AsyncFunctionDef = visit_FunctionDef

            def visit_Call(self, n: ast.Call) -> None:
                f = n.func
                if (
                    isinstance(f, ast.Attribute)
                    and f.attr in _COLLECT_ATTRS
                    and not (
                        isinstance(f.value, ast.Name)
                        and f.value.id in _EXPR_MODULE_RECEIVERS
                    )
                ):
                    sites.append(
                        (
                            rel,
                            n.lineno,
                            self.stack[-1] if self.stack else "<module>",
                        )
                    )
                self.generic_visit(n)

        V().visit(tree)
    return sites


def test_every_collect_site_is_allowlisted():
    sites = _collect_sites()
    unknown = [
        f"{rel}:{line} in {fn}()"
        for rel, line, fn in sites
        if (rel, fn) not in ALLOWED
    ]
    assert not unknown, (
        "driver-side collect sites without a boundedness justification "
        f"(add to ALLOWED in {__file__} with the bound): {unknown}"
    )


def test_allowlist_has_no_stale_entries():
    """A removed collect site must also leave the allowlist, so the
    audit trail never over-claims."""
    live = {(rel, fn) for rel, _, fn in _collect_sites()}
    stale = [k for k in ALLOWED if k not in live]
    assert not stale, f"allowlist entries with no matching site: {stale}"


def test_expr_receiver_tuple_matches_package_imports():
    """_EXPR_MODULE_RECEIVERS must list exactly the aliases the package
    binds to pyspark.sql.functions (ADVICE r8: a stale exemption like
    'sf' would let a DataFrame variable of that name call .first()
    unaudited). Walks every import statement in the package and derives
    the true alias set."""
    aliases: set[str] = set()
    for p in sorted(PKG.rglob("*.py")):
        tree = ast.parse(p.read_text())
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom):
                if node.module == "pyspark.sql":
                    for a in node.names:
                        if a.name == "functions":
                            aliases.add(a.asname or a.name)
            elif isinstance(node, ast.Import):
                for a in node.names:
                    if a.name == "pyspark.sql.functions":
                        aliases.add(a.asname or a.name.split(".")[0])
    assert set(_EXPR_MODULE_RECEIVERS) == aliases, (
        "audit exemption tuple out of sync with the package's actual "
        f"functions aliases: tuple={_EXPR_MODULE_RECEIVERS} "
        f"imports={sorted(aliases)}"
    )
