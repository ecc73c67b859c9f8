"""Property-based checks (hypothesis): the hand-built operators whose
semantics aren't a single Spark builtin — as-of join, session windows —
verified against brute-force Python references on random inputs.
Randomness here is test-side only; the operators themselves stay
deterministic."""

from __future__ import annotations

import re
from datetime import datetime, timedelta

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from oke_cassandra_spark_locality_demo_spark.operators.joins import asof_join

_BASE = datetime(2024, 1, 1)


def _row_key(row):
    """Total-order sort key for canonicalized row tuples. Plain
    sorted() dies with TypeError on rows mixing None with tuples
    (e.g. q_fn_try's nullable struct column): None has no ordering
    against _canon's type-tagged tuples. Null-flag + repr gives a
    deterministic total order without changing equality semantics —
    the invariance assertion still compares the full row lists."""
    return tuple((v is None, repr(v)) for v in row)

# (user, ts_offset_seconds, value)
_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2),
        st.integers(min_value=0, max_value=1000),
        st.integers(min_value=0, max_value=99),
    ),
    min_size=0,
    max_size=15,
)


def _mk_events(spark, rows, tag):
    data = [
        (i, u, _BASE + timedelta(seconds=s), float(v))
        for i, (u, s, v) in enumerate(rows)
    ]
    return spark.createDataFrame(
        data, f"{tag}_id long, user_id long, ts timestamp, value double"
    )


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(left_rows=_rows, right_rows=_rows)
def test_asof_join_matches_bruteforce(spark, left_rows, right_rows):
    left = _mk_events(spark, left_rows, "l").withColumnRenamed("l_id", "lid")
    right = (
        _mk_events(spark, right_rows, "r")
        .select("user_id", F.col("ts").alias("r_ts"), F.col("value").alias("r_value"))
    )
    got = {
        (r["lid"]): (r["r_ts"], r["r_value"])
        for r in asof_join(
            left, right, "user_id", "ts", "r_ts", ["r_ts", "r_value"]
        ).collect()
    }

    # brute force: per left row, latest right (ts', v) with ts' <= ts,
    # ties on ts' broken by the later-arriving (max) value? — the union-
    # marker form takes the right row that sorts LAST among equal ts',
    # which for duplicates is whichever last() saw; restrict the check to
    # the matched timestamp (deterministic) and skip value on exact ties.
    rights = {}
    for u, s, v in right_rows:
        rights.setdefault(u, []).append((_BASE + timedelta(seconds=s), float(v)))
    for i, (u, s, _v) in enumerate(left_rows):
        ts = _BASE + timedelta(seconds=s)
        cands = [rv for rv in rights.get(u, []) if rv[0] <= ts]
        expect_ts = max((c[0] for c in cands), default=None)
        assert i in got
        assert got[i][0] == expect_ts, (i, got[i], expect_ts)
        if expect_ts is not None:
            tied = {c[1] for c in cands if c[0] == expect_ts}
            assert got[i][1] in tied


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(rows=_rows)
def test_session_window_matches_bruteforce(spark, rows):
    """Spark session_window(gap=60s) vs brute-force gap clustering."""
    df = _mk_events(spark, rows, "e")
    got = sorted(
        (r["user_id"], r["w"]["start"], r["w"]["end"], r["n"])
        for r in df.groupBy(
            F.col("user_id"), F.session_window("ts", "60 seconds").alias("w")
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )

    per_user: dict[int, list[datetime]] = {}
    for u, s, _v in rows:
        per_user.setdefault(u, []).append(_BASE + timedelta(seconds=s))
    expect = []
    for u, tss in per_user.items():
        tss.sort()
        start, last, n = tss[0], tss[0], 1
        for t in tss[1:]:
            # Spark's session window is boundary-INCLUSIVE: an event at
            # exactly last+gap still extends the session; a new session
            # starts only strictly past it (hypothesis found the edge)
            if (t - last) > timedelta(seconds=60):
                expect.append((u, start, last + timedelta(seconds=60), n))
                start, n = t, 0
            last = t
            n += 1
        expect.append((u, start, last + timedelta(seconds=60), n))
    assert got == sorted(expect), (got, sorted(expect))


def test_pagerank_mass_conserved(spark, sf_dir):
    """With no dangling nodes (every nation trades at fixture scale),
    PageRank is a stochastic-matrix fixpoint iteration: total rank mass
    stays 1 every iteration. A drift means broken weight normalization
    or dropped contributions."""
    from oke_cassandra_spark_locality_demo_spark.registry import get

    rows = get("q_graph_pagerank").fn(spark, sf_dir).collect()
    total = sum(r["pagerank"] for r in rows)
    assert abs(total - 1.0) < 1e-3, total
    assert all(r["pagerank"] > 0 for r in rows)


def test_results_invariant_under_partitioning(spark, sf_dir):
    """The exact-decimal discipline's point: results must be IDENTICAL
    (hash-equal, not approximately equal) under different shuffle
    partitioning — the property that makes retries, speculative
    execution, and cluster resizes safe at 100 TB. Run float-heavy
    queries under 5 and 32 shuffle partitions and require equality."""
    from oke_cassandra_spark_locality_demo_spark.registry import get

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    names = [
        "q_agg_hash",
        "q_agg_weighted",
        "q_agg_higher_moments",
        "q_win_time_weighted",
        # round-3 rewrites: rank-selection medians, merged rollup,
        # nano-unit integer centroid means, iterative float pagerank
        "q_agg_mad_outliers",
        "q_agg_incremental",
        "q_vec_centroid",
        "q_graph_pagerank",
        # round-4 integer-unit conversions: micro-unit log terms,
        # nano-unit dot/l2 sums, tt-unit money sums
        "q_text_entropy",
        "q_text_perplexity",
        "q_sim_pairwise_label",
        "q_pipeline_e2e",
        "q_stream_tumbling",
        "q_agg_stats",
        # round-4: the TPC-H module's decimal-sum discipline (Q1 is the
        # 8-aggregate float-heaviest of the suite; Q9 exercises the
        # same _money discipline through a 4-way join)
        "q_tpch_q1",
        "q_tpch_q9",
        # late-r4 additions: session boundaries must not move with the
        # shuffle layout (tie discipline), and the CMS bucket counts /
        # verdict booleans are partitioning-free by construction
        "q_sessionize",
        "q_agg_sketch_cms",
        # fifth-block additions: decimal power sums (moments) and the
        # signed-delta IVM merge are exact by construction — hold them
        # to it (q_vec_pca is deliberately absent: quant_memo returns
        # the same trained state across configs, which would make the
        # check vacuous — its exact-integer iteration is the guarantee)
        "q_agg_sketch_moments",
        "q_mv_incremental",
        "q_merge_multi_action",
        # block-7 additions flagged by the second review: the
        # temperature normalizer must stay an exact integer sum, and
        # the bitmap words are OR-merged (order-free) by construction
        "q_sample_temperature",
        "q_agg_bitmap_distinct",
        # late-r5 continuation: every new op that sums rounded log
        # terms (bigram perplexity, DSIR weights, NB scores) or crosses
        # an ECDF (KS) must emit identical integers under any layout
        "q_text_perplexity_bigram",
        "q_select_dsir",
        "q_drift_ks",
        "q_classify_nb",
    ]
    prev_split = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        results = {}
        # third config also shrinks the scan splits to 128 KB: the
        # number of INPUT partitions (not just shuffle partitions)
        # decides the partial-aggregation merge order on the map side —
        # a separate environment axis the driver may differ on.
        for n_part, split_bytes in (
            ("5", prev_split),
            ("32", prev_split),
            ("7", "131072"),
        ):
            spark.conf.set("spark.sql.shuffle.partitions", n_part)
            spark.conf.set("spark.sql.files.maxPartitionBytes", split_bytes)
            for name in names:
                rows = sorted(
                    (tuple(r) for r in get(name).fn(spark, sf_dir).collect()),
                    key=_row_key,
                )
                results.setdefault(name, []).append(rows)
        for name, (a, b, c) in results.items():
            assert a == b == c, f"{name} differs across partitionings"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        spark.conf.set("spark.sql.files.maxPartitionBytes", prev_split)


def test_sample_prefix_invariant_under_partitioning(spark, sf_dir):
    """Partition-count invariance for EVERY key in the driver's first-50
    sample prefix, not just the hand-picked float-heavy list above. The
    r1-r3 repeat hash-fails all shared one mechanism the bit-exact local
    mirror (fixed partitioning) could not see: float aggregation whose
    result depends on the partial-aggregation order, which shifts with
    the harness's shuffle layout. Running each sampled key under 5 and
    32 shuffle partitions and requiring canonicalized-row equality
    probes exactly that failure mode on exactly the keys the driver
    will grade this round.

    Three configs, two axes (mirroring the curated float-heavy sweep
    above): shuffle partitions 5 vs 32 vary the REDUCE-side merge
    order; the third config also shrinks scan splits to 128 KB, which
    varies the number of input partitions and with it the MAP-side
    partial-aggregation order — a separate environment axis the
    driver's host may legitimately differ on (added r8, ahead of the
    float-heavy window/time-series block fronting this round)."""
    import __spark_entry__ as entry

    from .parity import _canon

    prefix = list(entry.queries().items())[:50]
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    prev_split = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        results: dict[str, list] = {}
        for n_part, split_bytes in (
            ("5", prev_split),
            ("32", prev_split),
            ("7", "131072"),
        ):
            spark.conf.set("spark.sql.shuffle.partitions", n_part)
            spark.conf.set("spark.sql.files.maxPartitionBytes", split_bytes)
            for name, fn in prefix:
                rows = sorted(
                    (
                        tuple(_canon(v) for v in r)
                        for r in fn(spark, sf_dir).collect()
                    ),
                    key=_row_key,
                )
                results.setdefault(name, []).append(rows)
        diffs = [n for n, (a, b, c) in results.items() if not (a == b == c)]
        assert not diffs, f"partitioning-dependent results: {diffs}"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        spark.conf.set("spark.sql.files.maxPartitionBytes", prev_split)


def _latest_grades(directory) -> dict[str, tuple[int, int]]:
    """Each key's latest (round, position) across the CORRECTNESS files,
    read independently of __spark_entry__.grades."""
    import json
    import pathlib

    latest: dict[str, tuple[int, int]] = {}
    files = pathlib.Path(directory).glob("CORRECTNESS_r*.json")
    for path in sorted(files, key=lambda p: int(p.stem.split("_r")[1])):
        rnd = int(path.stem.split("_r")[1])
        for pos, key in enumerate(json.loads(path.read_text())):
            latest[key] = (rnd, pos)
    return latest


def test_driver_sample_prefix_is_oracle_backed():
    """The correctness harness grades the first 50 keys of
    __spark_entry__.queries(). That prefix must hold every key changed
    since its last grade (the honesty guard: a changed key is always
    re-graded externally), must not burn a slot on a rows-only key
    unless that key changed, and must fill spare slots with the
    stalest grades first: never-graded keys, then graded oracle-backed
    keys by the (round, position) of their latest grade."""
    import os

    import __spark_entry__ as entry
    from oke_cassandra_spark_locality_demo_spark import registry

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    latest = _latest_grades(root)
    q = list(entry.queries())
    o = entry.oracle_sql()
    assert list(o) == [k for k in q if k in o]
    changed = {
        k
        for rnd, keys in entry.CHANGED_SINCE_GRADE.items()
        for k in keys
        if latest.get(k, (rnd,))[0] <= rnd
    }
    for k in changed:
        assert k in q[:50], f"{k} changed since its grade but fell out of the prefix"
    rows_only = [k for k in q[:50] if k not in o and k not in changed]
    assert not rows_only, rows_only
    spare = [k for k in q[:50] if k not in changed]
    never_graded = sorted(
        (k for k in registry.all_queries() if k not in latest and k not in changed),
        key=lambda k: k not in o,
    )
    expected = never_graded + sorted(
        (k for k in o if k in latest and k not in changed),
        key=latest.__getitem__,
    )
    assert spare == expected[: len(spare)], (
        "spare prefix slots must go to never-graded keys, then to the "
        f"stalest grades: got {spare[:5]}…, want {expected[:5]}…"
    )


def test_changed_since_grade_lists_no_regraded_key():
    """An entry of CHANGED_SINCE_GRADE that a later CORRECTNESS file has
    graded no longer leads the sample; delete it."""
    import __spark_entry__ as entry

    assert entry.regraded_changes() == []


def test_sample_order_follows_correctness_files(tmp_path, monkeypatch):
    """Over fake CORRECTNESS files: a re-grade moves a key to the tail,
    a CHANGED_SINCE_GRADE entry stays first until a later round grades
    it and is then reported, and no files means registration order."""
    import json

    import __spark_entry__ as entry
    from oke_cassandra_spark_locality_demo_spark import registry

    names = list(registry.all_queries())
    oracles = registry.all_oracles()
    assert names == list(registry._REGISTRY)
    assert entry._sample_order(str(tmp_path)) == names

    (tmp_path / "CORRECTNESS_r01.json").write_text(
        json.dumps(
            {
                k: {}
                for k in ("q_dedup_minhash", "q_tpch_q1", "q_tpch_q3", "q_tpch_q5")
            }
        )
    )
    (tmp_path / "CORRECTNESS_r02.json").write_text(
        json.dumps({k: {} for k in ("q_tpch_q1", "q_tpch_q3")})
    )
    monkeypatch.setattr(
        entry, "CHANGED_SINCE_GRADE", {1: ("q_tpch_q3",), 2: ("q_tpch_q5",)}
    )
    order = entry._sample_order(str(tmp_path))
    graded = ("q_dedup_minhash", "q_tpch_q1", "q_tpch_q3", "q_tpch_q5")
    fresh = [k for k in names if k not in graded]
    # q_dedup_minhash is rows-only: stalest grade, but after every
    # oracle-backed graded key
    assert "q_dedup_minhash" not in oracles
    assert order == (
        ["q_tpch_q5"]
        + [k for k in fresh if k in oracles]
        + [k for k in fresh if k not in oracles]
        + ["q_tpch_q1", "q_tpch_q3", "q_dedup_minhash"]
    )
    assert entry.regraded_changes(str(tmp_path)) == [(1, "q_tpch_q3")]


def test_oracle_float_parity_lint():
    """Enforce the FIXTURES.md cross-engine float rules over every
    registered oracle (measured r1-r4 driver postmortems):

    - no `LOG2(` — Spark's log2 is ln(x)/ln(2) while DuckDB's LOG2 is
      correctly rounded; they differ on 76 of the first 200 integers.
      Write the LN ratio explicitly on both sides.
    - no `value AS DECIMAL` — the double→decimal cast path on the
      full-noise events.value column hash-failed the driver three
      rounds running (q_agg_incremental); use ROUND(value*10^k)→BIGINT
      units. The two r3-adjudicated-GREEN small-window exceptions are
      allowlisted verbatim rather than churned.
    - no interpolated `QUANTILE_CONT`/`PERCENTILE` — diverges from any
      Spark formulation at value ties; use rank selection. One
      documented exception where the Spark side hand-implements the
      identical interpolation.
    """
    import re

    from oke_cassandra_spark_locality_demo_spark import registry

    registry._load_all()
    allow = {
        "LOG2": set(),
        "value-decimal": {"q_win_frame_rows", "q_win_frame_range"},
        "quantile": {"q_feature_bucketize"},
    }
    violations = []
    for name, spec in registry._REGISTRY.items():
        if not spec.oracle:
            continue
        up = spec.oracle.upper()
        if "LOG2(" in up and name not in allow["LOG2"]:
            violations.append((name, "LOG2"))
        if (
            re.search(r"VALUE\s+AS\s+DECIMAL", up)
            and name not in allow["value-decimal"]
        ):
            violations.append((name, "value-decimal"))
        if (
            ("QUANTILE_CONT" in up or "PERCENTILE" in up)
            and name not in allow["quantile"]
        ):
            violations.append((name, "quantile"))
    assert not violations, violations


def test_cogroup_survives_column_pruning(spark, sf_dir):
    """Regression: q_udf_cogroup must work under a count() action, not
    just collect-style ones. When both cogroup sides derive from ONE
    relation instance, the analyzer's self-cogroup dedup re-aliases the
    right child but leaves the pandas UDF's right-side argument
    expressions pointing at left expr-ids; column pruning (triggered by
    count(), never by collect()) then drops the right child's ts column
    and the UDF crashes with KeyError inside the worker. The fix loads
    the events relation once per side. The oracle harness collects rows
    and therefore cannot see this class — this test counts."""
    from oke_cassandra_spark_locality_demo_spark.registry import get

    df = get("q_udf_cogroup").fn(spark, sf_dir)
    assert df.count() == len(df.collect()) > 0


def test_incremental_mv_edges_match_recompute(spark):
    """IVM edge cases the fixture can't produce: a group that exists
    ONLY in the delta batch (born after the cutoff), a group fully
    retracted by deletes in the delta, and an update that moves a key
    between groups — incremental merge must equal the full recompute."""
    from datetime import datetime

    from pyspark.sql import functions as F

    from oke_cassandra_spark_locality_demo_spark.operators.windows import (
        incremental_mv,
    )

    t = lambda d: datetime(2024, 1, d)  # noqa: E731
    rows = [
        # (user, event_id, ts, group, v_tt, op)
        (1, 1, t(1), "A", 100, "U"),
        (2, 2, t(2), "A", 200, "U"),
        (3, 3, t(3), "B", 300, "U"),
        # delta (>= Jan 10): kill group B, move user 2 to group C,
        # birth group D on a brand-new key
        (3, 4, t(11), "B", 0, "D"),
        (2, 5, t(12), "C", 250, "U"),
        (4, 6, t(13), "D", 400, "U"),
    ]
    feed = spark.createDataFrame(
        rows,
        "user_id long, event_id long, ts timestamp, event_type string, "
        "v_tt long, op string",
    )
    cut = spark.range(1).select(F.lit(t(10)).alias("cut"))
    got = {
        r["event_type"]: (r["n_users"], r["total_value_tt"])
        for r in incremental_mv(feed, cut).collect()
    }
    # recompute by hand: latest per key -> 1:A/100, 2:C/250, 3:deleted, 4:D/400
    assert got == {"A": (1, 100), "C": (1, 250), "D": (1, 400)}, got


# ---------------------------------------------------------------------------
# Arrow batch-size invariance (round 9)
# ---------------------------------------------------------------------------

_ARROW_API_ATTRS = {
    "mapInPandas", "applyInPandas", "mapInArrow", "applyInArrow",
    "applyInPandasWithState", "transformWithStateInPandas",
    "pandas_udf",
}


def _arrow_derivation():
    """Derive the Arrow batch-size sweep from the package source.

    One AST pass over every package module records, per top-level
    function, the names it mentions (``ast.Name`` ids and attribute
    names, nested functions included; docstrings are constants and do
    not count) and its ``@register("key")`` keys. A top-level function
    is Arrow-batched if it names an ``_ARROW_API_ATTRS`` API, or names
    another Arrow-batched top-level function (a fixpoint; names are
    matched package-wide, which can only over-include). Eager Arrow
    execution inside a builder (the streaming keys' applyInPandas*
    runs) is found the same way, with no plan inspection.

    Returns ``(keys, direct, reached)``: the swept registry keys, the
    functions that name an Arrow API directly (``"<module>"`` for a
    call outside any top-level function), and every function a swept
    key's builder reaches by name."""
    import ast
    import os

    import oke_cassandra_spark_locality_demo_spark as pkg

    refs: dict[str, set[str]] = {}
    keys: dict[str, list[str]] = {}
    direct: set[str] = set()
    for root, _, files in os.walk(os.path.dirname(pkg.__file__)):
        for fname in (f for f in files if f.endswith(".py")):
            with open(os.path.join(root, fname)) as fh:
                tree = ast.parse(fh.read())
            for node in tree.body:
                names = {
                    getattr(n, "id", None) or getattr(n, "attr", None)
                    for n in ast.walk(node)
                    if isinstance(n, (ast.Name, ast.Attribute))
                }
                if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    if names & _ARROW_API_ATTRS:
                        direct.add("<module>")
                    continue
                refs.setdefault(node.name, set()).update(names)
                if names & _ARROW_API_ATTRS:
                    direct.add(node.name)
                keys.setdefault(node.name, []).extend(
                    d.args[0].value
                    for d in node.decorator_list
                    if isinstance(d, ast.Call)
                    and getattr(d.func, "id", None) == "register"
                )
    batched = set(direct)
    while grown := {f for f, r in refs.items() if r & batched} - batched:
        batched |= grown
    swept = {f for f in batched if keys.get(f)}
    reached = set(swept)
    while grown := {g for f in reached for g in refs[f] if g in refs} - reached:
        reached |= grown
    return sorted(k for f in swept for k in keys[f]), direct, reached


def test_every_arrow_call_site_reaches_a_swept_key():
    """Guard for the derived sweep: every function that names an Arrow
    API must be reached from some swept key's builder — an Arrow kernel
    no registered query runs (or one called at module level) would
    otherwise never see the 7-row batches."""
    from oke_cassandra_spark_locality_demo_spark import registry

    keys, direct, reached = _arrow_derivation()
    assert not direct - reached, f"Arrow call sites no swept key reaches: {direct - reached}"
    known = set(registry.all_queries())
    assert keys and set(keys) <= known, set(keys) - known


_PLAN_OP = re.compile(r"^[\s:|+\-]*(?:\*\(\d+\)\s*)?(\w+)")
_PLAN_CALL = re.compile(r"(\w+)\(")


def _python_kernels(plan: str) -> list[str]:
    """The Python kernel names a physical plan string evaluates, one per
    evaluation: on each Python operator line (MapInPandas,
    ArrowEvalPython, FlatMapGroupsInPandas, ...), every top-level call
    rendered as ``name(args)#id`` — the form of a Python UDF."""
    out = []
    for line in plan.splitlines():
        op = _PLAN_OP.match(line)
        if not op or not re.search("Python|Pandas|Arrow", op.group(1)):
            continue
        rest, i = line[op.end():], 0
        while call := _PLAN_CALL.search(rest, i):
            depth, j = 1, call.end()
            while j < len(rest) and depth:
                depth += {"(": 1, ")": -1}.get(rest[j], 0)
                j += 1
            if rest[j:j + 1] == "#":
                out.append(call.group(1))
                i = j
            else:
                i = call.end()
    return out


def test_arrow_batch_size_invariance(spark, sf_dir):
    """Every Arrow-batched key must produce identical canonical rows
    under the default 10000-row Arrow batches and under 7-row batches.
    Each key's initial physical plan must also evaluate each Python
    kernel at most once: a kernel whose output feeds several branches
    (a self-join, a join back) is planned — and run — once per branch.

    On local[32] a 500-row fixture fits in ONE Arrow batch, so
    per-batch logic that should have been merged globally (a partial
    top-k kept per batch, a per-batch statistic) is structurally
    invisible — every batch IS the whole partition. On a
    1000-executor cluster over 100 TB, batch boundaries land
    everywhere; 7-row batches force ~70 boundaries through the same
    code locally. The registry wrapper pins only session.timeZone, so
    this conf is a live environment axis, same as the shuffle-layout
    sweep above."""
    from collections import Counter

    from oke_cassandra_spark_locality_demo_spark import registry
    from oke_cassandra_spark_locality_demo_spark.plans.inspect import simple_plan

    from .parity import _canon

    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(conf, "10000")
    keys, _, _ = _arrow_derivation()
    try:
        results: dict[str, list] = {}
        for batch in ("10000", "7"):
            spark.conf.set(conf, batch)
            for name in keys:
                df = registry.get(name).fn(spark, sf_dir)
                if batch == "10000":
                    # before collect(): AQE replaces the initial plan
                    kernels = Counter(_python_kernels(simple_plan(df)))
                    rerun = {k: n for k, n in kernels.items() if n > 1}
                    assert not rerun, f"{name} plans a Python kernel more than once: {rerun}"
                rows = sorted(
                    (tuple(_canon(v) for v in r) for r in df.collect()),
                    key=_row_key,
                )
                # a builder that writes the batch size into the shared
                # session silently un-sweeps every key after it
                assert spark.conf.get(conf) == batch, (
                    f"{name} changed {conf} to {spark.conf.get(conf)}"
                )
                results.setdefault(name, []).append(rows)
        diffs = [n for n, (a, b) in results.items() if a != b]
        assert not diffs, f"arrow-batch-size-dependent results: {diffs}"
        # Non-vacuousness: every swept key must actually return rows.
        empty = [n for n, (a, _) in results.items() if not a]
        assert not empty, f"swept keys returned 0 rows: {empty}"
    finally:
        spark.conf.set(conf, prev)


def test_engine_mode_invariance_pin(spark, sf_dir):
    """In-suite pin of the round-9 engine-mode sweeps (full-registry
    versions: `tools/drive_subset.py --all --conf k=v`, all 400/400 —
    see SCALING.md's axis table). Eight keys spanning the risk
    surfaces — decimal aggregation, float discipline, range-frame
    windows, null-safe hash join, banded dedup, Arrow-batched BLAS,
    micro-unit log sums, streaming batch form — must produce identical
    canonical rows with ANSI off, whole-stage codegen off, and a
    hostile session timezone (the registry wrapper's UTC pin must
    override it). Cheap (~8 keys × 4 configs) so the full suite keeps
    the axes pinned without the tools' 5-minute full drives."""
    from oke_cassandra_spark_locality_demo_spark import registry

    from .parity import _canon

    keys = [
        "q_tpch_q1", "q_agg_stats", "q_win_frame_range",
        "q_join_null_safe", "q_dedup_minhash_audit", "q_sim_knn_blas",
        "q_text_perplexity", "q_stream_tumbling",
    ]
    axes = [
        {},  # baseline: session defaults
        {"spark.sql.ansi.enabled": "false"},
        {"spark.sql.codegen.wholeStage": "false"},
        {"spark.sql.session.timeZone": "America/New_York"},
    ]
    saved = {
        k: spark.conf.get(k, None)
        for cfg in axes for k in cfg
    }
    try:
        results: dict[str, list] = {}
        for cfg in axes:
            for k, v in cfg.items():
                spark.conf.set(k, v)
            for name in keys:
                rows = sorted(
                    (
                        tuple(_canon(v) for v in r)
                        for r in registry.get(name).fn(spark, sf_dir).collect()
                    ),
                    key=_row_key,
                )
                assert rows, f"{name} returned 0 rows under {cfg}"
                results.setdefault(name, []).append(rows)
            for k in cfg:  # restore before the next axis flips its own
                if saved[k] is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, saved[k])
        diffs = [
            n for n, runs in results.items()
            if any(r != runs[0] for r in runs[1:])
        ]
        assert not diffs, f"engine-mode-dependent results: {diffs}"
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


# ---------------------------------------------------------------------------
# CDC merge batch-independence (round 10)
# ---------------------------------------------------------------------------

_cdc_rows = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=4),      # user_id (few keys → collisions)
        st.integers(min_value=0, max_value=50),     # ts offset seconds (ties likely)
        st.integers(min_value=0, max_value=99),     # value
        st.booleans(),                              # delete?
    ),
    min_size=1,
    max_size=14,
)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(rows=_cdc_rows, n_batches=st.integers(min_value=1, max_value=4))
def test_cdc_merge_is_batch_independent(spark, tmp_path_factory, rows, n_batches):
    """q_stream_cdc_upsert's core claim, property-tested: the final
    snapshot is INDEPENDENT of how the replay was batched, because the
    per-epoch merge keeps latest-per-key max_by((ts, event_id)) — an
    associative, commutative fold. Random event sets (few keys, likely
    ts ties, interleaved deletes) split into 1-4 consecutive epochs
    must converge to the same live set and the same tombstones a plain
    Python latest-per-key reference computes — including the
    tombstone-hides-key and tie-broken-by-event_id edges."""
    import math
    import shutil

    from oke_cassandra_spark_locality_demo_spark.streaming.stateful import (
        cdc_merge_epoch,
    )

    data = [
        (u, i, _BASE + timedelta(seconds=s), float(v),
         "error" if d else "click")
        for i, (u, s, v, d) in enumerate(rows)
    ]
    # Python reference: latest per user by (ts, event_id)
    latest = {}
    for u, i, ts, v, et in data:
        if u not in latest or (latest[u][1], latest[u][0]) < (ts, i):
            latest[u] = (i, ts, v, et)
    want_live = {u: (i, v) for u, (i, ts, v, et) in latest.items()
                 if et != "error"}
    want_dead = {u for u, (_i, _ts, _v, et) in latest.items() if et == "error"}

    base = str(tmp_path_factory.mktemp("cdc_prop"))
    try:
        state = {}
        size = math.ceil(len(data) / n_batches)
        epoch = 0
        for off in range(0, len(data), size):
            chunk = data[off:off + size]
            batch = spark.createDataFrame(
                chunk,
                "user_id long, event_id long, ts timestamp, value double, "
                "event_type string",
            )
            cdc_merge_epoch(spark, base, state, batch, epoch)
            epoch += 1
        snap = spark.read.parquet(state["cur"])
        got_live = {
            r["user_id"]: (r["event_id"], r["value"])
            for r in snap.filter(F.col("op") != "D").collect()
        }
        got_dead = {
            r["user_id"] for r in snap.filter(F.col("op") == "D").collect()
        }
        assert got_live == want_live, (got_live, want_live, n_batches)
        assert got_dead == want_dead, (got_dead, want_dead, n_batches)
    finally:
        shutil.rmtree(base, ignore_errors=True)
