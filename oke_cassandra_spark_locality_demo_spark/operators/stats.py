"""Classical-statistics operators, round-5 block 2.

The reference ships no hypothesis-testing surface (SURVEY.md Appendix
A); a training-data pipeline needs these for cohort comparisons and
experiment readouts at corpus scale. Every operator here follows the
exact-parity engineering proven by q_stats_welch_ttest /
q_ts_autocorr: measurements are integerized once (cents / scale-0
ROUND), ALL aggregation happens in exact int64 (map-side-combinable
hash aggregates — one scan, one shuffle, O(groups) result rows
regardless of data volume), and any real-valued statistic is a single
IEEE double expression over those exact integer scalars (+, -, *, /,
SQRT are correctly rounded, so Spark and DuckDB agree bit-for-bit),
emitted as scale-0-rounded micro-units.

Two idioms are new in this module:

- KNOWN-GROUP FOLD: Kruskal-Wallis and ANOVA need a SUM over per-group
  double terms; float summation order is engine-dependent, so
  SUM(double) over groups is NOT portable. Both tests run over a fixed,
  documented 5-level factor (TPC-H order priorities / market segments),
  so the statistic is assembled as an explicit parenthesized
  left-to-right chain over the per-group EXACT-INTEGER moments — a
  deterministic evaluation order on both engines. The Spark side
  collects the O(groups) moment rows (constant-size, like
  q_stats_welch_ttest's floor-mean collect) and folds them in Python
  in the identical order; Python floats are IEEE doubles, so the two
  folds agree bit-for-bit.
- EXACT-INTEGER COEFFICIENT: Cohen's kappa needs no doubles at all —
  (N*agree - chance) / (N^2 - chance) is emitted as truncating integer
  micro-division, portable because DuckDB `//` and Spark `DIV` both
  truncate toward zero (FIXTURES.md, verified -7//2 = -3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType
from pyspark.sql.window import Window as W

from ..catalog import load
from ..registry import EVENTS_US, register

#: The five TPC-H market segments the ANOVA folds over. Fixed by the
#: TPC-H spec (FIXTURES.md); a missing level surfaces as a KeyError in
#: the fold — a loud failure, never a silent wrong answer.
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]


def _truncdiv(a: int, b: int) -> int:
    """Integer division truncating toward zero — mirrors Spark DIV and
    DuckDB ``//`` (Python's ``//`` floors, which differs for a < 0)."""
    q = abs(a) // abs(b)
    return -q if (a < 0) != (b < 0) else q


def _chain(terms: list[str]) -> str:
    """Explicit left-to-right parenthesized sum — deterministic IEEE
    evaluation order on both engines (SQL SUM over doubles is not)."""
    out = terms[0]
    for t in terms[1:]:
        out = f"({out} + {t})"
    return out


@register(
    "q_stats_kruskal",
    oracle=f"""
    WITH base AS (
        SELECT SUBSTRING(o_orderpriority, 1, 1) AS g,
               CAST(ROUND(o_totalprice, 0) AS BIGINT) AS x
        FROM orders
    ),
    vc AS (
        SELECT x, CAST(COUNT(*) AS BIGINT) AS t FROM base GROUP BY x
    ),
    ranked AS (
        SELECT x, t,
               CAST(COALESCE(SUM(t) OVER (ORDER BY x
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS c
        FROM vc
    ),
    gv AS (
        SELECT g, x, CAST(COUNT(*) AS BIGINT) AS n_gx FROM base GROUP BY g, x
    ),
    grp AS (
        SELECT gv.g,
               CAST(SUM(gv.n_gx) AS BIGINT) AS n,
               CAST(SUM(gv.n_gx * (2 * r.c + r.t + 1)) AS BIGINT) AS r2
        FROM gv JOIN ranked r ON gv.x = r.x
        GROUP BY gv.g
    ),
    ties AS (
        SELECT CAST(SUM(t * t * t - t) AS BIGINT) AS tcorr FROM vc
    ),
    piv AS (
        SELECT
            CAST(SUM(n) AS BIGINT) AS nn,
            {", ".join(
                f"CAST(MAX(CASE WHEN g = '{i}' THEN n END) AS BIGINT) AS n{i},"
                f" CAST(MAX(CASE WHEN g = '{i}' THEN r2 END) AS BIGINT) AS r2{i}"
                for i in range(1, 6))}
        FROM grp
    )
    SELECT g AS grp, n, r2,
           CAST(1000000 * r2 // (2 * n) AS BIGINT) AS mean_rank_micro,
           CAST(ROUND(1000000.0 * (
               (12.0 / (CAST(nn AS DOUBLE) * (CAST(nn AS DOUBLE) + 1.0))
                * {_chain([
                    f"CAST(r2{i} AS DOUBLE) * CAST(r2{i} AS DOUBLE)"
                    f" / (4.0 * CAST(n{i} AS DOUBLE))" for i in range(1, 6)])}
                - 3.0 * (CAST(nn AS DOUBLE) + 1.0))
               / (1.0 - CAST(tcorr AS DOUBLE)
                  / (CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE)
                     * CAST(nn AS DOUBLE) - CAST(nn AS DOUBLE)))
           ), 0) AS BIGINT) AS h_micro
    FROM grp, piv, ties
    ORDER BY grp
    """,
)
def q_stats_kruskal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KRUSKAL-WALLIS H — the k-group generalization of
    q_stats_mannwhitney: does ANY order-priority cohort shift the
    revenue distribution? Rank-based, so it needs global tie-averaged
    ranks; materializing N ranks (a global sort) would be the naive
    plan. Instead ranks are computed at VALUE granularity: the doubled
    average rank of value v is the INTEGER 2*c_v + t_v + 1 (c = count
    of strictly-smaller rows, t = tie count), so one hash-aggregate to
    distinct integerized values (~6k, vs N rows), one cumulative window
    over those values, and a value-level join against per-(group,
    value) counts produce exact int64 doubled rank-sums R2_g — no N-row
    sort anywhere; the plan scales with distinct values, not rows
    (R2_g <= N(2N+1): int64-safe to N ~ 2.1e9). H with tie correction
    is the KNOWN-GROUP FOLD over the five priority digits (module
    docstring), micro-rounded; the per-group squares are taken in
    double. Emits per-group n / R2 / exact mean-rank plus the global H.
    Reference analog: none — target-only capability."""
    orders = load(spark, sf_dir, "orders")
    base = orders.select(
        F.substring("o_orderpriority", 1, 1).alias("g"),
        F.round("o_totalprice", 0).cast("long").alias("x"),
    )
    # vc/grp feed three actions (moment collect, tie collect, emission);
    # checkpointing the VALUE-level table (~6k rows at sf0.1) and the
    # 5-row group table keeps the base scan + rank join to one run each
    # instead of four (at local sf0.1 the win is within stage-overhead
    # noise; at cluster scale the avoided rescans are the point)
    vc = base.groupBy("x").agg(F.count(F.lit(1)).alias("t")).localCheckpoint()
    ranked = vc.select(
        "x",
        "t",
        F.coalesce(
            F.sum("t").over(
                W.orderBy("x").rowsBetween(W.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).alias("c"),
    )
    gv = base.groupBy("g", "x").agg(F.count(F.lit(1)).alias("n_gx"))
    grp = (
        gv.join(ranked, "x")
        .groupBy("g")
        .agg(
            F.sum("n_gx").alias("n"),
            F.sum(
                F.col("n_gx") * (2 * F.col("c") + F.col("t") + F.lit(1))
            ).alias("r2"),
        )
        .localCheckpoint()
    )
    # ONE driver round trip for both scalars' inputs (r13 optimization
    # round): the tie-correction 1-row aggregate rides along the 5-row
    # group table as a broadcast cross join instead of its own
    # sequential collect job.
    tie = vc.agg(
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t")).alias("tc")
    )
    rows = grp.crossJoin(F.broadcast(tie)).collect()
    h = None  # empty input: no groups, so the frame below is empty
    if rows:
        moments = {r["g"]: (r["n"], r["r2"]) for r in rows}
        tcorr = rows[0]["tc"]
        nn = float(sum(n for n, _ in moments.values()))
        sum_term = None
        for gname in ["1", "2", "3", "4", "5"]:
            n_g, r2_g = moments[gname]
            term = float(r2_g) * float(r2_g) / (4.0 * float(n_g))
            sum_term = term if sum_term is None else sum_term + term
        h = (12.0 / (nn * (nn + 1.0)) * sum_term - 3.0 * (nn + 1.0)) / (
            1.0 - float(tcorr) / (nn * nn * nn - nn)
        )
    return (
        grp.select(
            F.col("g").alias("grp"),
            "n",
            "r2",
            F.expr("1000000 * r2 DIV (2 * n)").alias("mean_rank_micro"),
            F.round(F.lit(1000000.0) * F.lit(h), 0)
            .cast("long")
            .alias("h_micro"),
        )
        .orderBy("grp")
    )


@register(
    "q_stats_anova_f",
    oracle=f"""
    WITH base AS (
        SELECT c_mktsegment AS g,
               CAST(ROUND(c_acctbal * 100) AS BIGINT) AS x
        FROM customer
    ),
    c AS (SELECT SUM(x) // COUNT(*) AS mu FROM base),
    grp AS (
        SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x - (SELECT mu FROM c)) AS BIGINT) AS sx,
               CAST(SUM((x - (SELECT mu FROM c))
                        * (x - (SELECT mu FROM c))) AS BIGINT) AS sxx
        FROM base GROUP BY g
    ),
    piv AS (
        SELECT
            CAST(SUM(n) AS BIGINT) AS nn,
            CAST(SUM(sx) AS BIGINT) AS sxt,
            {", ".join(
                f"CAST(MAX(CASE WHEN g = '{s}' THEN n END) AS BIGINT) AS n{i},"
                f" CAST(MAX(CASE WHEN g = '{s}' THEN sx END) AS BIGINT) AS sx{i},"
                f" CAST(MAX(CASE WHEN g = '{s}' THEN sxx END) AS BIGINT) AS sxx{i}"
                for i, s in enumerate(_SEGMENTS, 1))}
        FROM grp
    )
    SELECT g AS grp, n,
           CAST((1000000 * sx) // n AS BIGINT) AS centered_mean_micro,
           CAST(ROUND(1000000.0 * (
               (({_chain([
                   f"CAST(sx{i} AS DOUBLE) * CAST(sx{i} AS DOUBLE)"
                   f" / CAST(n{i} AS DOUBLE)" for i in range(1, 6)])}
                 - CAST(sxt AS DOUBLE) * CAST(sxt AS DOUBLE)
                   / CAST(nn AS DOUBLE)) / (5.0 - 1.0))
               / (({_chain([
                   f"(CAST(sxx{i} AS DOUBLE) - CAST(sx{i} AS DOUBLE)"
                   f" * CAST(sx{i} AS DOUBLE) / CAST(n{i} AS DOUBLE))"
                   for i in range(1, 6)])})
                  / (CAST(nn AS DOUBLE) - 5.0))
           ), 0) AS BIGINT) AS f_micro
    FROM grp, piv
    ORDER BY grp
    """,
)
def q_stats_anova_f(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE-WAY ANOVA F across the five market segments on account
    balance — the k-group parametric complement to q_stats_welch_ttest
    (which is pairwise). Engineering is identical: cents
    integerization, centering by the integer floor-mean of the union so
    the exact int64 per-group moments (n, Sx, Sxx) keep headroom (after
    centering, Sxx <= N * max_dev^2 ~ 1e12/row -> int64-safe to ~9e6
    rows/group; the cross-group squares Sx^2 are taken in double), then
    SSB = SUM_g Sx_g^2/n_g - Sx_tot^2/N and SSW = SUM_g (Sxx_g -
    Sx_g^2/n_g) via the KNOWN-GROUP FOLD (module docstring) so every
    double addition has an engine-identical order.
    F = (SSB/(k-1)) / (SSW/(N-k)), micro-rounded, repeated on each of
    the 5 group rows next to the exact centered means. Dataflow: one
    scan, one 5-row hash aggregate — no shuffle grows with data.
    Reference analog: none — target-only capability."""
    cust = load(spark, sf_dir, "customer")
    base = cust.select(
        F.col("c_mktsegment").alias("g"),
        F.round(F.col("c_acctbal") * 100).cast("long").alias("x"),
    )
    mu = base.agg(F.expr("sum(x) DIV count(*)").alias("mu")).collect()[0][0]
    grp = (
        base.select("g", (F.col("x") - F.lit(mu)).alias("x"))
        .groupBy("g")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("x").alias("sx"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
        )
    )
    m = {r["g"]: (r["n"], r["sx"], r["sxx"]) for r in grp.collect()}
    nn = float(sum(n for n, _, _ in m.values()))
    sxt = float(sum(sx for _, sx, _ in m.values()))
    ssb_terms = None
    ssw_terms = None
    for s in _SEGMENTS:
        n_g, sx_g, sxx_g = m[s]
        b = float(sx_g) * float(sx_g) / float(n_g)
        w = float(sxx_g) - float(sx_g) * float(sx_g) / float(n_g)
        ssb_terms = b if ssb_terms is None else ssb_terms + b
        ssw_terms = w if ssw_terms is None else ssw_terms + w
    f_stat = ((ssb_terms - sxt * sxt / nn) / (5.0 - 1.0)) / (
        ssw_terms / (nn - 5.0)
    )
    return (
        grp.select(
            F.col("g").alias("grp"),
            "n",
            F.expr("(1000000 * sx) DIV n").alias("centered_mean_micro"),
            F.round(F.lit(1000000.0) * F.lit(f_stat), 0)
            .cast("long")
            .alias("f_micro"),
        )
        .orderBy("grp")
    )


@register(
    "q_stats_cohen_kappa",
    oracle="""
    WITH labeled AS (
        SELECT CASE o_orderstatus
                   WHEN 'O' THEN 1 WHEN 'F' THEN 2 ELSE 3 END AS rater_a,
               NTILE(3) OVER (
                   ORDER BY CAST(ROUND(o_totalprice * 100) AS BIGINT),
                            o_orderkey
               ) AS rater_b
        FROM orders
    ),
    cells AS (
        SELECT CAST(rater_a AS BIGINT) AS rater_a,
               CAST(rater_b AS BIGINT) AS rater_b,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM labeled GROUP BY 1, 2
    ),
    ma AS (SELECT rater_a AS k, SUM(cnt) AS tot_a FROM cells GROUP BY 1),
    mb AS (SELECT rater_b AS k, SUM(cnt) AS tot_b FROM cells GROUP BY 1),
    scal AS (
        SELECT (SELECT CAST(SUM(cnt) AS BIGINT) FROM cells) AS n,
               (SELECT CAST(COALESCE(SUM(cnt), 0) AS BIGINT)
                FROM cells WHERE rater_a = rater_b) AS agree,
               (SELECT CAST(SUM(ma.tot_a * mb.tot_b) AS BIGINT)
                FROM ma JOIN mb ON ma.k = mb.k) AS chance
    )
    SELECT c.rater_a, c.rater_b, c.cnt,
           CAST(1000000 * (s.n * s.agree - s.chance)
                // (s.n * s.n - s.chance) AS BIGINT) AS kappa_micro
    FROM cells c, scal s
    ORDER BY c.rater_a, c.rater_b
    """,
)
def q_stats_cohen_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COHEN'S KAPPA inter-rater agreement — the metric a labeling
    pipeline runs between two annotators or between a model and a gold
    set. Rater A maps order status onto {1,2,3}; rater B is the price
    tercile from NTILE(3) over a UNIQUE deterministic order (cents,
    orderkey) — NTILE's fill semantics (first N mod k buckets get the
    extra row) are identical on Spark and DuckDB given identical input
    order, which the unique key guarantees. Kappa is EXACT INTEGER
    arithmetic end-to-end (EXACT-INTEGER COEFFICIENT, module
    docstring): with diagonal agreement A and chance term
    C = SUM_k row_k * col_k, kappa = (N*A - C) / (N^2 - C), emitted as
    truncating micro-division (N^2 fits int64 to N ~ 3e9 rows). Emits
    the full confusion matrix with the global coefficient on each row.
    The NTILE is the one global sort (rank assignment is inherently
    global — at cluster scale Spark range-partitions it); everything
    after is an O(9)-row aggregate. Reference analog: none —
    target-only capability."""
    orders = load(spark, sf_dir, "orders")
    labeled = orders.select(
        F.when(F.col("o_orderstatus") == "O", 1)
        .when(F.col("o_orderstatus") == "F", 2)
        .otherwise(3)
        .alias("rater_a"),
        F.ntile(3)
        .over(
            W.orderBy(
                F.round(F.col("o_totalprice") * 100).cast("long"),
                "o_orderkey",
            )
        )
        .alias("rater_b"),
    )
    cells = labeled.groupBy("rater_a", "rater_b").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    rows = cells.collect()
    n = sum(r["cnt"] for r in rows)
    agree = sum(r["cnt"] for r in rows if r["rater_a"] == r["rater_b"])
    tot_a: dict[int, int] = {}
    tot_b: dict[int, int] = {}
    for r in rows:
        tot_a[r["rater_a"]] = tot_a.get(r["rater_a"], 0) + r["cnt"]
        tot_b[r["rater_b"]] = tot_b.get(r["rater_b"], 0) + r["cnt"]
    chance = sum(tot_a[k] * tot_b.get(k, 0) for k in tot_a)
    kappa_micro = _truncdiv(
        1000000 * (n * agree - chance), n * n - chance
    )
    return (
        cells.select(
            F.col("rater_a").cast("long").alias("rater_a"),
            F.col("rater_b").cast("long").alias("rater_b"),
            "cnt",
            F.lit(kappa_micro).cast("long").alias("kappa_micro"),
        )
        .orderBy("rater_a", "rater_b")
    )


@register(
    "q_stats_kaplan_meier",
    oracle=f"""
    WITH RECURSIVE pu AS (
        SELECT user_id,
               MIN(CAST(ts AS DATE)) AS t0,
               MIN(CASE WHEN event_type = 'purchase'
                        THEN CAST(ts AS DATE) END) AS tp,
               MAX(CAST(ts AS DATE)) AS tl
        FROM {EVENTS_US} GROUP BY user_id
    ),
    obs AS (
        SELECT CASE WHEN tp IS NOT NULL AND tp - t0 <= 4 THEN tp - t0
                    ELSE LEAST(tl - t0, 4) END AS t,
               CASE WHEN tp IS NOT NULL AND tp - t0 <= 4
                    THEN 1 ELSE 0 END AS ev
        FROM pu
    ),
    agg AS (
        SELECT t, CAST(COUNT(*) AS BIGINT) AS c_all,
               CAST(SUM(ev) AS BIGINT) AS d
        FROM obs GROUP BY t
    ),
    sfx AS (
        SELECT t, d,
               CAST(SUM(c_all) OVER (ORDER BY t ROWS BETWEEN CURRENT ROW
                    AND UNBOUNDED FOLLOWING) AS BIGINT) AS n_risk
        FROM agg
    ),
    dts AS (
        SELECT t, d, n_risk, ROW_NUMBER() OVER (ORDER BY t) AS k
        FROM sfx WHERE d > 0
    ),
    km AS (
        SELECT k, t, d, n_risk,
               CAST(1000000000 * (n_risk - d) // n_risk AS BIGINT) AS s
        FROM dts WHERE k = 1
        UNION ALL
        SELECT dts.k, dts.t, dts.d, dts.n_risk,
               CAST(km.s * (dts.n_risk - dts.d) // dts.n_risk AS BIGINT)
        FROM km JOIN dts ON dts.k = km.k + 1
    )
    SELECT CAST(t AS BIGINT) AS t, n_risk, d, s AS survival_nano
    FROM km ORDER BY t
    """,
)
def q_stats_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KAPLAN-MEIER product-limit survival — time from a user's first
    event to first 'purchase', administratively censored at day 4
    (users who never convert inside the horizon are censored at
    min(last-seen day, 4); the fixture's conversion half-life of ~1 day
    makes both branches non-empty at every SF). The estimator is a
    sequential truncating recurrence s_t = s_prev * (n_t - d_t) DIV n_t
    in NANO-scaled integers — no order-free closed form exists (a
    product of engine-ordered doubles is not portable), so this is the
    BOUNDED DRIVER RECURRENCE idiom (module docstring): risk sets are
    reduced distributively — per-user session assembly is one hash
    aggregate over users, the curve is one suffix-sum window over <= 5
    day rows — and only that constant-size curve is folded on the
    driver with exact Python integers. The oracle replays the identical
    integer recurrence with a recursive CTE. s * n_risk <= 1e9 * users:
    int64-safe to ~9e9 users. Emits (day, at-risk, deaths,
    survival_nano) — all integers. Reference analog: none —
    target-only capability."""
    ev = load(spark, sf_dir, "events")
    pu = ev.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("t0"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.to_date("ts"))
        ).alias("tp"),
        F.max(F.to_date("ts")).alias("tl"),
    )
    death_day = F.datediff("tp", "t0")
    is_death = F.col("tp").isNotNull() & (death_day <= 4)
    obs = pu.select(
        F.when(is_death, death_day)
        .otherwise(F.least(F.datediff("tl", "t0"), F.lit(4)))
        .alias("t"),
        F.when(is_death, 1).otherwise(0).alias("ev"),
    )
    agg = obs.groupBy("t").agg(
        F.count(F.lit(1)).alias("c_all"), F.sum("ev").alias("d")
    )
    sfx = agg.select(
        "t",
        "d",
        F.sum("c_all")
        .over(W.orderBy(F.desc("t")).rowsBetween(W.unboundedPreceding, 0))
        .alias("n_risk"),
    )
    curve = sorted(
        (r["t"], r["d"], r["n_risk"])
        for r in sfx.filter(F.col("d") > 0).collect()
    )
    out = []
    s = 1_000_000_000
    for t, d, n_risk in curve:
        s = s * (n_risk - d) // n_risk  # all positive: trunc == floor
        out.append((int(t), int(n_risk), int(d), int(s)))
    schema = StructType(
        [
            StructField("t", LongType(), False),
            StructField("n_risk", LongType(), False),
            StructField("d", LongType(), False),
            StructField("survival_nano", LongType(), False),
        ]
    )
    return spark.createDataFrame(out, schema).orderBy("t")


@register(
    "q_stats_levene",
    oracle=f"""
    WITH base AS (
        SELECT c_mktsegment AS g,
               CAST(ROUND(c_acctbal * 100) AS BIGINT) AS x
        FROM customer
    ),
    gm AS (
        SELECT g, SUM(x) // COUNT(*) AS mu FROM base GROUP BY g
    ),
    dev AS (
        SELECT b.g, ABS(b.x - gm.mu) AS z
        FROM base b JOIN gm ON b.g = gm.g
    ),
    c AS (SELECT SUM(z) // COUNT(*) AS mu FROM dev),
    grp AS (
        SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(z - (SELECT mu FROM c)) AS BIGINT) AS sx,
               CAST(SUM((z - (SELECT mu FROM c))
                        * (z - (SELECT mu FROM c))) AS BIGINT) AS sxx
        FROM dev GROUP BY g
    ),
    piv AS (
        SELECT
            CAST(SUM(n) AS BIGINT) AS nn,
            CAST(SUM(sx) AS BIGINT) AS sxt,
            {", ".join(
                f"CAST(MAX(CASE WHEN g = '{s}' THEN n END) AS BIGINT) AS n{i},"
                f" CAST(MAX(CASE WHEN g = '{s}' THEN sx END) AS BIGINT) AS sx{i},"
                f" CAST(MAX(CASE WHEN g = '{s}' THEN sxx END) AS BIGINT) AS sxx{i}"
                for i, s in enumerate(_SEGMENTS, 1))}
        FROM grp
    )
    SELECT g AS grp, n,
           CAST((1000000 * sx) // n AS BIGINT) AS centered_absdev_micro,
           CAST(ROUND(1000000.0 * (
               (({_chain([
                   f"CAST(sx{i} AS DOUBLE) * CAST(sx{i} AS DOUBLE)"
                   f" / CAST(n{i} AS DOUBLE)" for i in range(1, 6)])}
                 - CAST(sxt AS DOUBLE) * CAST(sxt AS DOUBLE)
                   / CAST(nn AS DOUBLE)) / (5.0 - 1.0))
               / (({_chain([
                   f"(CAST(sxx{i} AS DOUBLE) - CAST(sx{i} AS DOUBLE)"
                   f" * CAST(sx{i} AS DOUBLE) / CAST(n{i} AS DOUBLE))"
                   for i in range(1, 6)])})
                  / (CAST(nn AS DOUBLE) - 5.0))
           ), 0) AS BIGINT) AS w_micro
    FROM grp, piv
    ORDER BY grp
    """,
)
def q_stats_levene(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEVENE'S TEST for variance homogeneity (mean-centered variant) —
    ANOVA's precondition check: are the five segments' balance SPREADS
    equal? Structurally it IS a one-way ANOVA run on the absolute
    deviations z = |x - group floor-mean|, so the implementation
    composes the exact same machinery as q_stats_anova_f: the group
    means and the deviations are exact integers (floor-mean in cents —
    the integer-median variant of Levene's robustness family), the
    union floor-mean centers z for int64 headroom, per-group moments
    are exact int64, and W comes out of the KNOWN-GROUP FOLD as one
    IEEE expression, micro-rounded. Two chained hash aggregates + one
    broadcast join of the 5-row mean table back onto the scan — the
    deviation pass never reshuffles the fact rows. Reference analog:
    none — target-only capability."""
    cust = load(spark, sf_dir, "customer")
    base = cust.select(
        F.col("c_mktsegment").alias("g"),
        F.round(F.col("c_acctbal") * 100).cast("long").alias("x"),
    )
    gm = base.groupBy("g").agg(F.expr("sum(x) DIV count(*)").alias("mu"))
    dev = base.join(F.broadcast(gm), "g").select(
        "g", F.abs(F.col("x") - F.col("mu")).alias("z")
    )
    mu = dev.agg(F.expr("sum(z) DIV count(*)").alias("mu")).collect()[0][0]
    grp = (
        dev.select("g", (F.col("z") - F.lit(mu)).alias("z"))
        .groupBy("g")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("z").alias("sx"),
            F.sum(F.col("z") * F.col("z")).alias("sxx"),
        )
    )
    m = {r["g"]: (r["n"], r["sx"], r["sxx"]) for r in grp.collect()}
    nn = float(sum(n for n, _, _ in m.values()))
    sxt = float(sum(sx for _, sx, _ in m.values()))
    ssb_terms = None
    ssw_terms = None
    for s in _SEGMENTS:
        n_g, sx_g, sxx_g = m[s]
        b = float(sx_g) * float(sx_g) / float(n_g)
        w = float(sxx_g) - float(sx_g) * float(sx_g) / float(n_g)
        ssb_terms = b if ssb_terms is None else ssb_terms + b
        ssw_terms = w if ssw_terms is None else ssw_terms + w
    w_stat = ((ssb_terms - sxt * sxt / nn) / (5.0 - 1.0)) / (
        ssw_terms / (nn - 5.0)
    )
    return (
        grp.select(
            F.col("g").alias("grp"),
            "n",
            F.expr("(1000000 * sx) DIV n").alias("centered_absdev_micro"),
            F.round(F.lit(1000000.0) * F.lit(w_stat), 0)
            .cast("long")
            .alias("w_micro"),
        )
        .orderBy("grp")
    )


@register(
    "q_stats_spearman",
    oracle="""
    WITH m AS (
        SELECT l_partkey AS part,
               CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT))
                    AS BIGINT) AS x,
               CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS y
        FROM lineitem GROUP BY 1
    ),
    n_t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM m),
    vcx AS (
        SELECT x, CAST(COUNT(*) AS BIGINT) AS t,
               CAST(COALESCE(SUM(COUNT(*)) OVER (ORDER BY x
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS c
        FROM m GROUP BY x
    ),
    vcy AS (
        SELECT y, CAST(COUNT(*) AS BIGINT) AS t,
               CAST(COALESCE(SUM(COUNT(*)) OVER (ORDER BY y
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS c
        FROM m GROUP BY y
    ),
    ranked AS (
        SELECT m.part,
               (2 * vcx.c + vcx.t + 1) - ((SELECT n FROM n_t) + 1) AS rx,
               (2 * vcy.c + vcy.t + 1) - ((SELECT n FROM n_t) + 1) AS ry
        FROM m JOIN vcx ON m.x = vcx.x JOIN vcy ON m.y = vcy.y
    ),
    s AS (
        SELECT CAST(SUM(rx * ry) AS BIGINT) AS sxy,
               CAST(SUM(rx * rx) AS BIGINT) AS sxx,
               CAST(SUM(ry * ry) AS BIGINT) AS syy
        FROM ranked
    )
    SELECT (SELECT n FROM n_t) AS n_parts,
           CAST(ROUND(1000000.0 * (
               CAST(sxy AS DOUBLE)
               / (SQRT(CAST(sxx AS DOUBLE)) * SQRT(CAST(syy AS DOUBLE)))
           ), 0) AS BIGINT) AS spearman_micro
    FROM s
    """,
)
def q_stats_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPEARMAN RANK CORRELATION between per-part revenue and quantity —
    the monotone-association companion to q_rank_tau's Kendall (Spearman
    is Pearson ON RANKS: cheaper — no pairwise structure — and directly
    comparable to textbook tables). Ranks are TIE-AVERAGED exactly via
    the q_stats_kruskal doubled-rank identity (2c + t + 1, integer),
    computed at VALUE granularity — two value-level hash aggregates +
    cumulative windows, never an N-row global sort — then centered by
    the EXACT doubled mean rank (N+1; Sum(avg ranks) = N(N+1)/2
    identically, ties or not), so the Pearson moments are exact int64
    with zero-mean shortcuts (r = Sxy / sqrt(Sxx*Syy); centered doubled
    ranks span ±N, so Sxx <= N^3: int64-safe to ~2e6 distinct parts —
    band the metric first beyond that). Emitted micro-rounded from one
    IEEE expression. Reference analog: none — target-only capability."""
    li = load(spark, sf_dir, "lineitem")
    m = li.groupBy(F.col("l_partkey").alias("part")).agg(
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias("x"),
        F.sum(F.col("l_quantity").cast("long")).alias("y"),
    ).localCheckpoint()
    n = m.count()

    def rank2(col: str):
        vc = m.groupBy(col).agg(F.count(F.lit(1)).alias("t"))
        return vc.select(
            col,
            (
                2
                * F.coalesce(
                    F.sum("t").over(
                        W.orderBy(col).rowsBetween(W.unboundedPreceding, -1)
                    ),
                    F.lit(0),
                )
                + F.col("t")
                + 1
                - F.lit(n + 1)
            ).alias(f"r_{col}"),
        )

    ranked = (
        m.join(rank2("x"), "x")
        .join(rank2("y"), "y")
        .select(F.col("r_x").alias("rx"), F.col("r_y").alias("ry"))
    )
    s = ranked.agg(
        F.sum(F.col("rx") * F.col("ry")).alias("sxy"),
        F.sum(F.col("rx") * F.col("rx")).alias("sxx"),
        F.sum(F.col("ry") * F.col("ry")).alias("syy"),
    )
    corr = F.col("sxy").cast("double") / (
        F.sqrt(F.col("sxx").cast("double")) * F.sqrt(F.col("syy").cast("double"))
    )
    return s.select(
        F.lit(n).cast("long").alias("n_parts"),
        F.round(F.lit(1000000.0) * corr, 0).cast("long").alias("spearman_micro"),
    )


@register(
    "q_ts_backtest_snaive",
    oracle="""
    WITH daily AS (
        SELECT o_orderpriority AS grp,
               CAST(CAST(o_orderdate AS DATE) - DATE '1998-01-01' AS BIGINT)
                   AS d,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS v
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1998-01-01'
        GROUP BY 1, 2
    )
    SELECT a.grp,
           CAST(COUNT(*) AS BIGINT) AS n_scored_days,
           CAST(SUM(ABS(a.v - s.v)) // COUNT(*) AS BIGINT) AS mae_snaive_c,
           CAST(SUM(ABS(a.v - p.v)) // COUNT(*) AS BIGINT) AS mae_naive1_c,
           CAST(1000000 * SUM(ABS(a.v - s.v)) // SUM(ABS(a.v - p.v))
                AS BIGINT) AS mase_ppm
    FROM daily a
    JOIN daily s ON a.grp = s.grp AND s.d = a.d - 7
    JOIN daily p ON a.grp = p.grp AND p.d = a.d - 1
    GROUP BY a.grp
    ORDER BY a.grp
    """,
)
def q_ts_backtest_snaive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORECAST BACKTEST: seasonal-naive (value 7 days ago) scored
    against naive-1 (yesterday) with the MASE ratio — the
    sanity-check every forecasting pipeline runs before anything
    fancier (MASE < 1e6 ppm means weekly seasonality beats pure
    persistence). Scored only on days where BOTH references exist
    (inner joins — no imputation leaking into the score). Errors are
    exact integer cents; MAE is a truncating integer mean and MASE a
    truncating ppm ratio of two exact sums. Dataflow: one daily
    aggregate, then two self-joins on (group, lagged day) — at scale
    these co-partition on the group key with the aggregate's own
    shuffle, so the joins are narrow. Reference analog: none —
    target-only capability."""
    orders = load(spark, sf_dir, "orders")
    daily = (
        orders.filter(
            F.col("o_orderdate") >= F.lit("1998-01-01").cast("timestamp")
        )
        .groupBy(
            F.col("o_orderpriority").alias("grp"),
            F.datediff(
                F.to_date("o_orderdate"), F.lit("1998-01-01").cast("date")
            )
            .cast("long")
            .alias("d"),
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("v")
        )
    )
    a = daily.select("grp", "d", F.col("v").alias("v_now"))
    s = daily.select("grp", (F.col("d") + 7).alias("d"), F.col("v").alias("v_s"))
    p = daily.select("grp", (F.col("d") + 1).alias("d"), F.col("v").alias("v_p"))
    scored = a.join(s, ["grp", "d"]).join(p, ["grp", "d"])
    return (
        scored.groupBy("grp")
        .agg(
            F.count(F.lit(1)).alias("n_scored_days"),
            F.expr("sum(abs(v_now - v_s)) DIV count(*)").alias("mae_snaive_c"),
            F.expr("sum(abs(v_now - v_p)) DIV count(*)").alias("mae_naive1_c"),
            F.expr(
                "1000000 * sum(abs(v_now - v_s)) DIV sum(abs(v_now - v_p))"
            ).alias("mase_ppm"),
        )
        .orderBy("grp")
    )


@register(
    "q_stats_gtest",
    oracle="""
    WITH cells AS (
        SELECT o_orderstatus AS a, o_orderpriority AS b,
               CAST(COUNT(*) AS BIGINT) AS o
        FROM orders GROUP BY 1, 2
    ),
    ra AS (SELECT a, CAST(SUM(o) AS BIGINT) AS rt FROM cells GROUP BY a),
    rb AS (SELECT b, CAST(SUM(o) AS BIGINT) AS ct FROM cells GROUP BY b),
    tot AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM cells),
    terms AS (
        SELECT c.a, c.b, c.o,
               CAST(1000 * ra.rt * rb.ct // tot.n AS BIGINT) AS e_milli,
               CASE WHEN c.o = 0 THEN 0
                    ELSE CAST(ROUND(1000000.0 * LN(
                        CAST(c.o AS DOUBLE) * CAST(tot.n AS DOUBLE)
                        / (CAST(ra.rt AS DOUBLE) * CAST(rb.ct AS DOUBLE))
                    )) AS BIGINT) END AS lr_micro
        FROM cells c
        JOIN ra ON c.a = ra.a JOIN rb ON c.b = rb.b CROSS JOIN tot
    )
    SELECT a, b, o, e_milli,
           CAST((SELECT 2 * SUM(t2.o * t2.lr_micro) FROM terms t2)
                AS BIGINT) AS g_micro
    FROM terms
    ORDER BY a, b
    """,
)
def q_stats_gtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G-TEST OF INDEPENDENCE (log-likelihood ratio) on the status x
    priority contingency table — the chi-square alternative that is
    additive across partitions of the table (why information-theoretic
    pipelines prefer it; complements q_split_drift_chisq, which tests
    DRIFT between two samples rather than independence within one).
    G = 2 SUM O*ln(O/E): each cell's log-ratio uses the HOUSE LOG-TERM
    RULE — one micro-rounded LN of the exact integer ratio O*N/(row*col)
    (identical expression both engines; empty cells contribute 0 by the
    x*ln(x) limit) — after which G is an EXACT integer weighted sum,
    order-free. Expected counts emitted as exact truncating
    milli-units. Two chained hash aggregates + a 15-row margin join;
    nothing scales with rows but the first aggregate. Reference analog:
    none — target-only capability."""
    orders = load(spark, sf_dir, "orders")
    cells = orders.groupBy(
        F.col("o_orderstatus").alias("a"),
        F.col("o_orderpriority").alias("b"),
    ).agg(F.count(F.lit(1)).alias("o"))
    ra = cells.groupBy("a").agg(F.sum("o").alias("rt"))
    rb = cells.groupBy("b").agg(F.sum("o").alias("ct"))
    tot = cells.agg(F.sum("o").alias("n"))
    terms = (
        cells.join(F.broadcast(ra), "a")
        .join(F.broadcast(rb), "b")
        .crossJoin(F.broadcast(tot))
        .select(
            "a",
            "b",
            "o",
            F.expr("1000 * rt * ct DIV n").alias("e_milli"),
            F.when(F.col("o") == 0, F.lit(0))
            .otherwise(
                F.round(
                    F.lit(1000000.0)
                    * F.log(
                        F.col("o").cast("double")
                        * F.col("n").cast("double")
                        / (
                            F.col("rt").cast("double")
                            * F.col("ct").cast("double")
                        )
                    )
                ).cast("long")
            )
            .alias("lr_micro"),
        )
        .localCheckpoint()
    )
    g = terms.agg(
        (F.lit(2) * F.sum(F.col("o") * F.col("lr_micro"))).alias("g_micro")
    )
    return (
        terms.crossJoin(F.broadcast(g))
        .select("a", "b", "o", "e_milli", "g_micro")
        .orderBy("a", "b")
    )


@register(
    "q_stats_mcnemar",
    oracle="""
    WITH labeled AS (
        SELECT o_orderstatus = 'F' AS rater_a,
               NTILE(2) OVER (
                   ORDER BY CAST(ROUND(o_totalprice * 100) AS BIGINT),
                            o_orderkey
               ) = 2 AS rater_b
        FROM orders
    ),
    m AS (
        SELECT
            CAST(SUM(CASE WHEN rater_a AND rater_b THEN 1 ELSE 0 END)
                 AS BIGINT) AS both_pos,
            CAST(SUM(CASE WHEN rater_a AND NOT rater_b THEN 1 ELSE 0 END)
                 AS BIGINT) AS b_disc,
            CAST(SUM(CASE WHEN NOT rater_a AND rater_b THEN 1 ELSE 0 END)
                 AS BIGINT) AS c_disc,
            CAST(SUM(CASE WHEN NOT rater_a AND NOT rater_b THEN 1 ELSE 0
                 END) AS BIGINT) AS both_neg
        FROM labeled
    )
    SELECT both_pos, b_disc, c_disc, both_neg,
           CAST(CASE WHEN b_disc + c_disc = 0 THEN 0
                ELSE 1000000 * (b_disc - c_disc) * (b_disc - c_disc)
                     // (b_disc + c_disc) END AS BIGINT) AS chi2_micro
    FROM m
    """,
)
def q_stats_mcnemar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MCNEMAR'S TEST for paired binary classifiers — "do the two
    labelers disagree SYMMETRICALLY?", the right test when both raters
    score the SAME rows (a fresh chi-square on the 2x2 would ignore the
    pairing; complements q_stats_cohen_kappa, which measures agreement
    strength, not disagreement direction). Rater A: order fulfilled;
    rater B: price in the upper NTILE(2) half (deterministic unique
    order — the kappa discipline). The statistic (b-c)^2/(b+c) over the
    discordant cells is EXACT INTEGER end-to-end, emitted as truncating
    micro-units ((b-c)^2 <= N^2: int64-safe to ~3e9 rows). One global
    sort for the median split (inherent to the rater definition), then
    a single 4-cell conditional aggregate. Reference analog: none —
    target-only capability."""
    orders = load(spark, sf_dir, "orders")
    labeled = orders.select(
        (F.col("o_orderstatus") == "F").alias("rater_a"),
        (
            F.ntile(2).over(
                W.orderBy(
                    F.round(F.col("o_totalprice") * 100).cast("long"),
                    "o_orderkey",
                )
            )
            == 2
        ).alias("rater_b"),
    )
    m = labeled.agg(
        F.sum(
            F.when(F.col("rater_a") & F.col("rater_b"), 1).otherwise(0)
        ).alias("both_pos"),
        F.sum(
            F.when(F.col("rater_a") & ~F.col("rater_b"), 1).otherwise(0)
        ).alias("b_disc"),
        F.sum(
            F.when(~F.col("rater_a") & F.col("rater_b"), 1).otherwise(0)
        ).alias("c_disc"),
        F.sum(
            F.when(~F.col("rater_a") & ~F.col("rater_b"), 1).otherwise(0)
        ).alias("both_neg"),
    )
    return m.select(
        "both_pos",
        "b_disc",
        "c_disc",
        "both_neg",
        F.when(F.col("b_disc") + F.col("c_disc") == 0, F.lit(0))
        .otherwise(
            F.expr(
                "1000000 * (b_disc - c_disc) * (b_disc - c_disc)"
                " DIV (b_disc + c_disc)"
            )
        )
        .cast("long")
        .alias("chi2_micro"),
    )


@register(
    "q_stats_overdispersion",
    oracle="""
    WITH daily AS (
        SELECT event_type,
               CAST(CAST(ts AS DATE) - DATE '2024-01-01' AS BIGINT) AS d,
               CAST(COUNT(*) AS BIGINT) AS x
        FROM (SELECT event_type, CAST(ts AS TIMESTAMP) AS ts, event_id
              FROM events) _e
        GROUP BY 1, 2
    ),
    m AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(x * x) AS BIGINT) AS sxx
        FROM daily GROUP BY event_type
    )
    SELECT event_type, n, sx,
           CAST(ROUND(1000000.0 * (
               (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
               / ((CAST(n AS DOUBLE) - 1.0) * CAST(sx AS DOUBLE))
           ), 0) AS BIGINT) AS dispersion_micro
    FROM m
    ORDER BY event_type
    """,
)
def q_stats_overdispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OVERDISPERSION INDEX (variance-to-mean ratio of daily counts) —
    the Poisson-ness diagnostic run before choosing a count model or an
    anomaly threshold: a Poisson arrival stream has dispersion ~1;
    bursty/clumped streams run >1 and need negative-binomial handling
    (and wider alert bands). Per event type, the daily-count moments
    (n, Sx, Sxx) are exact int64 from two chained hash aggregates, and
    the index VAR/MEAN = (n*Sxx - Sx^2) / ((n-1)*Sx) is one IEEE double
    expression over them, micro-rounded (the q_stats_welch_ttest
    discipline). Nothing scales past the daily aggregate. Reference
    analog: none — target-only capability."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date"))
        .cast("long")
        .alias("d"),
    ).agg(F.count(F.lit(1)).alias("x"))
    m = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )

    def d(c: str):
        return F.col(c).cast("double")

    disp = (d("n") * d("sxx") - d("sx") * d("sx")) / (
        (d("n") - F.lit(1.0)) * d("sx")
    )
    return m.select(
        "event_type",
        "n",
        "sx",
        F.round(F.lit(1000000.0) * disp, 0).cast("long").alias(
            "dispersion_micro"
        ),
    ).orderBy("event_type")


@register(
    "q_stats_wilcoxon",
    oracle="""
    WITH spend AS (
        SELECT o_custkey,
               CAST(SUM(CASE WHEN YEAR(o_orderdate) = 1996
                    THEN CAST(ROUND(o_totalprice * 100) AS BIGINT)
                    ELSE 0 END) AS BIGINT) AS x96,
               CAST(SUM(CASE WHEN YEAR(o_orderdate) = 1997
                    THEN CAST(ROUND(o_totalprice * 100) AS BIGINT)
                    ELSE 0 END) AS BIGINT) AS x97,
               SUM(CASE WHEN YEAR(o_orderdate) = 1996 THEN 1 ELSE 0 END)
                   AS n96,
               SUM(CASE WHEN YEAR(o_orderdate) = 1997 THEN 1 ELSE 0 END)
                   AS n97
        FROM orders GROUP BY o_custkey
    ),
    pairs AS (
        SELECT x97 - x96 AS diff, ABS(x97 - x96) AS ad
        FROM spend WHERE n96 > 0 AND n97 > 0 AND x97 <> x96
    ),
    vc AS (
        SELECT ad, CAST(COUNT(*) AS BIGINT) AS t,
               CAST(COALESCE(SUM(COUNT(*)) OVER (ORDER BY ad
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS c
        FROM pairs GROUP BY ad
    ),
    s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN p.diff > 0 THEN 2 * v.c + v.t + 1
                        ELSE 0 END) AS BIGINT) AS r2_plus,
               CAST(SUM(CASE WHEN p.diff < 0 THEN 2 * v.c + v.t + 1
                        ELSE 0 END) AS BIGINT) AS r2_minus
        FROM pairs p JOIN vc v ON p.ad = v.ad
    )
    SELECT n, r2_plus, r2_minus,
           CAST(ROUND(1000000.0 * (
               (CAST(r2_plus AS DOUBLE) / 2.0
                - CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0) / 4.0)
               / SQRT(CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0)
                      * (2.0 * CAST(n AS DOUBLE) + 1.0) / 24.0)
           ), 0) AS BIGINT) AS z_micro
    FROM s
    """,
)
def q_stats_wilcoxon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WILCOXON SIGNED-RANK TEST — the PAIRED complement that completes
    the rank-test family (q_stats_mannwhitney: independent two-group;
    q_stats_kruskal: k-group; this: same entities measured twice): did
    per-customer spend shift from 1996 to 1997? Zero-differences drop
    (standard Wilcoxon), |differences| get tie-averaged ranks via the
    doubled-rank identity at VALUE granularity (2c+t+1 — exact int64,
    no N-row sort; see q_stats_kruskal), signed rank-sums R2± stay
    exact integers, and the normal-approximation z (no tie correction —
    integer-cent diffs make ties measure-rare, documented) is ONE IEEE
    double expression micro-rounded. Identity R2+ + R2- = 2 * n(n+1)/2
    asserted in tests. One customer aggregate + one value-level rank
    pass. Reference analog: none — target-only capability."""
    orders = load(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    spend = orders.groupBy("o_custkey").agg(
        F.sum(F.when(F.year("o_orderdate") == 1996, cents).otherwise(0)).alias(
            "x96"
        ),
        F.sum(F.when(F.year("o_orderdate") == 1997, cents).otherwise(0)).alias(
            "x97"
        ),
        F.sum(F.when(F.year("o_orderdate") == 1996, 1).otherwise(0)).alias(
            "n96"
        ),
        F.sum(F.when(F.year("o_orderdate") == 1997, 1).otherwise(0)).alias(
            "n97"
        ),
    )
    pairs = (
        spend.filter(
            (F.col("n96") > 0) & (F.col("n97") > 0) & (F.col("x97") != F.col("x96"))
        )
        .select(
            (F.col("x97") - F.col("x96")).alias("diff"),
            F.abs(F.col("x97") - F.col("x96")).alias("ad"),
        )
        .localCheckpoint()
    )
    vc = pairs.groupBy("ad").agg(F.count(F.lit(1)).alias("t"))
    vc = vc.select(
        "ad",
        "t",
        F.coalesce(
            F.sum("t").over(
                W.orderBy("ad").rowsBetween(W.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).alias("c"),
    )
    r2 = 2 * F.col("c") + F.col("t") + 1
    s = pairs.join(vc, "ad").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("diff") > 0, r2).otherwise(0)).alias("r2_plus"),
        F.sum(F.when(F.col("diff") < 0, r2).otherwise(0)).alias("r2_minus"),
    )

    def d(c: str):
        return F.col(c).cast("double")

    z = (
        d("r2_plus") / F.lit(2.0)
        - d("n") * (d("n") + F.lit(1.0)) / F.lit(4.0)
    ) / F.sqrt(
        d("n") * (d("n") + F.lit(1.0)) * (F.lit(2.0) * d("n") + F.lit(1.0))
        / F.lit(24.0)
    )
    return s.select(
        "n",
        "r2_plus",
        "r2_minus",
        F.round(F.lit(1000000.0) * z, 0).cast("long").alias("z_micro"),
    )


@register(
    "q_ts_changepoint",
    oracle="""
    WITH daily AS (
        SELECT CAST(CAST(o_orderdate AS DATE) - DATE '1998-01-01' AS BIGINT)
                   AS d,
               CAST(SUM(CAST(ROUND(o_totalprice, 0) AS BIGINT)) // 1000
                    AS BIGINT) AS v
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1998-01-01'
        GROUP BY 1
    ),
    pre AS (
        SELECT d, v,
               CAST(ROW_NUMBER() OVER (ORDER BY d) AS BIGINT) AS i,
               CAST(SUM(v) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED
                    PRECEDING AND CURRENT ROW) AS BIGINT) AS ps,
               CAST(SUM(v * v) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED
                    PRECEDING AND CURRENT ROW) AS BIGINT) AS pss,
               CAST(COUNT(*) OVER () AS BIGINT) AS n,
               CAST(SUM(v) OVER () AS BIGINT) AS ts_,
               CAST(SUM(v * v) OVER () AS BIGINT) AS tss
        FROM daily
    ),
    scored AS (
        SELECT d, i, n,
               (CAST(pss AS DOUBLE)
                - CAST(ps AS DOUBLE) * CAST(ps AS DOUBLE)
                  / CAST(i AS DOUBLE))
               + (CAST(tss - pss AS DOUBLE)
                  - CAST(ts_ - ps AS DOUBLE) * CAST(ts_ - ps AS DOUBLE)
                    / CAST(n - i AS DOUBLE)) AS sse
        FROM pre
        WHERE i < n
    ),
    best AS (
        SELECT d, sse FROM scored ORDER BY sse, d LIMIT 1
    )
    SELECT b.d AS change_day,
           CAST(ROUND(b.sse / 1000000.0) AS BIGINT) AS sse_micro_c2,
           CAST((SELECT MAX(n) FROM pre) AS BIGINT) AS n_days
    FROM best b
    """,
)
def q_ts_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OFFLINE CHANGE-POINT DETECTION (single binary segmentation step):
    the split day minimizing total within-segment SSE of the 1998+
    daily-revenue series — the batch complement to q_drift_cusum's
    online alarm. Every candidate split is scored from PREFIX SUMS
    (exact int64 running Σv, Σv² — one ordered window pass), so the
    full argmin costs O(days), not O(days²); each split's SSE is one
    IEEE double expression over exact integers, computed IDENTICALLY on
    both engines, so the argmin ordering — and therefore the chosen
    day, tie-broken by day — is portable even though SSE itself is a
    double (emitted down-scaled to micro-cents² for the record). The
    window input is the O(days) daily table, never raw orders. The
    series is integer KILO-dollars (floor of the exact integer daily
    dollar sum) so the prefix Σv² stays inside int64 to SF 1000 —
    cent-level units overflowed the running square sum at sf0.01.
    Reference analog: none — target-only capability."""
    orders = load(spark, sf_dir, "orders")
    daily = (
        orders.filter(
            F.col("o_orderdate") >= F.lit("1998-01-01").cast("timestamp")
        )
        .groupBy(
            F.datediff(
                F.to_date("o_orderdate"), F.lit("1998-01-01").cast("date")
            )
            .cast("long")
            .alias("d")
        )
        .agg(
            F.expr(
                "sum(CAST(ROUND(o_totalprice, 0) AS BIGINT)) DIV 1000"
            ).alias("v")
        )
    )
    w_ord = W.orderBy("d").rowsBetween(W.unboundedPreceding, 0)
    w_all = W.partitionBy()
    pre = daily.select(
        "d",
        F.row_number().over(W.orderBy("d")).cast("long").alias("i"),
        F.sum("v").over(w_ord).alias("ps"),
        F.sum(F.col("v") * F.col("v")).over(w_ord).alias("pss"),
        F.count(F.lit(1)).over(w_all).alias("n"),
        F.sum("v").over(w_all).alias("ts_"),
        F.sum(F.col("v") * F.col("v")).over(w_all).alias("tss"),
    )

    def d(c: str):
        return F.col(c).cast("double")

    sse = (
        d("pss") - d("ps") * d("ps") / d("i")
    ) + (
        (F.col("tss") - F.col("pss")).cast("double")
        - (F.col("ts_") - F.col("ps")).cast("double")
        * (F.col("ts_") - F.col("ps")).cast("double")
        / (F.col("n") - F.col("i")).cast("double")
    )
    scored = pre.filter(F.col("i") < F.col("n")).select(
        "d", "n", sse.alias("sse")
    )
    best = scored.orderBy("sse", "d").limit(1)
    return best.select(
        F.col("d").alias("change_day"),
        F.round(F.col("sse") / F.lit(1000000.0)).cast("long").alias(
            "sse_micro_c2"
        ),
        F.col("n").alias("n_days"),
    )


@register(
    "q_stats_ess",
    oracle="""
    WITH w AS (
        SELECT lang, CAST(n_chars AS BIGINT) AS wt FROM documents
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(wt) AS BIGINT) AS sum_w,
           CAST(SUM(wt * wt) AS BIGINT) AS sum_w2,
           CAST(ROUND(1000000.0 * (
               (CAST(SUM(wt) AS DOUBLE) * CAST(SUM(wt) AS DOUBLE)
                / CAST(SUM(wt * wt) AS DOUBLE))
               / CAST(COUNT(*) AS DOUBLE)
           ), 0) AS BIGINT) AS ess_ratio_micro
    FROM w
    GROUP BY lang
    ORDER BY lang
    """,
)
def q_stats_ess(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EFFECTIVE SAMPLE SIZE of a weighted corpus — Kish's
    ESS = (Σw)²/Σw², per language with document length as the weight:
    the diagnostic that says how much statistical power a
    length-weighted (or importance-weighted — same math applies to
    q_select_dsir's ratios) sample REALLY carries. Emitted as the
    ESS/n ratio in micro-units (1e6 = equal weights, small = a few
    giant docs dominate). Weight moments are exact int64 from one
    map-side-combinable aggregate; the ratio is one IEEE double
    expression over them. Reference analog: none — target-only
    capability."""
    d_ = load(spark, sf_dir, "documents")
    m = d_.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("n_chars").cast("long")).alias("sum_w"),
        F.sum(
            F.col("n_chars").cast("long") * F.col("n_chars").cast("long")
        ).alias("sum_w2"),
    )

    def d(c: str):
        return F.col(c).cast("double")

    ess_ratio = (d("sum_w") * d("sum_w") / d("sum_w2")) / d("n")
    return m.select(
        "lang",
        "n",
        "sum_w",
        "sum_w2",
        F.round(F.lit(1000000.0) * ess_ratio, 0).cast("long").alias(
            "ess_ratio_micro"
        ),
    ).orderBy("lang")
