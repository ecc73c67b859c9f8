"""Semantic checks for operators/stats.py — each statistic is recomputed
brute-force in Python from the raw fixture rows (textbook formulas, no
shared code with the operator), so a bug that slipped past oracle parity
(e.g. both sides computing the same wrong rank sum) would still fail
here."""

from __future__ import annotations

from fractions import Fraction

import pytest

import __spark_entry__ as entry


def _queries():
    return entry.queries()


def test_kruskal_matches_bruteforce(spark, sf_dir):
    df = _queries()["q_stats_kruskal"](spark, sf_dir)
    rows = {r["grp"]: r for r in df.collect()}
    import duckdb

    raw = duckdb.sql(
        f"SELECT SUBSTRING(o_orderpriority,1,1), CAST(ROUND(o_totalprice,0) AS BIGINT)"
        f" FROM '{sf_dir}/orders.parquet'"
    ).fetchall()
    # textbook tie-averaged ranks
    xs = sorted(x for _, x in raw)
    first = {}
    for i, x in enumerate(xs):
        first.setdefault(x, i + 1)
    count = {}
    for x in xs:
        count[x] = count.get(x, 0) + 1
    avg_rank = {x: first[x] + (count[x] - 1) / 2.0 for x in count}
    groups: dict[str, list[int]] = {}
    for g, x in raw:
        groups.setdefault(g, []).append(x)
    n_tot = len(raw)
    sum_term = sum(
        sum(avg_rank[x] for x in vals) ** 2 / len(vals)
        for _, vals in sorted(groups.items())
    )
    h = 12.0 / (n_tot * (n_tot + 1)) * sum_term - 3 * (n_tot + 1)
    tcorr = sum(t**3 - t for t in count.values())
    h /= 1.0 - tcorr / (n_tot**3 - n_tot)
    emitted = rows["1"]["h_micro"] / 1e6
    assert h == pytest.approx(emitted, abs=2e-6)
    for g, vals in groups.items():
        assert rows[g]["n"] == len(vals)
        # doubled rank-sum identity: R2 = 2 * sum(avg ranks)
        assert rows[g]["r2"] == round(2 * sum(avg_rank[x] for x in vals))


def test_kruskal_empty_input_returns_empty_frame(spark, sf_dir, tmp_path):
    """No orders means no groups and no H: the query returns its
    5-column frame with zero rows instead of raising."""
    import pyarrow.parquet as pq

    schema = pq.read_schema(f"{sf_dir}/orders.parquet")
    pq.write_table(schema.empty_table(), str(tmp_path / "orders.parquet"))
    df = _queries()["q_stats_kruskal"](spark, str(tmp_path))
    assert df.columns == ["grp", "n", "r2", "mean_rank_micro", "h_micro"]
    assert df.collect() == []


def test_anova_matches_bruteforce(spark, sf_dir):
    df = _queries()["q_stats_anova_f"](spark, sf_dir)
    rows = {r["grp"]: r for r in df.collect()}
    import duckdb

    raw = duckdb.sql(
        f"SELECT c_mktsegment, CAST(ROUND(c_acctbal*100) AS BIGINT)"
        f" FROM '{sf_dir}/customer.parquet'"
    ).fetchall()
    groups: dict[str, list[int]] = {}
    for g, x in raw:
        groups.setdefault(g, []).append(x)
    n = len(raw)
    k = len(groups)
    grand = sum(x for _, x in raw) / n
    ssb = sum(
        len(v) * (sum(v) / len(v) - grand) ** 2 for v in groups.values()
    )
    ssw = sum(
        sum((x - sum(v) / len(v)) ** 2 for x in v) for v in groups.values()
    )
    f = (ssb / (k - 1)) / (ssw / (n - k))
    emitted = next(iter(rows.values()))["f_micro"] / 1e6
    # brute force uses a different (uncentered) formula — agreement to
    # 1e-4 relative proves the moments/centering algebra, not IEEE bits
    assert f == pytest.approx(emitted, rel=1e-4)


def test_cohen_kappa_matches_bruteforce(spark, sf_dir):
    df = _queries()["q_stats_cohen_kappa"](spark, sf_dir)
    out = df.collect()
    kappa_micro = out[0]["kappa_micro"]
    assert len({r["kappa_micro"] for r in out}) == 1
    import duckdb

    raw = duckdb.sql(
        f"SELECT CASE o_orderstatus WHEN 'O' THEN 1 WHEN 'F' THEN 2 ELSE 3 END,"
        f" CAST(ROUND(o_totalprice*100) AS BIGINT), o_orderkey"
        f" FROM '{sf_dir}/orders.parquet'"
    ).fetchall()
    n = len(raw)
    order = sorted(range(n), key=lambda i: (raw[i][1], raw[i][2]))
    base, extra = divmod(n, 3)
    tercile = {}
    pos = 0
    for b in range(1, 4):
        size = base + (1 if b <= extra else 0)
        for i in order[pos : pos + size]:
            tercile[i] = b
        pos += size
    cells: dict[tuple[int, int], int] = {}
    for i, (a, _, _) in enumerate(raw):
        cells[(a, tercile[i])] = cells.get((a, tercile[i]), 0) + 1
    agree = sum(c for (a, b), c in cells.items() if a == b)
    tot_a: dict[int, int] = {}
    tot_b: dict[int, int] = {}
    for (a, b), c in cells.items():
        tot_a[a] = tot_a.get(a, 0) + c
        tot_b[b] = tot_b.get(b, 0) + c
    chance = sum(tot_a[x] * tot_b.get(x, 0) for x in tot_a)
    kappa = Fraction(n * agree - chance, n * n - chance)
    # operator emits trunc-toward-zero micro units
    expect = int(kappa * 1000000)
    assert kappa_micro == expect
    # confusion matrix cells round-trip
    got_cells = {(r["rater_a"], r["rater_b"]): r["cnt"] for r in out}
    assert got_cells == cells


def test_kaplan_meier_matches_bruteforce(spark, sf_dir):
    df = _queries()["q_stats_kaplan_meier"](spark, sf_dir)
    out = df.collect()
    import duckdb

    raw = duckdb.sql(
        f"""SELECT user_id, MIN(CAST(ts AS DATE)) t0,
               MIN(CASE WHEN event_type='purchase' THEN CAST(ts AS DATE) END) tp,
               MAX(CAST(ts AS DATE)) tl
        FROM '{sf_dir}/events.parquet' GROUP BY user_id"""
    ).fetchall()
    obs = []
    for _, t0, tp, tl in raw:
        if tp is not None and (tp - t0).days <= 4:
            obs.append(((tp - t0).days, 1))
        else:
            obs.append((min((tl - t0).days, 4), 0))
    death_times = sorted({t for t, ev in obs if ev})
    s = 10**9
    expect = []
    for t in death_times:
        n_risk = sum(1 for u, _ in obs if u >= t)
        d = sum(1 for u, ev in obs if u == t and ev)
        s = s * (n_risk - d) // n_risk
        expect.append((t, n_risk, d, s))
    got = [(r["t"], r["n_risk"], r["d"], r["survival_nano"]) for r in out]
    assert got == expect
    # survival is monotone nonincreasing and starts below 1.0
    nanos = [r["survival_nano"] for r in out]
    assert all(a >= b for a, b in zip(nanos, nanos[1:]))
    assert nanos[0] < 10**9


def test_interpolate_linear_fills_all_gaps(spark, sf_dir):
    df = _queries()["q_ts_interpolate_linear"](spark, sf_dir)
    rows = df.collect()
    assert all(r["cents"] is not None for r in rows)
    assert any(r["interpolated"] for r in rows)
    # dense: every user covers a contiguous day range
    per = {}
    for r in rows:
        per.setdefault(r["user_id"], []).append(r["d"])
    for ds in per.values():
        assert sorted(ds) == list(range(min(ds), max(ds) + 1))
    # spot-check one interpolated value sits between its neighbors'
    # line: recompute from the emitted dense series
    by_user = {u: sorted(ds) for u, ds in per.items()}
    vals = {(r["user_id"], r["d"]): (r["cents"], r["interpolated"]) for r in rows}
    checked = 0
    for (u, d), (v, interp) in vals.items():
        if not interp:
            continue
        lo = d
        while vals[(u, lo)][1]:
            lo -= 1
        hi = d
        while vals[(u, hi)][1]:
            hi += 1
        v0, v1 = vals[(u, lo)][0], vals[(u, hi)][0]
        q = abs(v1 - v0) * (d - lo) // (hi - lo)
        expect = v0 + (q if v1 >= v0 else -q)
        assert v == expect
        checked += 1
    assert checked > 0


def test_tclose_tvd_bounds_and_gate(spark, sf_dir):
    df = _queries()["q_privacy_tclose"](spark, sf_dir)
    rows = df.collect()
    assert rows
    for r in rows:
        assert 0 <= r["tvd_micro"] <= 1000000
        assert r["t_close"] == (r["tvd_micro"] <= 200000)
    # singleton classes concentrate all mass on one segment: their TVD
    # must equal 1 - N_j/N > 0.5 for any realistic segment share
    singles = [r for r in rows if r["k"] == 1]
    for r in singles:
        assert r["tvd_micro"] > 500000


def test_readability_matches_bruteforce(spark, sf_dir):
    import re

    df = _queries()["q_text_readability"](spark, sf_dir)
    rows = {(r["lang"], r["source"]): r for r in df.collect()}
    import duckdb

    raw = duckdb.sql(
        f"SELECT lang, source, text FROM '{sf_dir}/documents.parquet'"
    ).fetchall()
    agg: dict[tuple, list[int]] = {}
    for lang, source, text in raw:
        a = agg.setdefault((lang, source), [0, 0, 0, 0])
        a[0] += 1
        a[1] += len(text.split(" "))
        a[2] += max(len(re.findall(r"[.!?]+", text)), 1)
        a[3] += max(len(re.findall(r"[aeiouy]+", text.lower())), 1)
    for key, (n, w, s, syl) in agg.items():
        r = rows[key]
        assert (r["n_docs"], r["words"], r["sentences"], r["syllables"]) == (
            n,
            w,
            s,
            syl,
        )
        flesch = 206.835 - 1.015 * (w / s) - 84.6 * (syl / w)
        assert abs(r["flesch_micro"] / 1e6 - flesch) < 2e-6


def test_decay_sum_matches_bruteforce(spark, sf_dir):
    df = _queries()["q_agg_decay_sum"](spark, sf_dir)
    rows = {r["grp"]: r for r in df.collect()}
    import datetime

    import duckdb

    raw = duckdb.sql(
        f"SELECT o_orderpriority, CAST(ROUND(o_totalprice*100) AS BIGINT),"
        f" CAST(o_orderdate AS DATE) FROM '{sf_dir}/orders.parquet'"
    ).fetchall()
    anchor = datetime.date(2002, 1, 1)
    acc: dict[str, int] = {}
    cnt: dict[str, int] = {}
    for grp, cents, d in raw:
        k = min((anchor - d).days // 365, 7)
        acc[grp] = acc.get(grp, 0) + cents * (1 << (7 - k))
        cnt[grp] = cnt.get(grp, 0) + 1
    for grp, num in acc.items():
        assert rows[grp]["decayed_num"] == num
        assert rows[grp]["decayed_cents"] == num // 128
        assert rows[grp]["n"] == cnt[grp]


def test_winsorized_mean_matches_bruteforce(spark, sf_dir):
    df = _queries()["q_agg_winsorized_mean"](spark, sf_dir)
    rows = {r["grp"]: r for r in df.collect()}
    import duckdb

    raw = duckdb.sql(
        f"SELECT c_mktsegment, CAST(ROUND(c_acctbal*100) AS BIGINT), c_custkey"
        f" FROM '{sf_dir}/customer.parquet'"
    ).fetchall()
    groups: dict[str, list[tuple[int, int]]] = {}
    for g, cents, key in raw:
        groups.setdefault(g, []).append((cents, key))
    for g, vals in groups.items():
        vals.sort()
        n = len(vals)
        lo = vals[(n + 19) // 20 - 1][0]
        hi = vals[(19 * n + 19) // 20 - 1][0]
        clamped = [min(max(c, lo), hi) for c, _ in vals]
        r = rows[g]
        assert (r["lo_cents"], r["hi_cents"]) == (lo, hi)
        assert r["winsorized_mean_cents"] == sum(clamped) // n
        assert r["n_clamped_lo"] == sum(1 for c, _ in vals if c < lo)
        assert r["n_clamped_hi"] == sum(1 for c, _ in vals if c > hi)
        # winsorized mean is between the clamp bounds
        assert lo <= r["winsorized_mean_cents"] <= hi


def test_ohlc_invariants(spark, sf_dir):
    df = _queries()["q_agg_ohlc"](spark, sf_dir)
    rows = df.collect()
    assert rows
    for r in rows:
        assert r["low_c"] <= r["open_c"] <= r["high_c"]
        assert r["low_c"] <= r["close_c"] <= r["high_c"]
        assert r["n"] >= 1
    # open/close for one bar match the time-ordered extremes
    import duckdb

    probe = rows[0]
    raw = duckdb.sql(
        f"""SELECT CAST(ROUND(value*100) AS BIGINT)
        FROM '{sf_dir}/events.parquet'
        WHERE event_type = '{probe["event_type"]}'
          AND CAST(ts AS DATE) - DATE '2024-01-01' = {probe["d"]}
        ORDER BY CAST(ts AS TIMESTAMP), event_id"""
    ).fetchall()
    assert raw[0][0] == probe["open_c"]
    assert raw[-1][0] == probe["close_c"]
    assert sum(v for (v,) in raw) == probe["volume_c"]


def test_simpson_estimators_sane(spark, sf_dir):
    df = _queries()["q_agg_simpson"](spark, sf_dir)
    rows = df.collect()
    assert len(rows) == 5
    flags = {r["paradox"] for r in rows}
    assert len(flags) == 1  # global flag repeated
    for r in rows:
        # both estimators sit inside the plausible cents range
        assert 0 < r["mean_c"] < 100_000_000
        assert 0 < r["strat_mean_c"] < 100_000_000


def test_class_quota_exact_balance(spark, sf_dir):
    df = _queries()["q_sample_class_quota"](spark, sf_dir)
    rows = df.collect()
    import duckdb

    counts = dict(
        duckdb.sql(
            f"SELECT lang, COUNT(*) FROM '{sf_dir}/documents.parquet' GROUP BY 1"
        ).fetchall()
    )
    quota = min(counts.values())
    per = {}
    for r in rows:
        per[r["lang"]] = per.get(r["lang"], 0) + 1
    assert set(per) == set(counts)
    assert all(v == quota for v in per.values())
    # ranks are exactly 1..quota per language
    ranks = {}
    for r in rows:
        ranks.setdefault(r["lang"], set()).add(r["rn"])
    assert all(v == set(range(1, quota + 1)) for v in ranks.values())


def test_resample_weekly_aligned_mondays(spark, sf_dir):
    df = _queries()["q_ts_resample_weekly"](spark, sf_dir)
    rows = df.collect()
    assert rows
    for r in rows:
        assert r["week_start"].isoweekday() == 1
    # deltas are consistent with the revenue series
    per = {}
    for r in rows:
        per.setdefault(r["grp"], []).append(r)
    for series in per.values():
        series.sort(key=lambda r: r["week_start"])
        assert series[0]["wow_delta_c"] == series[0]["revenue_c"]
        assert series[0]["wow_delta_ppm"] == 0
        for a, b in zip(series, series[1:]):
            assert b["wow_delta_c"] == b["revenue_c"] - a["revenue_c"]


def test_grid_density_stencil(spark, sf_dir):
    df = _queries()["q_geo_grid_density"](spark, sf_dir)
    rows = df.collect()
    assert rows
    cells = {(r["cx"], r["cy"]): r["n"] for r in rows}
    # smoothed = sum of the 3x3 neighborhood of OCCUPIED cells
    for r in rows:
        expect = sum(
            cells.get((r["cx"] + dx, r["cy"] + dy), 0)
            for dx in (-1, 0, 1)
            for dy in (-1, 0, 1)
        )
        assert r["smoothed_n"] == expect
        assert r["smoothed_n"] >= r["n"] >= 1
    import duckdb

    total = duckdb.sql(
        f"SELECT COUNT(*) FROM '{sf_dir}/customer.parquet'"
    ).fetchone()[0]
    assert sum(r["n"] for r in rows) == total


def test_kfold_grouped_no_entity_leakage(spark, sf_dir):
    df = _queries()["q_split_kfold_grouped"](spark, sf_dir)
    rows = df.collect()
    assert {r["fold"] for r in rows} <= set(range(5))
    import duckdb

    tot_orders = duckdb.sql(
        f"SELECT COUNT(*), COUNT(DISTINCT o_custkey) FROM '{sf_dir}/orders.parquet'"
    ).fetchone()
    assert sum(r["n_orders"] for r in rows) == tot_orders[0]
    # grouped folds partition customers exactly (no double counting)
    assert sum(r["n_customers"] for r in rows) == tot_orders[1]


def test_prop_ztest_matches_bruteforce(spark, sf_dir):
    import math

    r = _queries()["q_stats_prop_ztest"](spark, sf_dir).collect()[0]
    assert r["x_a"] <= r["n_a"] and r["x_b"] <= r["n_b"]
    p_a, p_b = r["x_a"] / r["n_a"], r["x_b"] / r["n_b"]
    pool = (r["x_a"] + r["x_b"]) / (r["n_a"] + r["n_b"])
    z = (p_a - p_b) / math.sqrt(
        pool * (1 - pool) * (1 / r["n_a"] + 1 / r["n_b"])
    )
    assert abs(r["z_micro"] / 1e6 - z) < 2e-6
    assert r["p_a_ppm"] == 1000000 * r["x_a"] // r["n_a"]


def test_path_topk_deterministic_and_consistent(spark, sf_dir):
    df = _queries()["q_win_path_topk"](spark, sf_dir)
    rows = df.collect()
    assert 1 <= len(rows) <= 10
    counts = [r["n_users"] for r in rows]
    assert counts == sorted(counts, reverse=True)
    for r in rows:
        steps = r["path"].split(">")
        assert len(steps) == 3
    # brute-force recompute
    import duckdb

    raw = duckdb.sql(
        f"""SELECT user_id, event_type FROM '{sf_dir}/events.parquet'
        ORDER BY user_id, CAST(ts AS TIMESTAMP), event_id"""
    ).fetchall()
    firsts: dict[int, list[str]] = {}
    for u, t in raw:
        firsts.setdefault(u, [])
        if len(firsts[u]) < 3:
            firsts[u].append(t)
    agg: dict[str, int] = {}
    for steps in firsts.values():
        if len(steps) == 3:
            p = ">".join(steps)
            agg[p] = agg.get(p, 0) + 1
    expect = sorted(agg.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    assert [(r["path"], r["n_users"]) for r in rows] == expect


def test_jl_projection_exact_and_distorts_mildly(spark, sf_dir):
    df = _queries()["q_vec_jl_projection"](spark, sf_dir)
    rows = df.collect()
    assert rows
    # exact recompute for one vector
    import duckdb
    import hashlib

    probe = rows[0]
    emb = duckdb.sql(
        f"SELECT embedding FROM '{sf_dir}/embeddings.parquet'"
        f" WHERE vec_id = {probe['vec_id']}"
    ).fetchone()[0]
    q = [round(float(x) * 1000000.0) for x in emb]
    assert probe["orig_sq"] == sum(v * v for v in q)
    for j in (1, 2, 3, 4):
        y = 0
        for i, v in enumerate(q, start=1):
            h = hashlib.md5(f"jl{j}_{i}".encode()).hexdigest()[:8]
            y += (1 - 2 * (int(h, 16) % 2)) * v
        assert probe[f"y{j}"] == y
    # JL: mean distortion over the corpus is near 1 (k=4 is noisy per
    # vector; the mean over >=100 vectors concentrates)
    if len(rows) >= 100:
        mean_ratio = sum(r["ratio_milli"] for r in rows) / len(rows) / 1000.0
        assert 0.7 < mean_ratio < 1.3


def test_asof_nearest_matches_bruteforce(spark, sf_dir):
    df = _queries()["q_join_asof_nearest"](spark, sf_dir)
    got = {r["event_id"]: (r["matched_dir"], r["gap_us"]) for r in df.collect()}
    import duckdb

    clicks = duckdb.sql(
        f"""SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP))
        FROM '{sf_dir}/events.parquet' WHERE event_type='click'"""
    ).fetchall()
    purch = duckdb.sql(
        f"""SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP))
        FROM '{sf_dir}/events.parquet' WHERE event_type='purchase'"""
    ).fetchall()
    per_user: dict[int, list[int]] = {}
    for u, t in purch:
        per_user.setdefault(u, []).append(t)
    assert clicks  # vacuousness guard (r9): empty fixture slice must fail
    assert len(got) == len(clicks)
    for eid, u, t in clicks:
        cands = per_user.get(u, [])
        if not cands:
            assert got[eid] == ("none", None)
            continue
        back = max((p for p in cands if p <= t), default=None)
        fwd = min((p for p in cands if p >= t), default=None)
        if fwd is None or (back is not None and t - back <= fwd - t):
            assert got[eid] == ("back", t - back)
        else:
            assert got[eid] == ("fwd", fwd - t)


def test_codec_roundtrip(spark, sf_dir):
    rows = _queries()["q_fn_codec"](spark, sf_dir).collect()
    assert rows
    import base64

    for r in rows[:50]:
        # hex of the priority string decodes back to it
        assert bytes.fromhex(r["hex_str"]).decode() == base64.b64decode(
            r["b64_str"]
        ).decode()
        assert r["b64_roundtrip"] == base64.b64decode(r["b64_str"]).decode()
        assert int(r["hex_int"], 16) == r["o_orderkey"]


def test_export_manifest_digest_recomputable(spark, sf_dir):
    rows = _queries()["q_export_manifest"](spark, sf_dir).collect()
    assert rows and len(rows) <= 8
    import hashlib

    import duckdb

    docs = duckdb.sql(
        f"SELECT doc_id, lang, text FROM '{sf_dir}/documents.parquet'"
    ).fetchall()
    shards: dict[int, list[str]] = {}
    nbytes: dict[int, int] = {}
    langs: dict[int, set] = {}
    for doc_id, lang, text in docs:
        h = hashlib.md5(f"shard{doc_id}".encode()).hexdigest()[:8]
        sid = int(h, 16) % 8
        shards.setdefault(sid, []).append(
            hashlib.md5(text.encode()).hexdigest()
        )
        nbytes[sid] = nbytes.get(sid, 0) + len(text.encode())
        langs.setdefault(sid, set()).add(lang)
    for r in rows:
        sid = r["shard_id"]
        digest = hashlib.md5("".join(sorted(shards[sid])).encode()).hexdigest()
        assert r["shard_digest"] == digest
        assert r["n_docs"] == len(shards[sid])
        assert r["payload_bytes"] == nbytes[sid]
        assert r["n_langs"] == len(langs[sid])
    assert sum(r["n_docs"] for r in rows) == len(docs)


def test_compress_ratio_exact_recompute(spark, sf_dir):
    """Compensating check for the rows-only q_text_compress_ratio: zlib
    is deterministic, so the per-slice sums recompute byte-for-byte."""
    import zlib

    import duckdb

    rows = {
        (r["lang"], r["source"]): r
        for r in _queries()["q_text_compress_ratio"](spark, sf_dir).collect()
    }
    docs = duckdb.sql(
        f"SELECT lang, source, text FROM '{sf_dir}/documents.parquet'"
    ).fetchall()
    agg: dict[tuple, list[int]] = {}
    for lang, source, text in docs:
        a = agg.setdefault((lang, source), [0, 0, 0])
        b = text.encode("utf-8")
        a[0] += 1
        a[1] += len(b)
        a[2] += len(zlib.compress(b, 6))
    assert set(rows) == set(agg)
    for key, (n, ob, cb) in agg.items():
        r = rows[key]
        assert (r["n_docs"], r["orig_bytes"], r["comp_bytes"]) == (n, ob, cb)
        assert r["ratio_milli"] == 1000 * cb // ob
        assert r["in_band"] == (200 <= 1000 * cb // ob <= 900)


def test_target_encode_matches_bruteforce(spark, sf_dir):
    rows = _queries()["q_feature_target_encode"](spark, sf_dir).collect()
    assert rows
    import duckdb

    raw = duckdb.sql(
        f"SELECT o_orderkey, o_orderpriority, CAST(ROUND(o_totalprice*100)"
        f" AS BIGINT) FROM '{sf_dir}/orders.parquet'"
    ).fetchall()
    s: dict[str, int] = {}
    n: dict[str, int] = {}
    for _, g, y in raw:
        s[g] = s.get(g, 0) + y
        n[g] = n.get(g, 0) + 1
    ss, nn = sum(s.values()), sum(n.values())
    by_key = {k: (g, y) for k, g, y in raw}
    for r in rows:
        g, y = by_key[r["o_orderkey"]]
        assert r["o_orderkey"] % 11 == 0 and r["grp"] == g
        assert r["loo_c"] == (s[g] - y) // (n[g] - 1)
        assert r["smoothed_c"] == (s[g] + 100 * (ss // nn)) // (n[g] + 100)
    assert len(rows) == sum(1 for k in by_key if k % 11 == 0)


def test_impute_matches_bruteforce(spark, sf_dir):
    import hashlib

    import duckdb

    rows = {r["grp"]: r for r in _queries()["q_feature_impute"](spark, sf_dir).collect()}
    raw = duckdb.sql(
        f"SELECT c_custkey, c_mktsegment, CAST(ROUND(c_acctbal*100)"
        f" AS BIGINT) FROM '{sf_dir}/customer.parquet'"
    ).fetchall()
    agg: dict[str, list[int]] = {}
    for key, g, cents in raw:
        h = int(hashlib.md5(f"mask{key}".encode()).hexdigest()[:8], 16)
        a = agg.setdefault(g, [0, 0, 0, 0])  # n, n_imp, obs_sum, obs_n
        a[0] += 1
        if h % 10 == 0:
            a[1] += 1
        else:
            a[2] += cents
            a[3] += 1
    for g, (cnt, n_imp, os_, on) in agg.items():
        r = rows[g]
        mean = os_ // on if os_ >= 0 else -((-os_) // on)
        assert (r["n"], r["n_imputed"]) == (cnt, n_imp)
        assert r["observed_mean_c"] == mean
        assert r["filled_sum_c"] == os_ + n_imp * mean


def test_ndcg_bounds_and_consistency(spark, sf_dir):
    import math

    r = _queries()["q_rank_ndcg"](spark, sf_dir).collect()[0]
    assert 0 <= r["ndcg_ppm"] <= 1000000
    assert r["dcg_micro"] <= r["idcg_micro"]
    # discounts recompute: idcg = sum of first min(n_rel, 20) discounts
    m = min(r["n_rel"], 20)
    idcg = sum(
        round(1000000.0 * math.log(2.0) / math.log(i + 1.0))
        for i in range(1, m + 1)
    )
    assert r["idcg_micro"] == idcg
    if r["idcg_micro"] > 0:
        assert r["ndcg_ppm"] == 1000000 * r["dcg_micro"] // r["idcg_micro"]


def test_distinct_bitmask_matches_bruteforce(spark, sf_dir):
    rows = _queries()["q_win_distinct_bitmask"](spark, sf_dir).collect()
    import duckdb

    raw = duckdb.sql(
        f"""SELECT user_id, event_id, event_type
        FROM '{sf_dir}/events.parquet'
        ORDER BY user_id, CAST(ts AS TIMESTAMP), event_id"""
    ).fetchall()
    bit = {"click": 1, "error": 2, "purchase": 4, "signup": 8, "view": 16}
    per: dict[int, list[tuple[int, int]]] = {}
    for u, eid, t in raw:
        per.setdefault(u, []).append((eid, bit[t]))
    expect = {}
    for u, seq in per.items():
        for i, (eid, _) in enumerate(seq):
            window = seq[max(0, i - 9) : i + 1]
            mask = 0
            for _, b in window:
                mask |= b
            expect[(u, eid)] = (mask, bin(mask).count("1"))
    got = {(r["user_id"], r["event_id"]): (r["mask"], r["distinct_types_10"]) for r in rows}
    assert got == expect


def test_levene_matches_scipy_formula(spark, sf_dir):
    rows = {r["grp"]: r for r in _queries()["q_stats_levene"](spark, sf_dir).collect()}
    import duckdb

    raw = duckdb.sql(
        f"SELECT c_mktsegment, CAST(ROUND(c_acctbal*100) AS BIGINT)"
        f" FROM '{sf_dir}/customer.parquet'"
    ).fetchall()
    groups: dict[str, list[int]] = {}
    for g, x in raw:
        groups.setdefault(g, []).append(x)
    # brute force: ANOVA over z = |x - group floor-mean| (the operator's
    # documented integerized variant)
    devs: dict[str, list[int]] = {}
    for g, v in groups.items():
        mu = sum(v) // len(v) if sum(v) >= 0 else -((-sum(v)) // len(v))
        devs[g] = [abs(x - mu) for x in v]
    n = sum(len(v) for v in devs.values())
    k = len(devs)
    grand = sum(sum(v) for v in devs.values()) / n
    ssb = sum(len(v) * (sum(v) / len(v) - grand) ** 2 for v in devs.values())
    ssw = sum(sum((z - sum(v) / len(v)) ** 2 for z in v) for v in devs.values())
    w = (ssb / (k - 1)) / (ssw / (n - k))
    emitted = next(iter(rows.values()))["w_micro"] / 1e6
    assert w == pytest.approx(emitted, rel=1e-4)


def test_concurrency_sweep_matches_bruteforce(spark, sf_dir):
    rows = {r["event_type"]: r for r in _queries()["q_win_concurrency_sweep"](spark, sf_dir).collect()}
    import duckdb

    raw = duckdb.sql(
        f"""SELECT event_type, event_id, epoch_us(CAST(ts AS TIMESTAMP))
        FROM '{sf_dir}/events.parquet'"""
    ).fetchall()
    per: dict[str, list[tuple[int, int, int]]] = {}
    for t, eid, s in raw:
        per.setdefault(t, []).append((s, 1, eid))
        per[t].append((s + 600_000_000, -1, eid))
    for t, pts in per.items():
        pts.sort()
        conc = best = 0
        first_peak = None
        for tt, delta, _ in pts:
            conc += delta
            if conc > best:
                best = conc
                first_peak = tt
        r = rows[t]
        assert r["max_concurrency"] == best
        assert r["first_peak_us"] == first_peak
        assert r["n_events"] == len(pts) // 2


def test_equidepth_histogram_depths(spark, sf_dir):
    rows = _queries()["q_agg_hist_equidepth"](spark, sf_dir).collect()
    per: dict[str, dict[int, int]] = {}
    n_per: dict[str, int] = {}
    for r in rows:
        per.setdefault(r["grp"], {})[r["decile"]] = r["boundary_cents"]
        n_per[r["grp"]] = r["n"]
    import duckdb

    raw = duckdb.sql(
        f"SELECT c_mktsegment, CAST(ROUND(c_acctbal*100) AS BIGINT), c_custkey"
        f" FROM '{sf_dir}/customer.parquet'"
    ).fetchall()
    groups: dict[str, list[tuple[int, int]]] = {}
    for g, c, k in raw:
        groups.setdefault(g, []).append((c, k))
    for g, vals in groups.items():
        vals.sort()
        n = len(vals)
        assert n_per[g] == n
        bounds = per[g]
        assert set(bounds) == set(range(1, 11))
        for i in range(1, 11):
            assert bounds[i] == vals[(i * n + 9) // 10 - 1][0]
        # boundaries nondecreasing; top boundary is the max
        seq = [bounds[i] for i in range(1, 11)]
        assert seq == sorted(seq)
        assert bounds[10] == vals[-1][0]


def test_powerlaw_slope_negative_and_recomputable(spark, sf_dir):
    import math

    r = _queries()["q_graph_degree_powerlaw"](spark, sf_dir).collect()[0]
    from oke_cassandra_spark_locality_demo_spark.operators.graph import _jan_edges

    deg: dict[int, int] = {}
    for e in _jan_edges(spark, sf_dir).collect():
        deg[e.u] = deg.get(e.u, 0) + 1
    dist: dict[int, int] = {}
    for k in deg.values():
        dist[k] = dist.get(k, 0) + 1
    pts = [
        (round(1e6 * math.log(k)), round(1e6 * math.log(c)))
        for k, c in dist.items()
    ]
    n = len(pts)
    assert r["n_degree_levels"] == n
    sx = sum(x for x, _ in pts)
    sy = sum(y for _, y in pts)
    sxx = sum(x * x for x, _ in pts)
    sxy = sum(x * y for x, y in pts)
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    assert abs(r["slope_micro"] / 1e6 - slope) < 2e-6


def test_vwap_matches_bruteforce(spark, sf_dir):
    rows = {(r["grp"], r["mon"]): r for r in _queries()["q_agg_vwap"](spark, sf_dir).collect()}
    import duckdb

    raw = duckdb.sql(
        f"""SELECT l_returnflag, CAST(DATE_TRUNC('month', CAST(l_shipdate AS DATE)) AS DATE),
        CAST(ROUND(l_extendedprice*100) AS BIGINT), CAST(l_quantity AS BIGINT)
        FROM '{sf_dir}/lineitem.parquet'"""
    ).fetchall()
    agg: dict[tuple, list[int]] = {}
    for g, mon, p, q in raw:
        a = agg.setdefault((g, mon), [0, 0, 0])
        a[0] += 1
        a[1] += q
        a[2] += p * q
    for key, (n, vol, notional) in agg.items():
        r = rows[key]
        assert (r["n_lines"], r["volume"], r["notional_cq"]) == (n, vol, notional)
        assert r["vwap_c"] == notional // vol


def test_negative_downsample_unbiased(spark, sf_dir):
    rows = {r["is_pos"]: r for r in _queries()["q_sample_negative_downsample"](spark, sf_dir).collect()}
    import duckdb

    pos, neg = duckdb.sql(
        f"""SELECT COUNT(CASE WHEN event_type='purchase' THEN 1 END),
        COUNT(CASE WHEN event_type<>'purchase' THEN 1 END)
        FROM '{sf_dir}/events.parquet'"""
    ).fetchone()
    assert rows[True]["n_kept"] == pos
    assert rows[True]["reweighted_n"] == pos
    # kept negatives ~20%, reweighted within 15% of the true count
    assert rows[False]["n_kept"] < neg * 0.3
    assert abs(rows[False]["reweighted_n"] - neg) < neg * 0.15
    assert rows[False]["reweighted_n"] == 5 * rows[False]["n_kept"]


def test_spearman_matches_scipy_formula(spark, sf_dir):
    r = _queries()["q_stats_spearman"](spark, sf_dir).collect()[0]
    import duckdb

    raw = duckdb.sql(
        f"""SELECT l_partkey, CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)) AS BIGINT),
        CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT)
        FROM '{sf_dir}/lineitem.parquet' GROUP BY 1"""
    ).fetchall()

    def avg_ranks(vals):
        order = sorted(range(len(vals)), key=lambda i: vals[i])
        ranks = [0.0] * len(vals)
        i = 0
        while i < len(order):
            j = i
            while j + 1 < len(order) and vals[order[j + 1]] == vals[order[i]]:
                j += 1
            avg = (i + j) / 2 + 1
            for k in range(i, j + 1):
                ranks[order[k]] = avg
            i = j + 1
        return ranks

    xs = [x for _, x, _ in raw]
    ys = [y for _, _, y in raw]
    rx, ry = avg_ranks(xs), avg_ranks(ys)
    n = len(raw)
    mx = sum(rx) / n
    my = sum(ry) / n
    num = sum((a - mx) * (b - my) for a, b in zip(rx, ry))
    den = (
        sum((a - mx) ** 2 for a in rx) * sum((b - my) ** 2 for b in ry)
    ) ** 0.5
    rho = num / den
    assert abs(r["spearman_micro"] / 1e6 - rho) < 1e-5
    assert r["n_parts"] == n


def test_backtest_snaive_consistency(spark, sf_dir):
    rows = _queries()["q_ts_backtest_snaive"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["n_scored_days"] > 0
        assert r["mae_snaive_c"] >= 0 and r["mae_naive1_c"] >= 0
        # mase consistent with the two MAE numerators (up to truncation)
        approx = 1_000_000 * r["mae_snaive_c"] // max(r["mae_naive1_c"], 1)
        assert abs(r["mase_ppm"] - approx) <= 25000


def test_stable_id_deterministic_and_wellformed(spark, sf_dir):
    import hashlib
    import re

    rows = _queries()["q_fn_stable_id"](spark, sf_dir).collect()
    assert rows
    pat = re.compile(r"^[0-9a-f]{8}-[0-9a-f]{4}-5[0-9a-f]{3}-[0-9a-f]{4}-[0-9a-f]{12}$")
    for r in rows[:50]:
        assert pat.match(r["stable_uuid"]), r["stable_uuid"]
        h = hashlib.md5(f"doc:{r['doc_id']}".encode()).hexdigest()
        assert r["stable_uuid"].replace("-", "")[:12] == h[:12]
        assert r["id64"] == int(h[:16], 16) - 2**63
    # rerun yields the identical ids (determinism — uuid() would not)
    again = {r["doc_id"]: r["stable_uuid"] for r in _queries()["q_fn_stable_id"](spark, sf_dir).collect()}
    assert all(again[r["doc_id"]] == r["stable_uuid"] for r in rows)


def test_window_clause_binds_two_specs(spark, sf_dir):
    rows = _queries()["q_sql_window_clause"](spark, sf_dir).collect()
    assert rows
    per: dict[str, list] = {}
    for r in rows:
        per.setdefault(r["o_orderpriority"], []).append(r)
    for series in per.values():
        series.sort(key=lambda r: r["o_orderkey"])
        # w2: running sum over orderkey order
        run = 0
        for r in series:
            run += r["price_cents"]
            assert r["run_cents"] == run
        # w: rank 1 goes to the max price
        best = max(series, key=lambda r: (r["price_cents"], -r["o_orderkey"]))
        assert best["rnk"] == 1


def test_suppress_release_is_kanonymous(spark, sf_dir):
    rows = _queries()["q_privacy_suppress"](spark, sf_dir).collect()
    assert rows  # vacuousness guard (r9): empty output must fail, not skip
    star = [r for r in rows if r["nation_out"] == "*"]
    concrete = [r for r in rows if r["nation_out"] != "*"]
    for r in concrete:
        assert r["n_rows"] >= 5 and r["n_suppressed"] == 0
    assert len(star) <= 1
    if star:
        assert star[0]["n_suppressed"] == star[0]["n_rows"] > 0
    import duckdb

    total = duckdb.sql(
        f"SELECT COUNT(*) FROM '{sf_dir}/customer.parquet'"
    ).fetchone()[0]
    # released + suppressed partition may drop sub-5 released cells from
    # the emission but rows are never double counted
    assert sum(r["n_rows"] for r in rows) <= total


def test_new_users_curve_consistent(spark, sf_dir):
    rows = _queries()["q_ts_new_users"](spark, sf_dir).collect()
    assert rows
    run = 0
    for r in rows:
        run += r["new_users"]
        assert r["cumulative_users"] == run
    import duckdb

    total = duckdb.sql(
        f"SELECT COUNT(DISTINCT user_id) FROM '{sf_dir}/events.parquet'"
    ).fetchone()[0]
    assert rows[-1]["cumulative_users"] == total


def test_rsi_bounds_and_recompute(spark, sf_dir):
    rows = _queries()["q_win_rsi"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 <= r["rsi_ppm"] <= 1_000_000
        denom = r["gains"] + r["losses"]
        if denom:
            assert r["rsi_ppm"] == 1_000_000 * r["gains"] // denom
        else:
            assert r["rsi_ppm"] == 500_000


def test_gtest_matches_bruteforce(spark, sf_dir):
    import math

    rows = _queries()["q_stats_gtest"](spark, sf_dir).collect()
    g_micro = rows[0]["g_micro"]
    assert len({r["g_micro"] for r in rows}) == 1
    import duckdb

    raw = duckdb.sql(
        f"SELECT o_orderstatus, o_orderpriority, COUNT(*)"
        f" FROM '{sf_dir}/orders.parquet' GROUP BY 1, 2"
    ).fetchall()
    rt: dict[str, int] = {}
    ct: dict[str, int] = {}
    for a, b, o in raw:
        rt[a] = rt.get(a, 0) + o
        ct[b] = ct.get(b, 0) + o
    n = sum(o for _, _, o in raw)
    g = 0
    for a, b, o in raw:
        if o:
            g += 2 * o * round(1e6 * math.log(o * n / (rt[a] * ct[b])))
    assert g_micro == g
    # textbook continuous G agrees to within the micro-rounding error
    g_true = 2 * sum(
        o * math.log(o * n / (rt[a] * ct[b])) for a, b, o in raw if o
    )
    assert abs(g_micro / 1e6 - g_true) < 0.05


def test_neighbor_sample_fanout_capped(spark, sf_dir):
    rows = _queries()["q_graph_neighbor_sample"](spark, sf_dir).collect()
    assert rows
    per: dict[int, list[int]] = {}
    for r in rows:
        per.setdefault(r["u"], []).append(r["rnk"])
    from oke_cassandra_spark_locality_demo_spark.operators.graph import _jan_edges

    deg: dict[int, int] = {}
    for e in _jan_edges(spark, sf_dir).collect():
        deg[e.u] = deg.get(e.u, 0) + 1
    for u, ranks in per.items():
        assert sorted(ranks) == list(range(1, min(deg[u], 3) + 1))
    # every vertex with at least one edge appears
    assert set(per) == set(deg)


def test_script_mix_zh_has_cjk(spark, sf_dir):
    rows = {r["lang"]: r for r in _queries()["q_text_script_mix"](spark, sf_dir).collect()}
    assert set(rows) >= {"en", "zh"}
    # labeling sanity: the census must discriminate zh from en strongly
    # in CJK density; tolerate romanized-zh fixtures via a relative check
    assert rows["zh"]["cjk_ppm"] >= rows["en"]["cjk_ppm"]
    for r in rows.values():
        assert 0 <= r["latin_ppm"] <= 1_000_000
        assert r["latin_chars"] + r["cjk_chars"] + r["digit_chars"] >= 0


def test_mcnemar_matches_bruteforce(spark, sf_dir):
    r = _queries()["q_stats_mcnemar"](spark, sf_dir).collect()[0]
    import duckdb

    raw = duckdb.sql(
        f"SELECT o_orderstatus='F', CAST(ROUND(o_totalprice*100) AS BIGINT),"
        f" o_orderkey FROM '{sf_dir}/orders.parquet'"
    ).fetchall()
    n = len(raw)
    order = sorted(range(n), key=lambda i: (raw[i][1], raw[i][2]))
    half = (n + 1) // 2  # NTILE(2): first bucket gets the extra row
    upper = set(order[half:])
    b = sum(1 for i, (a, _, _) in enumerate(raw) if a and i not in upper)
    c = sum(1 for i, (a, _, _) in enumerate(raw) if not a and i in upper)
    assert (r["b_disc"], r["c_disc"]) == (b, c)
    if b + c:
        assert r["chi2_micro"] == 1_000_000 * (b - c) * (b - c) // (b + c)
    assert r["both_pos"] + r["b_disc"] + r["c_disc"] + r["both_neg"] == n


def test_time_bucket_alignment(spark, sf_dir):
    rows = _queries()["q_fn_time_bucket"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["bucket_us"] % 900_000_000 == 0
    import duckdb

    total = duckdb.sql(
        f"SELECT COUNT(*) FROM '{sf_dir}/events.parquet'"
    ).fetchone()[0]
    assert sum(r["n"] for r in rows) == total


def test_wau_matches_bruteforce(spark, sf_dir):
    rows = {r["d"]: r for r in _queries()["q_ts_wau"](spark, sf_dir).collect()}
    import duckdb

    raw = duckdb.sql(
        f"""SELECT DISTINCT user_id, CAST(CAST(ts AS DATE) - DATE '2024-01-01' AS BIGINT)
        FROM '{sf_dir}/events.parquet'"""
    ).fetchall()
    days = sorted({d for _, d in raw})
    d0, d1 = days[0], days[-1]
    for t in range(d0, d1 + 1):
        users = {u for u, d in raw if t - 6 <= d <= t}
        if t in rows:
            assert rows[t]["wau"] == len(users)
            assert rows[t]["full_window"] == (t >= d0 + 6)
        else:
            assert not users


def test_rendezvous_consistency_property(spark, sf_dir):
    rows = _queries()["q_shard_rendezvous"](spark, sf_dir).collect()
    assert {r["shard"] for r in rows} <= set(range(8))
    total = sum(r["n_docs"] for r in rows)
    moved = sum(r["n_moved"] for r in rows)
    assert rows[0]["moved_ppm"] == 1_000_000 * moved // total
    # consistency: growing 8 -> 9 shards moves roughly 1/9 of keys
    assert 0.03 < moved / total < 0.25
    # balance: no shard holds more than 3x its fair share
    assert max(r["n_docs"] for r in rows) <= 3 * total // 8
    # cross-check one doc's assignment
    import hashlib

    import duckdb

    doc_id = duckdb.sql(
        f"SELECT MIN(doc_id) FROM '{sf_dir}/documents.parquet'"
    ).fetchone()[0]

    def score(shard, doc):
        return int(hashlib.md5(f"rv{shard}_{doc}".encode()).hexdigest()[:8], 16)

    best8 = max(range(8), key=lambda s: score(s, doc_id))
    per_shard_counts = {r["shard"]: r["n_docs"] for r in rows}
    assert best8 in per_shard_counts


def test_rfm_partitions_customers(spark, sf_dir):
    rows = _queries()["q_agg_rfm"](spark, sf_dir).collect()
    import duckdb

    n_cust = duckdb.sql(
        f"SELECT COUNT(DISTINCT o_custkey) FROM '{sf_dir}/orders.parquet'"
    ).fetchone()[0]
    assert sum(r["n_customers"] for r in rows) == n_cust
    for r in rows:
        assert 1 <= r["r_score"] <= 5
        assert 1 <= r["f_score"] <= 5
        assert 1 <= r["m_score"] <= 5
        assert r["avg_monetary_c"] == r["segment_revenue_c"] // r["n_customers"]
    # quintiles are balanced per axis (each score holds ~1/5 of customers)
    for axis in ("r_score", "f_score", "m_score"):
        per = {}
        for r in rows:
            per[r[axis]] = per.get(r[axis], 0) + r["n_customers"]
        assert set(per) == {1, 2, 3, 4, 5}
        assert max(per.values()) - min(per.values()) <= 1


def test_label_churn_leakage_safe(spark, sf_dir):
    rows = _queries()["q_label_churn"](spark, sf_dir).collect()
    assert rows
    import duckdb

    raw = duckdb.sql(
        f"""SELECT DISTINCT user_id, CAST(CAST(ts AS DATE) - DATE '2024-01-01' AS BIGINT)
        FROM '{sf_dir}/events.parquet'"""
    ).fetchall()
    days: dict[int, list[int]] = {}
    for u, d in raw:
        days.setdefault(u, []).append(d)
    dmax = max(d for _, d in raw)
    expect = {}
    for u, ds in days.items():
        ds.sort()
        for i, d in enumerate(ds):
            if d + 7 > dmax:
                continue  # outcome window not fully observed
            nxt = ds[i + 1] if i + 1 < len(ds) else None
            expect[(u, d)] = (nxt is None or nxt > d + 7, nxt is None)
    got = {(r["user_id"], r["d"]): (r["churn_label"], r["censored"]) for r in rows}
    assert got == expect


def test_event_order_audit_bounded_by_injected_delay(spark, sf_dir):
    rows = _queries()["q_quality_event_order"](spark, sf_dir).collect()
    assert {r["event_type"] for r in rows} == {
        "click", "error", "purchase", "signup", "view",
    }
    for r in rows:
        assert 0 <= r["inversion_ppm"] <= 1_000_000
        if r["n_inversions"]:
            # skew cannot exceed the 120 s injected delivery delay
            assert 0 < r["worst_skew_us"] <= 120_000_000
        assert r["inversion_ppm"] == (
            1_000_000 * r["n_inversions"] // max(r["n_events"] - 1, 1)
        )


def test_percent_of_parent_sums(spark, sf_dir):
    rows = _queries()["q_agg_percent_of_parent"](spark, sf_dir).collect()
    assert rows
    per_region: dict[str, int] = {}
    region_ppm: dict[str, int] = {}
    for r in rows:
        per_region[r["region"]] = per_region.get(r["region"], 0) + r["pct_of_region_ppm"]
        region_ppm[r["region"]] = r["region_pct_ppm"]
    # nation shares within a region sum to ~1e6 (floor truncation slack
    # bounded by nations-per-region)
    for region, s in per_region.items():
        n_nations = sum(1 for r in rows if r["region"] == region)
        assert 1_000_000 - n_nations <= s <= 1_000_000
    total = sum(region_ppm.values())
    assert 1_000_000 - len(region_ppm) <= total <= 1_000_000


def test_mix_shift_bridge_is_exact(spark, sf_dir):
    rows = _queries()["q_agg_mix_shift"](spark, sf_dir).collect()
    assert len(rows) == 5
    for r in rows:
        assert (
            r["volume_effect_c"] + r["rate_effect_c"] + r["residual_c"]
            == r["delta_rev_c"]
        )


def test_distinct_on_picks_latest(spark, sf_dir):
    rows = _queries()["q_sql_distinct_on"](spark, sf_dir).collect()
    assert rows
    import duckdb

    raw = duckdb.sql(
        f"""SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE)
        FROM '{sf_dir}/orders.parquet' WHERE o_custkey % 17 = 0"""
    ).fetchall()
    best: dict[int, tuple] = {}
    for ck, ok_, d in raw:
        cur = best.get(ck)
        # latest date, then smallest orderkey
        cand = (d, -ok_)
        if cur is None or cand > cur[0]:
            best[ck] = (cand, ok_)
    assert {r["o_custkey"]: r["o_orderkey"] for r in rows} == {
        k: v[1] for k, v in best.items()
    }
    assert len(rows) == len(best)


def test_double_charge_pairs_valid(spark, sf_dir):
    rows = _queries()["q_fraud_double_charge"](spark, sf_dir).collect()
    # vacuousness guard (r9): the key was deliberately banded to $10k
    # BECAUSE exact-cent matching was measured vacuous — an empty
    # result here means that regression came back, so fail loudly.
    assert rows
    import duckdb

    raw = {
        k: (int(round(p * 100)) // 1000000, d)
        for k, p, d in duckdb.sql(
            f"SELECT o_orderkey, o_totalprice, CAST(o_orderdate AS DATE)"
            f" FROM '{sf_dir}/orders.parquet'"
        ).fetchall()
    }
    for r in rows:
        b1, d1 = raw[r["first_orderkey"]]
        b2, d2 = raw[r["second_orderkey"]]
        assert b1 == b2 == r["amount_band"]
        assert 0 <= (d2 - d1).days <= 3
        assert r["gap_days"] == (d2 - d1).days


def test_uniqueness_ladder_monotone(spark, sf_dir):
    rows = {r["qi_subset"]: r for r in _queries()["q_privacy_uniqueness"](spark, sf_dir).collect()}
    assert set(rows) == {
        "nation", "band", "segment", "nation+band",
        "nation+segment", "band+segment", "nation+band+segment",
    }
    # adding a column can only increase (or keep) singleton counts
    assert rows["nation+band"]["n_unique_rows"] >= rows["nation"]["n_unique_rows"]
    assert rows["nation+band"]["n_unique_rows"] >= rows["band"]["n_unique_rows"]
    assert (
        rows["nation+band+segment"]["n_unique_rows"]
        >= rows["nation+band"]["n_unique_rows"]
    )
    # single coarse attributes on a sizable table are never unique
    assert rows["nation"]["n_unique_rows"] == 0
    assert rows["segment"]["n_unique_rows"] == 0
    import duckdb

    expect = duckdb.sql(
        f"""SELECT COUNT(*) FROM (
        SELECT c_nationkey, CAST(FLOOR(c_acctbal/1000.0) AS BIGINT), c_mktsegment
        FROM '{sf_dir}/customer.parquet'
        GROUP BY 1, 2, 3 HAVING COUNT(*) = 1)"""
    ).fetchone()[0]
    assert rows["nation+band+segment"]["n_unique_rows"] == expect


def test_linreg2_matches_numpy(spark, sf_dir):
    import numpy as np

    r = _queries()["q_agg_linreg2"](spark, sf_dir).collect()[0]
    import duckdb

    raw = duckdb.sql(
        f"""SELECT CAST(ROUND(o_totalprice*100) AS BIGINT),
        CAST(DATE '2002-01-01' - CAST(o_orderdate AS DATE) AS BIGINT),
        CAST(SUBSTRING(o_orderpriority, 1, 1) AS BIGINT)
        FROM '{sf_dir}/orders.parquet'"""
    ).fetchall()
    y = np.array([a for a, _, _ in raw], dtype=float)
    X = np.column_stack(
        [
            np.ones(len(raw)),
            np.array([b for _, b, _ in raw], dtype=float),
            np.array([c for _, _, c in raw], dtype=float),
        ]
    )
    beta = np.linalg.lstsq(X, y, rcond=None)[0]
    assert abs(r["beta1_micro"] / 1e6 - beta[1]) < 1e-3
    assert abs(r["beta2_micro"] / 1e6 - beta[2]) < 1e-3
    assert r["n"] == len(raw)


def test_waterfill_max_min_fair(spark, sf_dir):
    rows = _queries()["q_budget_waterfill"](spark, sf_dir).collect()
    assert rows
    budget = rows[0]["budget"]
    total_alloc = sum(r["alloc_tokens"] for r in rows)
    n_unsat = sum(1 for r in rows if not r["saturated"])
    # feasibility + near-exhaustion (floor slack bounded by unsat count)
    assert total_alloc <= budget
    assert budget - total_alloc < max(n_unsat, 1)
    for r in rows:
        assert r["alloc_tokens"] <= r["supply_tokens"]
        if r["saturated"]:
            assert r["alloc_tokens"] == r["supply_tokens"]
    # max-min fairness: all unsaturated languages get the same share,
    # and that share is >= every saturated language's full supply
    unsat_allocs = {r["alloc_tokens"] for r in rows if not r["saturated"]}
    assert len(unsat_allocs) <= 1
    if unsat_allocs:
        level = unsat_allocs.pop()
        for r in rows:
            if r["saturated"]:
                assert r["supply_tokens"] <= level + 1
    # brute-force iterative water-filling agrees
    supplies = {r["lang"]: r["supply_tokens"] for r in rows}
    remaining = budget
    alloc = {}
    active = dict(supplies)
    while active:
        share = remaining // len(active)
        sat = {k: v for k, v in active.items() if v <= share}
        if not sat:
            for k in active:
                alloc[k] = share
            break
        for k, v in sat.items():
            alloc[k] = v
            remaining -= v
            del active[k]
    got = {r["lang"]: r["alloc_tokens"] for r in rows}
    assert got == alloc


def test_overdispersion_recompute(spark, sf_dir):
    rows = {r["event_type"]: r for r in _queries()["q_stats_overdispersion"](spark, sf_dir).collect()}
    import duckdb

    raw = duckdb.sql(
        f"""SELECT event_type, CAST(CAST(ts AS DATE) - DATE '2024-01-01' AS BIGINT), COUNT(*)
        FROM '{sf_dir}/events.parquet' GROUP BY 1, 2"""
    ).fetchall()
    per: dict[str, list[int]] = {}
    for t, _, x in raw:
        per.setdefault(t, []).append(x)
    for t, xs in per.items():
        n = len(xs)
        mean = sum(xs) / n
        var = sum((x - mean) ** 2 for x in xs) / (n - 1)
        assert abs(rows[t]["dispersion_micro"] / 1e6 - var / mean) < 1e-4


def test_wilcoxon_rank_identity(spark, sf_dir):
    r = _queries()["q_stats_wilcoxon"](spark, sf_dir).collect()[0]
    n = r["n"]
    # doubled signed rank sums partition the doubled total rank mass
    assert r["r2_plus"] + r["r2_minus"] == 2 * n * (n + 1) // 2
    w_plus = r["r2_plus"] / 2
    import math

    z = (w_plus - n * (n + 1) / 4) / math.sqrt(
        n * (n + 1) * (2 * n + 1) / 24
    )
    assert abs(r["z_micro"] / 1e6 - z) < 2e-6


def test_join_size_estimate_is_exact(spark, sf_dir):
    rows = _queries()["q_join_size_estimate"](spark, sf_dir).collect()
    assert {r["cnt_quartile"] for r in rows} <= {1, 2, 3, 4}
    est_total = sum(r["est_rows"] for r in rows)
    assert est_total == rows[0]["actual_rows"]
    # top quartile contributes the most pairs (sorted by key count)
    per = {r["cnt_quartile"]: r["est_rows"] for r in rows}
    assert per[max(per)] == max(per.values())


def test_purchase_gaps_cover_all_pairs(spark, sf_dir):
    rows = _queries()["q_agg_purchase_gaps"](spark, sf_dir).collect()
    import duckdb

    n_orders, n_cust = duckdb.sql(
        f"SELECT COUNT(*), COUNT(DISTINCT o_custkey) FROM '{sf_dir}/orders.parquet'"
    ).fetchone()
    assert sum(r["n_gaps"] for r in rows) == n_orders - n_cust
    for r in rows:
        assert r["min_days"] <= r["mean_days"] <= r["max_days"]


def test_growth_accounting_reconciles(spark, sf_dir):
    rows = _queries()["q_agg_growth_accounting"](spark, sf_dir).collect()
    per_q: dict[int, dict[str, int]] = {}
    for r in rows:
        per_q.setdefault(r["q"], {})[r["status"]] = r["revenue_c"]
    import duckdb

    truth = dict(
        duckdb.sql(
            f"""SELECT CAST(YEAR(o_orderdate) AS BIGINT)*10
                + CAST((MONTH(o_orderdate)+2)//3 AS BIGINT),
            SUM(CAST(ROUND(o_totalprice*100) AS BIGINT))
            FROM '{sf_dir}/orders.parquet'
            WHERE YEAR(o_orderdate) IN (1996, 1997) GROUP BY 1"""
        ).fetchall()
    )
    # positive statuses sum to the quarter's actual revenue
    for q, st in per_q.items():
        pos = sum(v for k, v in st.items() if k != "churned")
        assert pos == truth[q]
        assert st.get("churned", 0) <= 0
    # the first quarter has only 'new'
    q0 = min(per_q)
    assert set(per_q[q0]) <= {"new", "churned"}


def test_rolling_corr_bounds_and_recompute(spark, sf_dir):
    rows = _queries()["q_win_rolling_corr"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert -1_000_001 <= r["corr_micro"] <= 1_000_001
        assert r["n"] == 14
    # recompute the last row brute force
    import duckdb

    daily = duckdb.sql(
        f"""SELECT CAST(CAST(ts AS DATE) - DATE '2024-01-01' AS BIGINT) d,
        SUM(CASE WHEN event_type='click' THEN CAST(ROUND(value*100) AS BIGINT) ELSE 0 END) x,
        SUM(CASE WHEN event_type='purchase' THEN CAST(ROUND(value*100) AS BIGINT) ELSE 0 END) y
        FROM '{sf_dir}/events.parquet' GROUP BY 1 ORDER BY 1"""
    ).fetchall()
    last = rows[-1]
    window = [t for t in daily if last["d"] - 13 <= t[0] <= last["d"]]
    n = len(window)
    sx = sum(x for _, x, _ in window)
    sy = sum(y for _, _, y in window)
    sxx = sum(x * x for _, x, _ in window)
    syy = sum(y * y for _, _, y in window)
    sxy = sum(x * y for _, x, y in window)
    corr = (n * sxy - sx * sy) / (
        (n * sxx - sx * sx) ** 0.5 * (n * syy - sy * sy) ** 0.5
    )
    assert abs(last["corr_micro"] / 1e6 - corr) < 2e-6


def test_vocab_overlap_symmetric_truth(spark, sf_dir):
    rows = _queries()["q_text_vocab_overlap"](spark, sf_dir).collect()
    assert rows
    import duckdb

    vocab = duckdb.sql(
        f"""SELECT DISTINCT lang, UNNEST(STRING_SPLIT(TRIM(LOWER(text)), ' ')) w
        FROM '{sf_dir}/documents.parquet'"""
    ).fetchall()
    per: dict[str, set] = {}
    for lang, w in vocab:
        if w:
            per.setdefault(lang, set()).add(w)
    for r in rows:
        a, b = per[r["lang_a"]], per[r["lang_b"]]
        common = len(a & b)
        assert r["common"] == common
        assert r["vocab_a"] == len(a) and r["vocab_b"] == len(b)
        assert r["jaccard_ppm"] == 1_000_000 * common // len(a | b)


def test_dau_mau_full_windows_only(spark, sf_dir):
    rows = _queries()["q_ts_dau_mau"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["dau"] <= r["mau"]
        assert 0 < r["stickiness_ppm"] <= 1_000_000
        assert r["stickiness_ppm"] == 1_000_000 * r["dau"] // r["mau"]
    import duckdb

    probe = rows[0]
    mau_true = duckdb.sql(
        f"""SELECT COUNT(DISTINCT user_id) FROM '{sf_dir}/events.parquet'
        WHERE CAST(CAST(ts AS DATE) - DATE '2024-01-01' AS BIGINT)
              BETWEEN {probe["d"]} - 27 AND {probe["d"]}"""
    ).fetchone()[0]
    assert probe["mau"] == mau_true


def test_watermark_planner_monotone(spark, sf_dir):
    rows = _queries()["q_stream_watermark_planner"](spark, sf_dir).collect()
    assert [r["wm_sec"] for r in rows] == [10, 30, 60, 90, 120]
    drops = [r["n_dropped"] for r in rows]
    assert drops == sorted(drops, reverse=True)
    assert rows[-1]["n_dropped"] == 0  # injected delay capped at 120 s
    assert rows[0]["n_dropped"] > 0  # 10 s watermark must lose events
    # consistency with the event-order audit's shared synthesis
    import hashlib

    import duckdb

    ids = [
        i
        for (i,) in duckdb.sql(
            f"SELECT event_id FROM '{sf_dir}/events.parquet'"
        ).fetchall()
    ]
    dropped_60 = sum(
        1
        for i in ids
        if int(hashlib.md5(f"lag{i}".encode()).hexdigest()[:8], 16)
        % 120_000_000
        > 60_000_000
    )
    assert {r["wm_sec"]: r["n_dropped"] for r in rows}[60] == dropped_60


def test_abc_xyz_matrix_partitions_parts(spark, sf_dir):
    rows = _queries()["q_agg_abc_xyz"](spark, sf_dir).collect()
    import duckdb

    n_parts = duckdb.sql(
        f"SELECT COUNT(DISTINCT l_partkey) FROM '{sf_dir}/lineitem.parquet'"
    ).fetchone()[0]
    assert sum(r["n_parts"] for r in rows) == n_parts
    classes = {(r["abc"], r["xyz"]) for r in rows}
    assert classes <= {(a, x) for a in "ABC" for x in "XYZ"}
    # Pareto sanity: the A band carries the revenue majority
    rev = {}
    for r in rows:
        rev[r["abc"]] = rev.get(r["abc"], 0) + r["revenue_c"]
    assert rev.get("A", 0) > rev.get("C", 0)


def test_changepoint_is_argmin(spark, sf_dir):
    r = _queries()["q_ts_changepoint"](spark, sf_dir).collect()[0]
    import duckdb

    daily = duckdb.sql(
        f"""SELECT CAST(CAST(o_orderdate AS DATE) - DATE '1998-01-01' AS BIGINT) d,
        SUM(CAST(ROUND(o_totalprice, 0) AS BIGINT)) // 1000 v
        FROM '{sf_dir}/orders.parquet'
        WHERE o_orderdate >= TIMESTAMP '1998-01-01' GROUP BY 1 ORDER BY 1"""
    ).fetchall()
    vals = [v for _, v in daily]
    n = len(vals)

    def sse(seg):
        m = sum(seg) / len(seg)
        return sum((x - m) ** 2 for x in seg)

    best = min(
        range(1, n),
        key=lambda i: (sse(vals[:i]) + sse(vals[i:]), daily[i - 1][0]),
    )
    assert r["change_day"] == daily[best - 1][0]
    assert r["n_days"] == n


def test_ess_bounds(spark, sf_dir):
    rows = _queries()["q_stats_ess"](spark, sf_dir).collect()
    assert rows  # vacuousness guard (r9): empty output must fail, not skip
    for r in rows:
        # ESS/n is in (0, 1]; equality only under perfectly equal weights
        assert 0 < r["ess_ratio_micro"] <= 1_000_000
        ess = r["sum_w"] ** 2 / r["sum_w2"]
        assert abs(r["ess_ratio_micro"] / 1e6 - ess / r["n"]) < 1e-4


def test_payload_entropy_matches_bruteforce(spark, sf_dir):
    import math

    rows = {r["media_type"]: r for r in _queries()["q_multimodal_payload_entropy"](spark, sf_dir).collect()}
    import duckdb

    docs = duckdb.sql(
        f"SELECT doc_id, text FROM '{sf_dir}/documents.parquet'"
    ).fetchall()
    per: dict[str, dict[int, int]] = {}
    for doc_id, text in docs:
        mt = ["image/png", "audio/wav", "video/mp4"][doc_id % 3]
        h = per.setdefault(mt, {})
        for b in text.encode("utf-8"):
            h[b] = h.get(b, 0) + 1
    for mt, hist in per.items():
        n = sum(hist.values())
        r = rows[mt]
        assert r["n_bytes"] == n
        assert r["distinct_bytes"] == len(hist)
        expect = round(1e6 * math.log(n)) - (
            sum(c * round(1e6 * math.log(c)) for c in hist.values()) // n
        )
        assert r["entropy_micro_nats"] == expect
        # text payloads sit well inside (0, ln 256)
        assert 0 < r["entropy_micro_nats"] < 5_550_000


def test_cr4_bounds_and_bruteforce(spark, sf_dir):
    rows = _queries()["q_agg_cr4"](spark, sf_dir).collect()
    assert rows
    import duckdb

    raw = duckdb.sql(
        f"""SELECT s.s_nationkey, l.l_suppkey,
        SUM(CAST(ROUND(l.l_extendedprice*100) AS BIGINT))
        FROM '{sf_dir}/lineitem.parquet' l
        JOIN '{sf_dir}/supplier.parquet' s ON l.l_suppkey = s.s_suppkey
        GROUP BY 1, 2"""
    ).fetchall()
    per: dict[int, list[int]] = {}
    for nat, _, rev in raw:
        per.setdefault(nat, []).append(rev)
    for r in rows:
        revs = sorted(per[r["nation"]], reverse=True)
        assert r["n_suppliers"] == len(revs)
        assert r["top4_rev_c"] == sum(revs[:4])
        assert r["total_rev_c"] == sum(revs)
        assert r["cr4_ppm"] == 1_000_000 * sum(revs[:4]) // sum(revs)
        if len(revs) <= 4:
            assert r["cr4_ppm"] == 1_000_000


def test_theil_matches_bruteforce(spark, sf_dir):
    import math

    rows = {r["grp"]: r for r in _queries()["q_agg_theil"](spark, sf_dir).collect()}
    import duckdb

    raw = duckdb.sql(
        f"""SELECT c_mktsegment, CAST(ROUND(c_acctbal*100) AS BIGINT)
        FROM '{sf_dir}/customer.parquet' WHERE c_acctbal > 0"""
    ).fetchall()
    per: dict[str, list[int]] = {}
    for g, x in raw:
        per.setdefault(g, []).append(x)
    for g, xs in per.items():
        n, s = len(xs), sum(xs)
        mu = s / n
        theil = sum((x / s) * math.log(x / mu) for x in xs)
        # micro-rounded log terms introduce <= ~2e-6 nats of slack
        assert abs(rows[g]["theil_micro_nats"] / 1e6 - theil) < 5e-6
        assert rows[g]["theil_micro_nats"] >= 0 or theil < 1e-9


def test_arpu_consistency(spark, sf_dir):
    rows = _queries()["q_agg_arpu"](spark, sf_dir).collect()
    assert rows
    import duckdb

    total_rev, total_purch = duckdb.sql(
        f"""SELECT SUM(CAST(ROUND(value*100) AS BIGINT)), COUNT(*)
        FROM '{sf_dir}/events.parquet' WHERE event_type = 'purchase'"""
    ).fetchone()
    assert sum(r["revenue_c"] for r in rows) == total_rev
    assert sum(r["n_purchases"] for r in rows) == total_purch
    for r in rows:
        assert r["active_users"] <= r["n_purchases"]
        assert r["arpu_c"] == r["revenue_c"] // r["active_users"]


def test_three_way_split_partitions(spark, sf_dir):
    rows = _queries()["q_split_three_way"](spark, sf_dir).collect()
    import duckdb

    langs = dict(
        duckdb.sql(
            f"SELECT lang, COUNT(*) FROM '{sf_dir}/documents.parquet' GROUP BY 1"
        ).fetchall()
    )
    per_lang: dict[str, int] = {}
    for r in rows:
        per_lang[r["lang"]] = per_lang.get(r["lang"], 0) + r["n_docs"]
        assert r["split"] in {"train", "dev", "test"}
        assert r["share_ppm"] == 1_000_000 * r["n_docs"] // langs[r["lang"]]
    assert per_lang == langs
    # train dominates every language
    train = {r["lang"]: r["n_docs"] for r in rows if r["split"] == "train"}
    for lang, n in train.items():
        assert n > langs[lang] // 2


def test_asof_tolerance_matches_bruteforce(spark, sf_dir):
    """q_join_asof_tolerance (r8/r9 block) brute-forced: most-recent
    purchase per click with the 6-hour TTL applied in plain Python —
    matched flag, carried value, and exact microsecond staleness must
    all agree."""
    df = _queries()["q_join_asof_tolerance"](spark, sf_dir)
    got = {
        r["event_id"]: (r["matched"], r["fresh_value"], r["staleness_us"])
        for r in df.collect()
    }
    import duckdb

    clicks = duckdb.sql(
        f"""SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP))
        FROM '{sf_dir}/events.parquet' WHERE event_type='click'"""
    ).fetchall()
    purch = duckdb.sql(
        f"""SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)), value
        FROM '{sf_dir}/events.parquet' WHERE event_type='purchase'"""
    ).fetchall()
    per_user: dict[int, list[tuple[int, float]]] = {}
    for u, t, v in purch:
        per_user.setdefault(u, []).append((t, v))
    for p in per_user.values():
        p.sort()
    assert clicks  # vacuousness guard (r9): empty fixture slice must fail
    assert len(got) == len(clicks)
    ttl = 6 * 3600 * 1_000_000
    for eid, u, t in clicks:
        best = None
        for pt, pv in per_user.get(u, []):
            if pt <= t:
                best = (pt, pv)
            else:
                break
        if best is not None and t - best[0] <= ttl:
            assert got[eid] == (True, best[1], t - best[0]), eid
        else:
            assert got[eid] == (False, None, None), eid


def test_gini_impurity_matches_bruteforce(spark, sf_dir):
    """q_agg_gini (r8/r9 block): exact-rational Gini impurity and
    dominant share recomputed from raw (source, lang) counts."""
    import duckdb

    df = _queries()["q_agg_gini"](spark, sf_dir)
    got = {
        r["source"]: (r["n"], r["n_classes"], r["gini_e6"], r["dominant_e6"])
        for r in df.collect()
    }
    counts = duckdb.sql(
        f"""SELECT source, lang, COUNT(*) FROM
        '{sf_dir}/documents.parquet' GROUP BY 1, 2"""
    ).fetchall()
    per: dict = {}
    for s, _, c in counts:
        per.setdefault(s, []).append(c)
    expect = {}
    for s, cs in per.items():
        n = sum(cs)
        expect[s] = (
            n,
            len(cs),
            (n * n - sum(c * c for c in cs)) * 1_000_000 // (n * n),
            max(cs) * 1_000_000 // n,
        )
    assert got == expect


def test_wilson_ranking_matches_bruteforce(spark, sf_dir):
    """q_rank_wilson (r8/r9 block): winners (integer-cents argmin with
    lowest-suppkey tiebreak), trials, and the Wilson lower bound in the
    documented operation order recomputed driver-side."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    import duckdb

    rows = duckdb.sql(
        f"""SELECT l_partkey, l_suppkey,
        CAST(MIN(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
        FROM '{sf_dir}/lineitem.parquet' GROUP BY 1, 2"""
    ).fetchall()
    by_part: dict = {}
    trials: dict = {}
    for part, supp, cents in rows:
        trials[supp] = trials.get(supp, 0) + 1
        cur = by_part.get(part)
        if cur is None or (cents, supp) < cur:
            by_part[part] = (cents, supp)
    wins: dict = {}
    for _, supp in by_part.values():
        wins[supp] = wins.get(supp, 0) + 1

    def half_up(v):
        return int(
            Decimal(repr(v)).quantize(Decimal("1"), rounding=ROUND_HALF_UP)
        )

    z, z2 = 1.96, 3.8416
    expect = {}
    for supp, n in trials.items():
        w = wins.get(supp, 0)
        nf = float(n)
        p = float(w) / nf
        wilson = (
            p + z2 / (2 * nf) - z * math.sqrt((p * (1 - p) + z2 / (4 * nf)) / nf)
        ) / (1 + z2 / nf)
        expect[supp] = (
            n,
            w,
            half_up(w * 1000000.0 / nf),
            half_up(wilson * 1000000.0),
        )
    got = {
        r["s_suppkey"]: (r["trials"], r["wins"], r["winrate_ppm"],
                         r["wilson_lb_ppm"])
        for r in _queries()["q_rank_wilson"](spark, sf_dir).collect()
    }
    assert got == expect


def test_cardinality_sketch_exact_and_guarantees(spark, sf_dir):
    """q_join_cardinality_sketch (r8/r9 block): the exact M:N join
    cardinality recomputed from raw lineitem driver-side, and the two
    CMS guarantees (overcount, eps bound) must both hold."""
    import duckdb

    (row,) = _queries()["q_join_cardinality_sketch"](spark, sf_dir).collect()
    counts = duckdb.sql(
        f"""SELECT l_partkey,
        COUNT(*) AS ca,
        COUNT(CASE WHEN l_returnflag = 'R' THEN 1 END) AS cb
        FROM '{sf_dir}/lineitem.parquet' GROUP BY 1"""
    ).fetchall()
    exact = sum(ca * cb for _, ca, cb in counts)
    n_left = sum(ca for _, ca, _ in counts)
    n_right = sum(cb for _, _, cb in counts)
    assert (row["n_left"], row["n_right"], row["exact_card"]) == (
        n_left,
        n_right,
        exact,
    )
    assert row["est_ge_exact"] is True
    assert row["within_eps"] is True


def test_sql_udf_inlined_charge_matches_bruteforce(spark, sf_dir):
    """q_fn_sql_udf (r8/r9 block): the SQL-function charge recomputed
    per row in Python with the identical IEEE operation order and
    half-up scale-0 rounding, summed exactly per returnflag."""
    from decimal import ROUND_HALF_UP, Decimal

    import duckdb

    rows = duckdb.sql(
        f"""SELECT l_returnflag, l_extendedprice, l_discount, l_tax
        FROM '{sf_dir}/lineitem.parquet'"""
    ).fetchall()
    expect: dict = {}
    for rf, p, d, t in rows:
        cents = int(
            Decimal(repr(p * (1.0 - d) * (1.0 + t) * 100)).quantize(
                Decimal("1"), rounding=ROUND_HALF_UP
            )
        )
        e = expect.setdefault(rf, [0, 0])
        e[0] += cents
        e[1] += 1
    got = {
        r["l_returnflag"]: (r["charge_cents"], r["n_items"])
        for r in _queries()["q_fn_sql_udf"](spark, sf_dir).collect()
    }
    assert got == {k: tuple(v) for k, v in expect.items()}
