"""Invariant tests for operators/validation.py and the round-4
interval/peak/survival additions, beyond DuckDB parity.

Parity (tests/test_oracle_parity.py and the driver) proves Spark ==
DuckDB; these prove both are RIGHT by recomputing each result with
plain Python (hashlib md5, exhaustive interval merging, a textbook
Kaplan-Meier product) over the same parquet rows.
"""

from __future__ import annotations

import hashlib
import math
from collections import defaultdict

from json_parquet_convertor_spark import registry

registry.load_all()


def _md5_low64_le(s: str) -> int:
    """Little-endian interpretation of md5 digest bytes 8..15 — the
    convention shared by DuckDB's md5_number_lower and the Spark twin."""
    return int.from_bytes(hashlib.md5(s.encode()).digest()[8:16], "little")


def test_checksum_matches_hashlib_and_is_order_free(spark, duck, sf_dir):
    """row_checksum must equal a hashlib recomputation over rows fetched
    in DuckDB's (arbitrary) order — proving both the digest twin and the
    order-insensitivity of the sum."""
    rows = duck.execute(
        "SELECT l_returnflag, l_orderkey, l_linenumber,"
        " CAST(l_quantity AS BIGINT),"
        " CAST(floor(epoch(CAST(l_shipdate AS TIMESTAMP))) AS BIGINT)"
        " FROM lineitem"
    ).fetchall()
    expected_sum: dict[str, int] = defaultdict(int)
    expected_n: dict[str, int] = defaultdict(int)
    for flag, ok, ln, qty, ship in rows:
        expected_sum[flag] += _md5_low64_le(f"{ok}|{ln}|{qty}|{ship}")
        expected_n[flag] += 1
    got = {
        r.l_returnflag: (r.n_rows, r.row_checksum)
        for r in registry.QUERIES["q_checksum_table"](spark, sf_dir).collect()
    }
    assert got == {
        f: (expected_n[f], expected_sum[f] % 10**18) for f in expected_n
    }


def test_qc_expectations_all_pass_on_clean_fixture(spark, sf_dir):
    """The driver fixtures satisfy every contract rule; each rule row
    must report 0 violations with the full checked count."""
    rows = registry.QUERIES["q_qc_expectations"](spark, sf_dir).collect()
    assert len(rows) == 7
    by_rule = {r.rule: r for r in rows}
    assert all(r.passed and r.n_violations == 0 for r in rows), by_rule
    # orders rules all checked the same row count; same for lineitem
    o_n = {r.n_checked for n, r in by_rule.items() if n.startswith("orders.")}
    l_n = {
        r.n_checked for n, r in by_rule.items() if n.startswith("lineitem.")
    }
    assert len(o_n) == 1 and len(l_n) == 1
    assert o_n.pop() > 0 and l_n.pop() > 0


def test_seq_gaps_matches_bruteforce(spark, duck, sf_dir):
    keys = sorted(
        k
        for (k,) in duck.execute(
            "SELECT o_orderkey FROM orders WHERE o_orderstatus = 'F'"
        ).fetchall()
    )
    gaps = [
        (a + 1, b - 1, b - a - 1)
        for a, b in zip(keys, keys[1:])
        if b - a > 1
    ]
    expected = sorted(gaps, key=lambda g: (-g[2], g[0]))[:100]
    got = [
        (r.gap_start, r.gap_end, r.gap_len)
        for r in registry.QUERIES["q_seq_gaps"](spark, sf_dir).collect()
    ]
    assert got == expected


def _merge(intervals):
    merged = []
    for s, e in sorted(intervals):
        if merged and s <= merged[-1][1]:
            merged[-1][1] = max(merged[-1][1], e)
        else:
            merged.append([s, e])
    return merged


def test_interval_merge_matches_bruteforce(spark, duck, sf_dir):
    rows = duck.execute(
        "SELECT user_id, CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT),"
        " greatest(1, CAST(floor(value) AS BIGINT)) FROM events"
    ).fetchall()
    per_user = defaultdict(list)
    for uid, s, d in rows:
        per_user[uid].append((s, s + d))
    got = {
        r.user_id: (r.n_intervals, r.n_merged, r.coverage_sec, r.longest_sec)
        for r in registry.QUERIES["q_interval_merge"](spark, sf_dir).collect()
    }
    assert set(got) == set(per_user)
    for uid, iv in per_user.items():
        m = _merge(iv)
        spans = [e - s for s, e in m]
        assert got[uid] == (len(iv), len(m), sum(spans), max(spans)), uid


def test_win_peaks_matches_bruteforce(spark, duck, sf_dir):
    rows = duck.execute(
        "SELECT event_type,"
        " CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 86400) AS BIGINT), value"
        " FROM events"
    ).fetchall()
    daily = defaultdict(float)
    for et, day, v in rows:
        daily[(et, day)] += v
    series = defaultdict(dict)
    for (et, day), v in daily.items():
        series[et][day] = v
    expected = {}
    for et, by_day in series.items():
        days = sorted(by_day)
        for p, cur, n in zip(days, days[1:], days[2:]):
            # lag/lead semantics: neighbors are adjacent SERIES points
            # (sorted observed days), not adjacent calendar days
            v, pv, nv = by_day[cur], by_day[p], by_day[n]
            if v > pv and v > nv:
                expected[(et, cur)] = (v, v - max(pv, nv))
    got = {
        (r.event_type, r.day): (r.v, r.prominence)
        for r in registry.QUERIES["q_win_peaks"](spark, sf_dir).collect()
    }
    assert set(got) == set(expected)
    for k, (v, prom) in expected.items():
        assert math.isclose(got[k][0], v, abs_tol=2e-4), k
        assert math.isclose(got[k][1], prom, abs_tol=2e-4), k


def test_survival_km_matches_textbook(spark, duck, sf_dir):
    """Recompute the product-limit estimate the textbook way (sequential
    product over event times) and check every curve point."""
    rows = duck.execute(
        """
        SELECT o.o_orderpriority,
               CAST(floor(epoch(CAST(l.ship AS TIMESTAMP)) / 86400) AS BIGINT)
                 - CAST(floor(epoch(CAST(o.o_orderdate AS TIMESTAMP)) / 86400)
                        AS BIGINT),
               o.o_orderstatus = 'F'
        FROM orders o
        JOIN (SELECT l_orderkey, MAX(l_shipdate) AS ship
              FROM lineitem GROUP BY 1) l
          ON l.l_orderkey = o.o_orderkey
        """
    ).fetchall()
    cohorts = defaultdict(list)
    for prio, t, obs in rows:
        cohorts[prio].append((t, bool(obs)))
    got = {
        (r.priority, r.t): (r.n_risk, r.n_event, r.n_censored, r.survival)
        for r in registry.QUERIES["q_survival_km"](spark, sf_dir).collect()
    }
    n_points = 0
    for prio, subjects in cohorts.items():
        at_t = defaultdict(lambda: [0, 0])
        for t, obs in subjects:
            at_t[t][0 if obs else 1] += 1
        n = len(subjects)
        s = 1.0
        for t in sorted(at_t):
            d, c = at_t[t]
            if 0 < d < n:
                s *= 1.0 - d / n
            expect_s = 0.0 if d == n else math.floor(s * 10000 + 0.5) / 10000
            if d == n:
                s = 0.0
            assert got[(prio, t)] == (n, d, c) + (got[(prio, t)][3],)
            assert math.isclose(
                got[(prio, t)][3], expect_s, abs_tol=1e-9
            ), (prio, t)
            n -= d + c
            n_points += 1
    assert n_points == len(got)


# ---------------------------------------------------------------------------
# round-4 batch 2: dense ids, PIT join, Poisson bootstrap, rolling corr
# ---------------------------------------------------------------------------


def test_id_dense_matches_global_enumeration(spark, duck, sf_dir):
    keys = sorted(
        k
        for (k,) in duck.execute(
            "SELECT DISTINCT c_custkey FROM customer c"
            " JOIN orders o ON o.o_custkey = c.c_custkey"
        ).fetchall()
    )
    expected = {k: i for i, k in enumerate(keys)}
    got = {
        r.c_custkey: r.dense_id
        for r in registry.QUERIES["q_id_dense"](spark, sf_dir).collect()
    }
    assert got == expected


def test_join_point_in_time_matches_bruteforce(spark, duck, sf_dir):
    import bisect

    dim_rows = duck.execute(
        "SELECT o_custkey,"
        " CAST(floor(epoch(CAST(o_orderdate AS TIMESTAMP))/86400) AS BIGINT),"
        " max_by(o_orderpriority, o_orderkey)"
        " FROM orders GROUP BY 1, 2"
    ).fetchall()
    versions = defaultdict(list)
    for ck, d, st in dim_rows:
        versions[ck].append((d, st))
    for v in versions.values():
        v.sort()
    fact_rows = duck.execute(
        "SELECT l.l_orderkey, l.l_linenumber, o.o_custkey,"
        " CAST(floor(epoch(CAST(l.l_shipdate AS TIMESTAMP))/86400) AS BIGINT)"
        " FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey"
    ).fetchall()
    got = sorted(
        (r.l_orderkey, r.l_linenumber, r.custkey, r.ship_day, r.state_asof)
        for r in registry.QUERIES["q_join_point_in_time"](
            spark, sf_dir
        ).collect()
    )
    # (orderkey, linenumber) is NOT unique in the synthetic fixture —
    # compare full multisets, not a keyed dict
    expected = []
    for ok, ln, ck, sd in fact_rows:
        vs = versions[ck]
        i = bisect.bisect_right([d for d, _ in vs], sd) - 1
        expected.append((ok, ln, ck, sd, vs[i][1] if i >= 0 else None))
    assert got == sorted(expected)


def test_sample_bootstrap_matches_python_resampling(spark, duck, sf_dir):
    """Replicate means and trimmed CI recomputed with the same hash chain
    and Poisson inverse-CDF in pure Python."""
    from json_parquet_convertor_spark.exact import ID_MIX
    from json_parquet_convertor_spark.operators.sampling import (
        _BOOT_B,
        _BOOT_MIX2,
        _POIS_CDF,
    )

    rows = duck.execute(
        "SELECT l_returnflag, l_orderkey * 8 + l_linenumber,"
        " CAST(l_extendedprice AS DECIMAL(18,4)) FROM lineitem"
    ).fetchall()
    sums = defaultdict(lambda: [0, 0])  # (flag, b) -> [sum_wx, sum_w]
    point = defaultdict(lambda: [0, 0])  # flag -> [sum_x, n]
    for flag, rid, price in rows:
        point[flag][0] += price
        point[flag][1] += 1
        for b in range(_BOOT_B):
            h1 = (rid * ID_MIX + b * _BOOT_MIX2) % 1000003
            u = (h1 * ID_MIX) % 1000000 / 1000000.0
            w = next(
                (k for k, c in enumerate(_POIS_CDF) if u < c), 8
            )
            if w:
                sums[(flag, b)][0] += w * price
                sums[(flag, b)][1] += w
    q4 = lambda v: math.floor(float(v) * 10000 + 0.5) / 10000  # noqa: E731
    got = {
        r.l_returnflag: (r.mean_price, r.ci_lo, r.ci_hi, r.n_replicates)
        for r in registry.QUERIES["q_sample_bootstrap"](
            spark, sf_dir
        ).collect()
    }
    for flag, (sx, n) in point.items():
        means = sorted(
            (float(sums[(flag, b)][0]) / sums[(flag, b)][1], b)
            for b in range(_BOOT_B)
        )
        expected = (
            q4(float(sx) / n),
            q4(means[1][0]),
            q4(means[_BOOT_B - 2][0]),
            _BOOT_B,
        )
        assert got[flag] == expected, flag


def test_rolling_corr_matches_python(spark, duck, sf_dir):
    rows = duck.execute(
        "SELECT CAST(floor(epoch(CAST(ts AS TIMESTAMP))/86400) AS BIGINT),"
        " event_type, value FROM events"
        " WHERE event_type IN ('click', 'purchase')"
    ).fetchall()
    daily = defaultdict(lambda: [0.0, 0.0])
    for d, et, v in rows:
        daily[d][0 if et == "click" else 1] += v
    days = sorted(daily)
    got = {
        r.day: (r.n_days, r.rolling_corr)
        for r in registry.QUERIES["q_stats_rolling_corr"](
            spark, sf_dir
        ).collect()
    }
    assert set(got) == set(days)
    for i, d in enumerate(days):
        win = days[max(0, i - 13) : i + 1]
        xs = [daily[dd][0] for dd in win]
        ys = [daily[dd][1] for dd in win]
        n = len(win)
        assert got[d][0] == n
        sx, sy = sum(xs), sum(ys)
        vx = n * sum(x * x for x in xs) - sx * sx
        vy = n * sum(y * y for y in ys) - sy * sy
        if n >= 7 and vx > 0 and vy > 0:
            r = (n * sum(x * y for x, y in zip(xs, ys)) - sx * sy) / (
                math.sqrt(vx) * math.sqrt(vy)
            )
            assert got[d][1] is not None
            assert math.isclose(got[d][1], r, abs_tol=2e-4), d
        else:
            assert got[d][1] is None, d


# ---------------------------------------------------------------------------
# round-4 batch 3: PMI collocations, seasonal anomaly, 2-D histogram
# ---------------------------------------------------------------------------


def test_collocations_match_python_pmi(spark, duck, sf_dir):
    texts = [t for (t,) in duck.execute("SELECT text FROM documents").fetchall()]
    cnt = defaultdict(int)
    for t in texts:
        toks = t.split(" ")
        for a, b in zip(toks, toks[1:]):
            cnt[(a, b)] += 1
    m = sum(cnt.values())
    c1, c2 = defaultdict(int), defaultdict(int)
    for (a, b), c in cnt.items():
        c1[a] += c
        c2[b] += c
    scored = sorted(
        (
            (
                -math.log((c / m) / ((c1[a] / m) * (c2[b] / m))),
                a,
                b,
                c,
            )
            for (a, b), c in cnt.items()
            if c >= 5
        ),
    )[:50]
    expected = [
        (a, b, c, math.floor(-neg * 10000 + 0.5) / 10000)
        for neg, a, b, c in scored
    ]
    got = [
        (r.w1, r.w2, r.cnt, r.pmi)
        for r in registry.QUERIES["q_text_collocations"](
            spark, sf_dir
        ).collect()
    ]
    assert sorted(got) == sorted(expected)
    # and PMI actually ranks association: every returned pair beats
    # independence or at least is finite
    assert all(isinstance(p, float) for *_x, p in got)


def test_anomaly_seasonal_matches_python(spark, duck, sf_dir):
    from decimal import Decimal

    rows = duck.execute(
        "SELECT event_type,"
        " CAST(floor(epoch(CAST(ts AS TIMESTAMP))/86400) AS BIGINT), value"
        " FROM events"
    ).fetchall()
    daily = defaultdict(Decimal)
    for et, d, v in rows:
        daily[(et, d)] += Decimal(str(round(v, 4)))
    vc = {k: int(v * 10000) for k, v in daily.items()}

    def median(vals):
        vals = sorted(vals)
        n = len(vals)
        mid = n // 2
        return (
            float(vals[mid])
            if n % 2
            else (vals[mid - 1] + vals[mid]) / 2.0
        )

    cohorts = defaultdict(list)
    for (et, d), v in vc.items():
        cohorts[(et, (d + 4) % 7)].append(v)
    med = {k: median(v) for k, v in cohorts.items()}
    devs = defaultdict(list)
    for (et, d), v in vc.items():
        devs[(et, (d + 4) % 7)].append(abs(v - med[(et, (d + 4) % 7)]))
    mad = {k: median(v) for k, v in devs.items()}
    got = {
        (r.event_type, r.day): (r.dow, r.value, r.dow_median, r.is_anomaly)
        for r in registry.QUERIES["q_anomaly_seasonal"](
            spark, sf_dir
        ).collect()
    }
    assert set(got) == set(vc)
    for (et, d), v in vc.items():
        dow = (d + 4) % 7
        m, s = med[(et, dow)], mad[(et, dow)]
        dev = abs(v - m)
        expect = (
            dow,
            round(v / 10000, 4),
            round(m / 10000, 4),
            s > 0 and dev > 3.0 * 1.4826 * s,
        )
        assert got[(et, d)] == expect, (et, d)


def test_hist2d_bins_and_totals(spark, duck, sf_dir):
    rows = duck.execute(
        "SELECT l_quantity, l_discount, l_extendedprice FROM lineitem"
    ).fetchall()
    from decimal import Decimal

    cells = defaultdict(lambda: [0, Decimal(0)])
    for q, disc, p in rows:
        qb = min((round(q) - 1) * 2 // 10, 9)
        db = min(round(disc * 100) // 2, 4)
        cells[(qb, db)][0] += 1
        cells[(qb, db)][1] += Decimal(str(round(p, 4)))
    got = {
        (r.qty_bin, r.disc_bin): (r.n, r.revenue)
        for r in registry.QUERIES["q_agg_hist2d"](spark, sf_dir).collect()
    }
    assert set(got) == set(cells)
    assert sum(n for n, _ in got.values()) == len(rows)
    for k, (n, rev) in cells.items():
        assert got[k][0] == n, k
        assert math.isclose(got[k][1], float(rev), abs_tol=1e-6), k


# ---------------------------------------------------------------------------
# round-4 batch 4: entity resolution, cohort LTV, PoP growth
# ---------------------------------------------------------------------------


def test_er_pipeline_matches_python_union_find(spark, duck, sf_dir):
    """Recompute blocking + Levenshtein + connected components with a
    pure-Python union-find and check every golden record."""
    rows = duck.execute(
        "SELECT p_partkey, p_name, p_retailprice FROM part"
    ).fetchall()

    def lev(s, t):
        prev = list(range(len(t) + 1))
        for i, cs in enumerate(s, 1):
            cur = [i]
            for j, ct in enumerate(t, 1):
                cur.append(
                    min(prev[j] + 1, cur[j - 1] + 1,
                        prev[j - 1] + (cs != ct))
                )
            prev = cur
        return prev[-1]

    parent = {k: k for k, _n, _p in rows}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    blocks = defaultdict(list)
    for k, name, _p in rows:
        blocks[name.rsplit(" ", 1)[-1]].append((k, name))
    for members in blocks.values():
        for i, (ka, na) in enumerate(members):
            for kb, nb in members[i + 1 :]:
                if lev(na, nb) <= 2:
                    ra, rb = find(ka), find(kb)
                    if ra != rb:
                        parent[max(ra, rb)] = min(ra, rb)
    entities = defaultdict(list)
    for k, name, price in rows:
        entities[find(k)].append((k, name, price))
    expected = {}
    for members in entities.values():
        members.sort()
        eid = members[0][0]
        prices = [round(p * 100) for _k, _n, p in members]
        expected[eid] = (
            len(members),
            members[0][1],
            (max(prices) - min(prices)) / 100.0,
        )
    got = {
        r.entity_id: (r.n_records, r.canonical_name, r.price_spread)
        for r in registry.QUERIES["q_er_pipeline"](spark, sf_dir).collect()
    }
    assert set(got) == set(expected)
    for eid, (n, name, spread) in expected.items():
        assert got[eid][0] == n and got[eid][1] == name, eid
        assert math.isclose(got[eid][2], spread, abs_tol=1e-9), eid


def test_cohort_ltv_matches_python(spark, duck, sf_dir):
    from decimal import Decimal

    rows = duck.execute(
        "SELECT user_id,"
        " CAST(floor(epoch(CAST(ts AS TIMESTAMP))/604800) AS BIGINT), value"
        " FROM events WHERE event_type = 'purchase'"
    ).fetchall()
    first = {}
    for uid, wk, _v in rows:
        first[uid] = min(first.get(uid, wk), wk)
    cells = defaultdict(Decimal)
    for uid, wk, v in rows:
        cells[(first[uid], wk - first[uid])] += Decimal(str(round(v, 4)))
    sizes = defaultdict(int)
    for uid, c0 in first.items():
        sizes[c0] += 1
    got = {
        (r.cohort_week, r.week_offset): (
            r.n_users,
            r.cum_revenue,
            r.ltv_per_user,
        )
        for r in registry.QUERIES["q_cohort_ltv"](spark, sf_dir).collect()
    }
    assert set(got) == set(cells)
    for c0 in sizes:
        cum = Decimal(0)
        for off in sorted(o for c, o in cells if c == c0):
            cum += cells[(c0, off)]
            n, got_cum, got_ltv = got[(c0, off)]
            assert n == sizes[c0]
            assert math.isclose(got_cum, float(cum), abs_tol=1e-6)
            assert got_ltv == math.floor(
                float(cum) / n * 10000 + 0.5
            ) / 10000, (c0, off)


def test_win_growth_matches_python(spark, duck, sf_dir):
    from decimal import Decimal

    rows = duck.execute(
        "SELECT event_type,"
        " CAST(floor(epoch(CAST(ts AS TIMESTAMP))/86400) AS BIGINT), value"
        " FROM events"
    ).fetchall()
    daily = defaultdict(Decimal)
    for et, d, v in rows:
        daily[(et, d)] += Decimal(str(round(v, 4)))
    got = {
        (r.event_type, r.day): (r.revenue, r.growth_dod, r.growth_wow)
        for r in registry.QUERIES["q_win_growth"](spark, sf_dir).collect()
    }
    assert set(got) == set(daily)
    for (et, d), v in daily.items():
        rev, dod, wow = got[(et, d)]
        assert math.isclose(rev, float(v), abs_tol=1e-6)
        for n, g in ((1, dod), (7, wow)):
            prev = daily.get((et, d - n))
            if prev is not None and prev > 0:
                expect = (
                    math.floor((float(v) / float(prev) - 1) * 10000 + 0.5)
                    / 10000
                )
                assert g == expect, (et, d, n)
            else:
                assert g is None, (et, d, n)


# ---------------------------------------------------------------------------
# round-4 batch 5: user paths, skyline, daily percentiles
# ---------------------------------------------------------------------------


def test_seq_paths_matches_python(spark, duck, sf_dir):
    rows = duck.execute(
        "SELECT user_id, event_type,"
        " epoch_us(CAST(ts AS TIMESTAMP)), event_id FROM events"
    ).fetchall()
    per_user = defaultdict(list)
    for uid, et, us, eid in rows:
        per_user[uid].append((us, eid, et))
    counts = defaultdict(int)
    for uid, evs in per_user.items():
        evs.sort()
        counts[">".join(et for _u, _e, et in evs[:5])] += 1
    expected = sorted(
        ((-n, p) for p, n in counts.items())
    )[:20]
    got = [
        (-r.n_users, r.path)
        for r in registry.QUERIES["q_seq_paths"](spark, sf_dir).collect()
    ]
    assert got == expected


def test_skyline_matches_bruteforce(spark, duck, sf_dir):
    rows = duck.execute(
        "SELECT p_partkey, CAST(round(p_retailprice * 100, 0) AS BIGINT),"
        " p_size FROM part"
    ).fetchall()
    frontier = {
        k
        for k, pc, sz in rows
        if not any(
            (pc2 <= pc and sz2 <= sz and (pc2 < pc or sz2 < sz))
            for _k2, pc2, sz2 in rows
        )
    }
    got = {
        r.p_partkey
        for r in registry.QUERIES["q_skyline_pareto"](spark, sf_dir).collect()
    }
    assert got == frontier
    # frontier sanity: sorted by price, sizes strictly decrease
    pts = sorted(
        (pc, sz) for k, pc, sz in rows if k in frontier
    )
    assert all(b[1] < a[1] or (a[0] == b[0] and a[1] == b[1])
               for a, b in zip(pts, pts[1:]))


def test_percentile_daily_matches_python(spark, duck, sf_dir):
    rows = duck.execute(
        "SELECT CAST(floor(epoch(CAST(ts AS TIMESTAMP))/86400) AS BIGINT),"
        " CAST(round(value * 10000, 0) AS BIGINT) FROM events"
    ).fetchall()
    days = defaultdict(list)
    for d, vc in rows:
        days[d].append(vc)

    def pct(vals, p):
        vals = sorted(vals)
        idx = (len(vals) - 1) * p
        lo, hi = int(math.floor(idx)), int(math.ceil(idx))
        v = vals[lo] + (vals[hi] - vals[lo]) * (idx - lo)
        return math.floor(v / 10000 * 10000 + 0.5) / 10000

    got = {
        r.day: (r.n, r.p50, r.p95, r.p99)
        for r in registry.QUERIES["q_agg_percentile_daily"](
            spark, sf_dir
        ).collect()
    }
    assert set(got) == set(days)
    for d, vals in days.items():
        n, p50, p95, p99 = got[d]
        assert n == len(vals)
        for p, g in ((0.5, p50), (0.95, p95), (0.99, p99)):
            assert math.isclose(g, pct(vals, p), abs_tol=2e-4), (d, p)


# ---------------------------------------------------------------------------
# round-4 batch 6: k-anonymity, Wilson intervals
# ---------------------------------------------------------------------------


def test_privacy_kanon_matches_python(spark, duck, sf_dir):
    rows = duck.execute(
        "SELECT c_nationkey, c_mktsegment,"
        " CAST(least(floor(c_acctbal / 1000), 9) AS BIGINT) FROM customer"
    ).fetchall()
    classes = defaultdict(int)
    for key in rows:
        classes[key] += 1
    grps = list(classes.values())
    r = registry.QUERIES["q_privacy_kanon"](spark, sf_dir).collect()[0]
    assert r.k_anonymity == min(grps)
    assert r.n_classes == len(grps)
    assert r.classes_below_5 == sum(1 for g in grps if g < 5)
    assert r.customers_at_risk == sum(g for g in grps if g < 5)
    total = sum(grps)
    coll = sum(g * g for g in grps) / (total * total)
    assert math.isclose(
        r.reid_collision_rate,
        math.floor(coll * 10000 + 0.5) / 10000,
        abs_tol=1e-9,
    )


def test_stats_wilson_matches_statsmodels_formula(spark, duck, sf_dir):
    rows = duck.execute(
        "SELECT event_type, count(*),"
        " count(*) FILTER (WHERE value > 100.0) FROM events GROUP BY 1"
    ).fetchall()
    got = {
        r.event_type: (r.n, r.k, r.p_hat, r.ci_lo, r.ci_hi)
        for r in registry.QUERIES["q_stats_wilson"](spark, sf_dir).collect()
    }
    z = 1.96
    for et, n, k in rows:
        p = k / n
        denom = 1 + z * z / n
        center = (p + z * z / (2 * n)) / denom
        half = (z / denom) * math.sqrt(
            p * (1 - p) / n + z * z / (4.0 * n * n)
        )
        q4 = lambda x: math.floor(x * 10000 + 0.5) / 10000  # noqa: E731
        gn, gk, gp, glo, ghi = got[et]
        assert (gn, gk) == (n, k)
        assert math.isclose(gp, q4(p), abs_tol=1e-9)
        assert math.isclose(glo, q4(center - half), abs_tol=2e-4)
        assert math.isclose(ghi, q4(center + half), abs_tol=2e-4)
        # CI must contain the point estimate and sit inside [0, 1]
        assert 0 <= glo <= gp <= ghi <= 1


def test_stream_quality_gate_partitions_input(spark, duck, sf_dir):
    """good + quarantine must partition the input exactly: per-flag rows
    and quantity totals reconcile with the static table."""
    rows = duck.execute(
        "SELECT l_returnflag, count(*), SUM(CAST(l_quantity AS BIGINT)),"
        " count(*) FILTER (WHERE l_quantity <= 45)"
        " FROM lineitem GROUP BY 1"
    ).fetchall()
    got = defaultdict(dict)
    for r in registry.QUERIES["q_stream_quality_gate"](
        spark, sf_dir
    ).collect():
        got[r.l_returnflag][r.sink] = (r.n_rows, r.total_qty)
    for flag, n, qty, n_good in rows:
        sinks = got[flag]
        assert sinks["good"][0] == n_good
        assert sinks.get("quarantine", (0, 0))[0] == n - n_good
        assert sum(s[1] for s in sinks.values()) == qty


# ---------------------------------------------------------------------------
# round-4 batch 8: Q7 composite, user feature matrix
# ---------------------------------------------------------------------------


def test_composite_q7_directions_and_totals(spark, duck, sf_dir):
    """Both trade directions present; revenue reconciles with a direct
    recomputation per (direction, year)."""
    rows = duck.execute(
        """
        SELECT n1.n_name, n2.n_name,
               CAST(floor(epoch(CAST(l_shipdate AS TIMESTAMP))
                          / 86400 / 365.25) AS BIGINT),
               l_extendedprice, l_discount
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
        WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
           OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
        """
    ).fetchall()
    from decimal import Decimal

    expected = defaultdict(Decimal)
    for sn, cn, yr, p, disc in rows:
        expected[(sn, cn, yr)] += Decimal(str(round(p, 2))) * (
            1 - Decimal(str(round(disc, 2)))
        )
    got = {
        (r.supp_nation, r.cust_nation, r.ship_year): r.revenue
        for r in registry.QUERIES["q_composite_q7"](spark, sf_dir).collect()
    }
    assert set(got) == set(expected)
    if got:  # tiny fixtures may have no qualifying nation-pair shipments
        assert {d for d, _c, _y in got} <= {"NATION_1", "NATION_2"}
    for k, rev in expected.items():
        assert math.isclose(got[k], float(rev), abs_tol=1e-6), k


def test_user_features_matches_python(spark, duck, sf_dir):
    from decimal import Decimal
    from fractions import Fraction

    rows = duck.execute(
        "SELECT user_id,"
        " CAST(floor(epoch(CAST(ts AS TIMESTAMP))/86400) AS BIGINT), value"
        " FROM events"
    ).fetchall()
    daily_v = defaultdict(Decimal)
    daily_n = defaultdict(int)
    for uid, d, v in rows:
        daily_v[(uid, d)] += Decimal(str(round(v, 4)))
        daily_n[(uid, d)] += 1
    horizon = max(d for _u, d in daily_v)
    users = defaultdict(list)
    for (uid, d), v in daily_v.items():
        users[uid].append((d, v))
    got = {
        r.user_id: r
        for r in registry.QUERIES["q_user_features"](spark, sf_dir).collect()
    }
    assert set(got) == set(users)
    for uid, pts in users.items():
        days = [d for d, _v in pts]
        n = len(pts)
        sx = sum(Fraction(d) for d in days)
        sy = sum(Fraction(v) for _d, v in pts)
        sxy = sum(Fraction(d) * Fraction(v) for d, v in pts)
        sxx = sum(Fraction(d) * Fraction(d) for d in days)
        num, den = n * sxy - sx * sy, n * sxx - sx * sx
        r = got[uid]
        assert r.active_days == n
        assert r.n_events == sum(daily_n[(uid, d)] for d in days)
        assert r.recency_days == horizon - max(days)
        assert r.tenure_days == max(days) - min(days)
        total = float(sum(v for _d, v in pts))
        assert math.isclose(
            r.total_value, math.floor(total * 10000 + 0.5) / 10000,
            abs_tol=2e-4,
        )
        if den > 0:
            assert math.isclose(
                r.value_slope,
                math.floor(float(num) / float(den) * 10000 + 0.5) / 10000,
                abs_tol=2e-4,
            ), uid
        else:
            assert r.value_slope == 0.0


def test_udtf_python_matches_python(spark, duck, sf_dir):
    texts = duck.execute("SELECT doc_id, text FROM documents").fetchall()
    expected = set()
    for did, t in texts:
        toks = t.split(" ")
        for i in range(min(len(toks) - 1, 3)):
            expected.add((did, i + 1, f"{toks[i]}_{toks[i + 1]}"))
    got = {
        (r.doc_id, r.pos, r.bigram)
        for r in registry.QUERIES["q_udtf_python"](spark, sf_dir).collect()
    }
    assert got == expected


# ---------------------------------------------------------------------------
# round-4 batch 9: paragraph dedup, power analysis
# ---------------------------------------------------------------------------


def test_dedup_paragraph_matches_python(spark, duck, sf_dir):
    texts = duck.execute("SELECT doc_id, text FROM documents").fetchall()
    units = defaultdict(set)  # sentence -> set of docs
    per_doc = {}
    for did, t in texts:
        sents = [s for s in t.split(". ") if len(s) >= 10]
        per_doc[did] = sents
        for s in sents:
            units[s].add(did)
    got = {
        r.doc_id: (r.n_sents, r.n_dup_sents, r.dup_share, r.drop_doc)
        for r in registry.QUERIES["q_text_dedup_paragraph"](
            spark, sf_dir
        ).collect()
    }
    expected_docs = {d for d, sents in per_doc.items() if sents}
    assert set(got) == expected_docs
    for did, sents in per_doc.items():
        if not sents:
            continue
        n_dup = sum(1 for s in sents if len(units[s]) >= 3)
        share = n_dup / len(sents)
        assert got[did][0] == len(sents), did
        assert got[did][1] == n_dup, did
        assert math.isclose(
            got[did][2], math.floor(share * 10000 + 0.5) / 10000,
            abs_tol=1e-9,
        )
        assert got[did][3] == (share > 0.3), did


def test_stats_power_matches_python(spark, duck, sf_dir):
    from decimal import Decimal

    rows = duck.execute(
        "SELECT event_type, value FROM events"
    ).fetchall()
    groups = defaultdict(list)
    for et, v in rows:
        groups[et].append(Decimal(str(round(v, 4))))
    got = {
        r.event_type: r
        for r in registry.QUERIES["q_stats_power"](spark, sf_dir).collect()
    }
    for et, vals in groups.items():
        n = len(vals)
        s, q = sum(vals), sum(v * v for v in vals)
        mean = float(s) / n
        var = float(n * q - s * s) / n / (n - 1)
        delta = mean * 0.05
        n_req = math.ceil(2.0 * (1.96 + 0.8416) ** 2 * var / delta**2)
        r = got[et]
        assert r.n_observed == n
        assert math.isclose(r.mean, math.floor(mean * 10000 + 0.5) / 10000,
                            abs_tol=2e-4)
        assert math.isclose(r.variance,
                            math.floor(var * 10000 + 0.5) / 10000,
                            abs_tol=2e-4)
        assert abs(r.n_required_per_arm - n_req) <= 1  # ceil ulp guard
        # sanity: detecting a smaller effect needs more samples
        assert r.n_required_per_arm > 0


# ---------------------------------------------------------------------------
# round-4 batch 11: backlog aging, step transitions, keyword extraction
# ---------------------------------------------------------------------------


def test_orders_backlog_matches_python(spark, duck, sf_dir):
    rows = duck.execute(
        "SELECT o_orderpriority, o_orderstatus,"
        " CAST(floor(epoch(CAST(o_orderdate AS TIMESTAMP))/86400) AS BIGINT),"
        " o_totalprice FROM orders"
    ).fetchall()
    from decimal import Decimal

    today = max(d for _p, _s, d, _v in rows)
    cells = defaultdict(lambda: [0, Decimal(0)])
    for prio, status, d, v in rows:
        if status not in ("O", "P"):
            continue
        age = today - d
        b = "0-30" if age <= 30 else "31-60" if age <= 60 else \
            "61-90" if age <= 90 else "90+"
        cells[(prio, b)][0] += 1
        cells[(prio, b)][1] += Decimal(str(round(v, 4)))
    got = {
        (r.o_orderpriority, r.age_bucket): (r.n_orders, r.open_value)
        for r in registry.QUERIES["q_orders_backlog"](
            spark, sf_dir
        ).collect()
    }
    assert set(got) == set(cells)
    for k, (n, v) in cells.items():
        assert got[k][0] == n, k
        assert math.isclose(got[k][1], float(v), abs_tol=1e-6), k


def test_seq_transitions_matches_python(spark, duck, sf_dir):
    rows = duck.execute(
        "SELECT user_id, event_type,"
        " epoch_us(CAST(ts AS TIMESTAMP)), event_id FROM events"
    ).fetchall()
    per_user = defaultdict(list)
    for uid, et, us, eid in rows:
        per_user[uid].append((us, eid, et))
    counts = defaultdict(int)
    for evs in per_user.values():
        evs.sort()
        first6 = [et for _u, _e, et in evs[:6]]
        for i in range(min(len(first6) - 1, 5)):
            counts[(i + 1, first6[i], first6[i + 1])] += 1
    got = {
        (r.step, r.from_type, r.to_type): r.n_users
        for r in registry.QUERIES["q_seq_transitions"](
            spark, sf_dir
        ).collect()
    }
    assert got == dict(counts)


def test_text_keywords_matches_python(spark, duck, sf_dir):
    texts = duck.execute("SELECT doc_id, text FROM documents").fetchall()
    tf = defaultdict(lambda: defaultdict(int))
    doc_len = {}
    docs_with = defaultdict(set)
    for did, t in texts:
        toks = t.split(" ")
        doc_len[did] = len(toks)
        for tok in toks:
            tf[did][tok] += 1
            docs_with[tok].add(did)
    n_docs = len(doc_len)
    got = defaultdict(dict)
    for r in registry.QUERIES["q_text_keywords"](spark, sf_dir).collect():
        got[r.doc_id][r.rank] = (r.term, r.score)
    assert set(got) == set(doc_len)
    for did, terms in tf.items():
        scored = sorted(
            (
                -(c / doc_len[did]) * math.log(n_docs / len(docs_with[t])),
                t,
            )
            for t, c in terms.items()
        )[:3]
        for rank, (neg, term) in enumerate(scored, 1):
            g_term, g_score = got[did][rank]
            assert g_term == term, (did, rank)
            assert math.isclose(
                g_score, math.floor(-neg * 10000 + 0.5) / 10000,
                abs_tol=2e-4,
            ), (did, rank)


# ---------------------------------------------------------------------------
# round-4 batch 12: BFS levels, time-series decomposition
# ---------------------------------------------------------------------------


def test_graph_bfs_matches_python(spark, duck, sf_dir):
    pairs = duck.execute(
        """
        WITH basket AS (
            SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
        )
        SELECT a.p, b.p FROM basket a JOIN basket b
          ON a.o = b.o AND a.p < b.p
        GROUP BY 1, 2 HAVING COUNT(*) >= 2
        """
    ).fetchall()
    adj = defaultdict(set)
    for x, y in pairs:
        adj[x].add(y)
        adj[y].add(x)
    level = {0: 0}
    frontier = {0}
    for lvl in range(1, 4):
        nxt = set()
        for n in frontier:
            nxt |= adj[n]
        nxt -= set(level)
        for n in nxt:
            level[n] = lvl
        frontier = nxt
    got = {
        r.p_partkey: r.level
        for r in registry.QUERIES["q_graph_bfs"](spark, sf_dir).collect()
    }
    assert got == level


def test_time_decompose_components_reconstruct(spark, duck, sf_dir):
    """value ≈ trend + seasonal + residual on every emitted row, trend is
    the true centered 7-day mean, and per-(type,dow) residual means are
    ~0 by construction of the seasonal component."""
    from decimal import Decimal

    rows = duck.execute(
        "SELECT event_type,"
        " CAST(floor(epoch(CAST(ts AS TIMESTAMP))/86400) AS BIGINT), value"
        " FROM events"
    ).fetchall()
    daily = defaultdict(Decimal)
    for et, d, v in rows:
        daily[(et, d)] += Decimal(str(round(v, 4)))
    series = defaultdict(dict)
    for (et, d), v in daily.items():
        series[et][d] = v
    got = {
        (r.event_type, r.day): r
        for r in registry.QUERIES["q_time_decompose"](
            spark, sf_dir
        ).collect()
    }
    n_expected = 0
    for et, by_day in series.items():
        days = sorted(by_day)
        for i, d in enumerate(days):
            win = days[max(0, i - 3) : i + 4]
            if len(win) != 7:
                continue
            n_expected += 1
            r = got[(et, d)]
            trend = float(sum(by_day[x] for x in win)) / 7
            assert math.isclose(r.trend, math.floor(trend * 1e4 + 0.5) / 1e4,
                                abs_tol=2e-4), (et, d)
            assert abs(r.value - (r.trend + r.seasonal + r.residual)) < 5e-4
    assert n_expected == len(got)


def test_weighted_median_matches_python(spark, duck, sf_dir):
    rows = duck.execute(
        "SELECT l_returnflag,"
        " CAST(round(l_extendedprice * 100, 0) AS BIGINT),"
        " CAST(l_quantity AS BIGINT) FROM lineitem"
    ).fetchall()
    groups = defaultdict(list)
    for flag, pc, w in rows:
        groups[flag].append((pc, w))
    got = {
        r.l_returnflag: (r.total_weight, r.weighted_median_price)
        for r in registry.QUERIES["q_agg_weighted_median"](
            spark, sf_dir
        ).collect()
    }
    for flag, pts in groups.items():
        pts.sort()
        tw = sum(w for _p, w in pts)
        cw = 0
        for p, w in pts:
            cw += w
            if 2 * cw >= tw:
                med = p
                break
        assert got[flag][0] == tw
        assert math.isclose(
            got[flag][1], math.floor(p / 100 * 10000 + 0.5) / 10000,
            abs_tol=1e-9,
        ), flag
        # the defining property: weight strictly below the median < half
        below = sum(w for q, w in pts if q < med)
        assert 2 * below < tw


# ---------------------------------------------------------------------------
# round-4 batch 13: ML dataset construction
# ---------------------------------------------------------------------------


def test_temporal_split_partitions_and_embargo(spark, duck, sf_dir):
    rows = duck.execute(
        "SELECT CAST(floor(epoch(CAST(ts AS TIMESTAMP))/86400) AS BIGINT)"
        " FROM events"
    ).fetchall()
    days = [d for (d,) in rows]
    d0, d1 = min(days), max(days)
    t_cut = d0 + math.floor((d1 - d0) * 0.8)
    got = registry.QUERIES["q_sample_temporal_split"](
        spark, sf_dir
    ).collect()
    n_total = sum(r.n_events for r in got)
    assert n_total == len(days)
    for r in got:
        if r.split == "train":
            assert r.last_day < t_cut - 2
        elif r.split == "test":
            assert r.first_day >= t_cut
        else:
            assert r.first_day >= t_cut - 2 and r.last_day < t_cut
    # every train day strictly precedes every test day with a real gap
    train_max = max(r.last_day for r in got if r.split == "train")
    test_min = min(r.first_day for r in got if r.split == "test")
    assert test_min - train_max > 2


def test_label_future_window_matches_bruteforce(spark, duck, sf_dir):
    import bisect

    rows = duck.execute(
        "SELECT event_id, user_id, event_type,"
        " CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) FROM events"
        " WHERE event_type IN ('click', 'purchase')"
    ).fetchall()
    purchases = defaultdict(list)
    clicks = []
    for eid, uid, et, ts in rows:
        if et == "purchase":
            purchases[uid].append(ts)
        else:
            clicks.append((eid, uid, ts))
    for v in purchases.values():
        v.sort()
    got = {
        r.click_id: (r.user_id, r.label, r.secs_to_purchase)
        for r in registry.QUERIES["q_label_future_window"](
            spark, sf_dir
        ).collect()
    }
    assert len(got) == len(clicks)
    for eid, uid, ts in clicks:
        ps = purchases.get(uid, [])
        i = bisect.bisect_left(ps, ts)  # same-instant purchase counts
        if i < len(ps) and ps[i] - ts <= 604800:
            expect = (uid, True, ps[i] - ts)
        else:
            expect = (uid, False, None)
        assert got[eid] == expect, eid


def test_feature_hash_matches_hashlib(spark, duck, sf_dir):
    rows = duck.execute(
        "SELECT o_orderkey, o_orderstatus, o_orderpriority, o_custkey"
        " FROM orders"
    ).fetchall()
    got = {
        r.o_orderkey: (r.n_buckets, r.feature_vec)
        for r in registry.QUERIES["q_feature_hash"](spark, sf_dir).collect()
    }
    assert set(got) == {k for k, *_r in rows}
    for ok, status, prio, ck in rows:
        feats = [f"status={status}", f"prio={prio}", f"cust_band={ck % 100}"]
        cells = defaultdict(int)
        for f in feats:
            cells[_md5_low64_le(f) % 16] += 1
        vec = ",".join(f"{b}:{c}" for b, c in sorted(cells.items()))
        assert got[ok] == (len(cells), vec), ok
    # collisions must actually occur somewhere at 16 buckets (sanity
    # that the test would catch a wrong modulus)
    assert any(n < 3 for n, _v in got.values())


def test_target_encode_matches_python(spark, duck, sf_dir):
    from decimal import Decimal

    rows = duck.execute(
        "SELECT l.l_orderkey, l.l_linenumber, p.p_brand, l.l_extendedprice"
        " FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey"
    ).fetchall()
    cat_sum = defaultdict(Decimal)
    cat_n = defaultdict(int)
    g_sum, g_n = Decimal(0), 0
    for _ok, _ln, brand, y in rows:
        yd = Decimal(str(round(y, 4)))
        cat_sum[brand] += yd
        cat_n[brand] += 1
        g_sum += yd
        g_n += 1
    got = sorted(
        (r.l_orderkey, r.l_linenumber, r.p_brand, r.brand_encoding)
        for r in registry.QUERIES["q_feature_target_encode"](
            spark, sf_dir
        ).collect()
    )
    g_mean = float(g_sum) / g_n
    expected = sorted(
        (
            ok,
            ln,
            b,
            math.floor(
                (float(cat_sum[b] - Decimal(str(round(y, 4))))
                 + 10.0 * g_mean)
                / (cat_n[b] - 1 + 10)
                * 10000
                + 0.5
            )
            / 10000,
        )
        for ok, ln, b, y in rows
    )
    assert len(got) == len(expected)
    for g, e in zip(got, expected):
        assert g[:3] == e[:3]
        assert math.isclose(g[3], e[3], abs_tol=2e-4), g[:3]


def test_eval_calibration_matches_python(spark, duck, sf_dir):
    rows = duck.execute("SELECT event_id, value FROM events").fetchall()
    bins = defaultdict(lambda: [0, 0, 0])  # n, sum_ppm, n_label
    for eid, v in rows:
        ppm = (eid * 2654435761) % 1000000
        b = min(ppm * 10 // 1000000, 9)
        bins[b][0] += 1
        bins[b][1] += ppm
        bins[b][2] += 1 if v > 100.0 else 0
    got = {
        r.bin: (r.n, r.mean_score, r.event_rate)
        for r in registry.QUERIES["q_eval_calibration"](
            spark, sf_dir
        ).collect()
    }
    assert set(got) == set(bins)
    for b, (n, sp, nl) in bins.items():
        assert got[b][0] == n
        assert math.isclose(
            got[b][1],
            math.floor(sp / n / 1000000 * 10000 + 0.5) / 10000,
            abs_tol=2e-4,
        )
        assert math.isclose(
            got[b][2], math.floor(nl / n * 10000 + 0.5) / 10000,
            abs_tol=1e-9,
        )
    # calibration sanity on a uniform-hash "model": scores are uniform,
    # so each bin holds roughly a tenth of the data
    total = sum(v[0] for v in bins.values())
    assert all(abs(v[0] - total / 10) < total * 0.05 for v in bins.values())


# ---------------------------------------------------------------------------
# round-4 batch 15: ANOVA, Gini feature screening
# ---------------------------------------------------------------------------


def test_stats_anova_matches_python(spark, duck, sf_dir):
    rows = duck.execute(
        "SELECT event_type, CAST(round(value * 10000, 0) AS BIGINT)"
        " FROM events"
    ).fetchall()
    groups = defaultdict(list)
    for et, yc in rows:
        groups[et].append(yc)
    k = len(groups)
    nn = sum(len(v) for v in groups.values())
    ss = sum(sum(v) for v in groups.values())
    ssb = sum(sum(v) ** 2 / len(v) for v in groups.values()) - ss**2 / nn
    ssw = sum(
        sum(y * y for y in v) - sum(v) ** 2 / len(v)
        for v in groups.values()
    )
    r = registry.QUERIES["q_stats_anova"](spark, sf_dir).collect()[0]
    assert (r.k_groups, r.n_total) == (k, nn)
    q4 = lambda x: math.floor(x * 10000 + 0.5) / 10000  # noqa: E731
    assert math.isclose(r.ms_between, q4(ssb / 1e8 / (k - 1)), abs_tol=2e-4)
    assert math.isclose(r.ms_within, q4(ssw / 1e8 / (nn - k)), abs_tol=2e-4)
    assert math.isclose(
        r.f_stat, q4((ssb / (k - 1)) / (ssw / (nn - k))), abs_tol=2e-4
    )


def test_feature_gini_matches_python(spark, duck, sf_dir):
    rows = duck.execute(
        "SELECT o_orderstatus, o_orderpriority,"
        " CAST(o_custkey % 10 AS VARCHAR),"
        " CASE WHEN o_totalprice > 50000.0 THEN 1 ELSE 0 END FROM orders"
    ).fetchall()
    feats = {
        "o_orderstatus": lambda r: r[0],
        "o_orderpriority": lambda r: r[1],
        "cust_decade": lambda r: r[2],
    }
    got = {
        r.feature: (r.n_values, r.weighted_gini)
        for r in registry.QUERIES["q_feature_gini"](spark, sf_dir).collect()
    }
    nn = len(rows)
    for fname, fget in feats.items():
        cells = defaultdict(lambda: [0, 0])
        for r in rows:
            cells[fget(r)][0] += 1
            cells[fget(r)][1] += r[3]
        gini = sum(
            n * (1.0 - (pos / n) ** 2 - ((n - pos) / n) ** 2)
            for n, pos in cells.values()
        ) / nn
        assert got[fname][0] == len(cells), fname
        assert math.isclose(
            got[fname][1], math.floor(gini * 10000 + 0.5) / 10000,
            abs_tol=2e-4,
        ), fname
    # a label defined FROM o_totalprice must make every feature's split
    # impurity at most the no-split Gini of the label itself
    pos = sum(r[3] for r in rows)
    g0 = 1.0 - (pos / nn) ** 2 - ((nn - pos) / nn) ** 2
    assert all(v[1] <= g0 + 1e-9 for v in got.values())


def test_rank_mrr_matches_python(spark, duck, sf_dir):
    rows = duck.execute(
        "SELECT user_id, event_id, event_type = 'purchase',"
        " (event_id * 2654435761) % 1000000 FROM events"
    ).fetchall()
    per_user = defaultdict(list)
    for uid, eid, rel, score in rows:
        per_user[uid].append((-score, eid, rel))
    firsts = {}
    for uid, evs in per_user.items():
        evs.sort()
        firsts[uid] = next(
            (i + 1 for i, (_s, _e, rel) in enumerate(evs) if rel), None
        )
    r = registry.QUERIES["q_rank_mrr"](spark, sf_dir).collect()[0]
    assert r.n_queries == len(per_user)
    assert r.n_with_relevant == sum(1 for v in firsts.values() if v)
    for k, col in ((1, r.hits_at_1), (3, r.hits_at_3), (10, r.hits_at_10)):
        assert col == sum(1 for v in firsts.values() if v and v <= k), k
    mrr_ppm = sum(round(1e6 / v) for v in firsts.values() if v)
    expect = math.floor(mrr_ppm / len(per_user) / 1e6 * 1e4 + 0.5) / 1e4
    assert math.isclose(r.mrr, expect, abs_tol=1e-9)
    # metric sanity: hit@1 <= hit@3 <= hit@10 <= with_relevant, and the
    # MRR lies between hit@1/n and with_relevant/n
    assert r.hits_at_1 <= r.hits_at_3 <= r.hits_at_10 <= r.n_with_relevant
    assert (
        r.hits_at_1 / r.n_queries - 1e-4
        <= r.mrr
        <= r.n_with_relevant / r.n_queries + 1e-4
    )
