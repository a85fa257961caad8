"""Semantic checks for the round-14 build wave (ROADMAP_r14 waves 2-3,
built this round after the round-14 window shipped)."""

from __future__ import annotations

import datetime as dt
import tempfile

import pytest

from large_csv_etl_spark.queries.windows import (
    QUERIES as WIN_QUERIES,
    _FORCE_W,
    _HULL_C,
    _HULL_DEN,
    _MASS_E1_W,
    _MASS_E2_W,
)


def _orders_dir(spark, rows, d):
    df = spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp,"
        " o_orderpriority string",
    )
    df.coalesce(2).write.parquet(f"{d}/orders.parquet")


def _day_rows(day_prices, year=1995, month=1):
    """day_prices: list of per-day price lists (multi-order days)."""
    rows, key = [], 0
    for i, prices in enumerate(day_prices, 1):
        day = dt.datetime(year, month, 1) + dt.timedelta(days=i - 1)
        for p in prices:
            key += 1
            rows.append((key, key, "O", p, day, "3-MEDIUM"))
    return rows


def test_atr_warmup_gate_and_frame_mean(spark):
    """Day1 hi=2000 lo=1000 cls=1500 (tr = hi-lo, no prev close);
    day2 single 40.00 order: tr = max(0, |4000-1500|) = 2500;
    ATR day2 = (1000 + 2500)/2 cents."""
    rows = _day_rows([[10.0, 20.0], [40.0]])
    with tempfile.TemporaryDirectory() as d:
        _orders_dir(spark, rows, d)
        out = WIN_QUERIES["window_average_true_range"](spark, d).collect()
    out.sort(key=lambda r: r["day"])
    assert [r["tr"] for r in out] == [1000, 2500]
    assert out[0]["atr14"] == pytest.approx(10.0)
    assert out[1]["atr14"] == pytest.approx(17.5)


def test_vortex_numerators_and_guard(spark):
    """Days [10], [12,16], [13]: VM+/VM-/TR all NULL on day1 (every
    lag gated), day3 cumulative VI+ = 700/700, VI- = 500/700."""
    rows = _day_rows([[10.0], [12.0, 16.0], [13.0]])
    with tempfile.TemporaryDirectory() as d:
        _orders_dir(spark, rows, d)
        out = WIN_QUERIES["window_vortex_indicator"](spark, d).collect()
    out.sort(key=lambda r: r["day"])
    assert out[0]["vmp14"] is None and out[0]["vi_plus"] is None
    assert (out[1]["vmp14"], out[1]["vmm14"], out[1]["tr14"]) == (
        600,
        200,
        600,
    )
    assert (out[2]["vmp14"], out[2]["vmm14"], out[2]["tr14"]) == (
        700,
        500,
        700,
    )
    assert out[2]["vi_plus"] == pytest.approx(1.0)
    assert out[2]["vi_minus"] == pytest.approx(5.0 / 7.0)


def test_hull_kernel_matches_naive_composition(spark):
    """The single 19-tap kernel equals WMA4(2*WMA8 - WMA16) computed
    naively, and warm-up rows (frame < 19) are NULL."""
    import random

    rng = random.Random(7)
    prices = [round(rng.uniform(10, 500), 2) for _ in range(25)]
    rows = _day_rows([[p] for p in prices])
    cents = [round(p * 100) for p in prices]

    def wma(vals, n, t):
        num = sum((n - i) * vals[t - i] for i in range(n))
        return num / (n * (n + 1) / 2)

    def hma_naive(t):
        d = [
            2 * wma(cents, 8, t - j) - wma(cents, 16, t - j)
            for j in range(4)
        ]
        return sum((4 - j) * d[j] for j in range(4)) / 10.0 / 100.0

    with tempfile.TemporaryDirectory() as d:
        _orders_dir(spark, rows, d)
        out = WIN_QUERIES["window_hull_ma"](spark, d).collect()
    out.sort(key=lambda r: r["day"])
    assert all(r["hma16"] is None for r in out[:18])
    for t in range(18, 25):
        assert out[t]["hma16"] == pytest.approx(hma_naive(t), rel=1e-9)
    assert sum(_HULL_C) == _HULL_DEN == 12240


def test_mass_index_flat_guard_and_ratio(spark):
    """Single-order (rng=0) horizons leave n2=0 -> NULL ratio; a
    spread day then a flat day reproduce the closed-form kernel
    ratio."""
    rows = _day_rows([[10.0, 20.0], [15.0]])
    with tempfile.TemporaryDirectory() as d:
        _orders_dir(spark, rows, d)
        out = WIN_QUERIES["window_mass_index"](spark, d).collect()
    out.sort(key=lambda r: r["day"])
    assert out[0]["ratio_fp"] == 10**9  # e1 = e2 = rng on day 1
    w0, w1 = _MASS_E1_W[0], _MASS_E1_W[1]
    v0, v1 = _MASS_E2_W[0], _MASS_E2_W[1]
    e1 = 1000.0 * w1 / (w0 + w1)
    e2 = 1000.0 * v1 / (v0 + v1)
    assert out[1]["ratio_fp"] == round(e1 / e2 * 1e9)
    assert out[1]["mass25"] == pytest.approx(
        (10**9 + round(e1 / e2 * 1e9)) / 1e9
    )
    # all-flat corpus: every ratio NULL
    rows = _day_rows([[10.0], [20.0], [30.0]])
    with tempfile.TemporaryDirectory() as d:
        _orders_dir(spark, rows, d)
        out = WIN_QUERIES["window_mass_index"](spark, d).collect()
    assert all(r["ratio_fp"] is None and r["mass25"] is None for r in out)


def test_force_index_sign_split_and_ema(spark):
    """cls deltas +300 then -600 cents -> x = +3, -6 (whole dollars,
    sign-split truncation) * volume 1; EMA13 renormalizes over
    present weights."""
    rows = _day_rows([[10.0], [13.0], [7.0]])
    with tempfile.TemporaryDirectory() as d:
        _orders_dir(spark, rows, d)
        out = WIN_QUERIES["window_force_index"](spark, d).collect()
    out.sort(key=lambda r: r["day"])
    assert [r["x"] for r in out] == [None, 3, -6]
    assert out[0]["force_ema13"] is None
    w0, w1 = _FORCE_W[0], _FORCE_W[1]
    assert out[1]["force_ema13"] == pytest.approx(3.0)
    assert out[2]["force_ema13"] == pytest.approx(
        (-6 * w0 + 3 * w1) / float(w0 + w1)
    )


def test_donchian_width_percentile_squeeze(spark):
    """22 days: a day-1 spike inflates early widths; once it leaves
    the 20-frame the width collapses and the rank reads 3/22."""
    prices = [100.0] + [10.0] * 20 + [10.5]
    rows = _day_rows([[p] for p in prices])
    with tempfile.TemporaryDirectory() as d:
        _orders_dir(spark, rows, d)
        out = WIN_QUERIES["window_donchian_width_percentile"](
            spark, d
        ).collect()
    out.sort(key=lambda r: r["day"])
    assert out[0]["width"] == 0
    assert out[1]["width"] == 9000 and out[19]["width"] == 9000
    assert out[20]["width"] == 0  # spike aged out
    assert out[21]["width"] == 50
    assert out[21]["hist_n"] == 22 and out[21]["n_le"] == 3
    assert out[21]["width_pct_rank"] == pytest.approx(3.0 / 22.0)


from large_csv_etl_spark.queries.relational import QUERIES as REL_QUERIES


def _status_orders(spark, fo_prices, d, year=1995):
    """fo_prices: list of (status, price). One order per day."""
    rows = []
    for i, (st, p) in enumerate(fo_prices, 1):
        day = dt.datetime(year, 1, 1) + dt.timedelta(days=i - 1)
        rows.append((i, i, st, p, day, "3-MEDIUM"))
    _orders_dir(spark, rows, d)


def test_ansari_bradley_no_ties_and_ties(spark):
    """F={1,3} O={2,4}: AB scores 1,2,2,1 -> T_F = E[T] -> z = 0.
    F={1,1} O={1,2}: tie-exact moments give z = 1 exactly."""
    with tempfile.TemporaryDirectory() as d:
        _status_orders(
            spark, [("F", 1.0), ("O", 2.0), ("F", 3.0), ("O", 4.0)], d
        )
        out = REL_QUERIES["agg_ansari_bradley"](spark, d).collect()[0]
    assert (out["n1"], out["n2"]) == (2, 2)
    assert (out["t2_f"], out["s2_tot"], out["q2_tot"]) == (6, 12, 40)
    assert out["ab_z"] == pytest.approx(0.0, abs=1e-12)
    with tempfile.TemporaryDirectory() as d:
        _status_orders(
            spark, [("F", 1.0), ("F", 1.0), ("O", 1.0), ("O", 2.0)], d
        )
        out = REL_QUERIES["agg_ansari_bradley"](spark, d).collect()[0]
    assert (out["t2_f"], out["s2_tot"], out["q2_tot"]) == (8, 14, 52)
    assert out["ab_z"] == pytest.approx(1.0, rel=1e-12)


def test_siegel_repeated_medians_small_series(spark):
    """Cents 1000/2000/4000 on days 1-3: per-day medians 1e7/1e7/1.5e7
    fp -> outer median 1e7 fp = 1000 cents/day; backward pairs must
    sign-split to the same slope as their forward twins."""
    with tempfile.TemporaryDirectory() as d:
        _status_orders(
            spark, [("O", 10.0), ("O", 20.0), ("O", 40.0)], d
        )
        out = REL_QUERIES["agg_siegel_repeated_medians_banded"](
            spark, d
        ).collect()[0]
    assert out["n_days"] == 3
    assert out["siegel_slope_fp"] == 10_000_000
    assert out["slope_cents_per_day"] == pytest.approx(1000.0)


def test_pooled_vs_welch_df(spark):
    """F dollars {10,20}, O {10,30}: v1=50 v2=200, df_pooled=2,
    df_welch = 15625/10625, se_pooled = se_welch = sqrt(125)."""
    with tempfile.TemporaryDirectory() as d:
        _status_orders(
            spark,
            [("F", 10.0), ("F", 20.0), ("O", 10.0), ("O", 30.0)],
            d,
        )
        out = REL_QUERIES["agg_pooled_vs_welch_df"](spark, d).collect()[0]
    assert (out["n1"], out["n2"], out["df_pooled"]) == (2, 2, 2)
    assert out["v1"] == pytest.approx(50.0)
    assert out["v2"] == pytest.approx(200.0)
    assert out["df_welch"] == pytest.approx(15625.0 / 10625.0, rel=1e-12)
    assert out["se_pooled"] == pytest.approx(125.0**0.5, rel=1e-12)
    assert out["se_welch"] == pytest.approx(125.0**0.5, rel=1e-12)


def test_odds_ratio_stratified_two_years(spark):
    """Year1 cells 1/1/1/1 (OR 1), year2 2/1/1/1 (OR 2): MH OR =
    (0.25 + 0.4)/(0.25 + 0.2) on the 1e-6 lattice."""
    rows = []

    def add(key, price, pri, year):
        rows.append(
            (
                key,
                key,
                "O",
                price,
                dt.datetime(year, 6, 1 + key % 20),
                pri,
            )
        )

    add(1, 300000.0, "1-URGENT", 1995)
    add(2, 260000.0, "5-LOW", 1995)
    add(3, 100.0, "1-URGENT", 1995)
    add(4, 50.0, "5-LOW", 1995)
    add(5, 300000.0, "1-URGENT", 1996)
    add(6, 310000.0, "1-URGENT", 1996)
    add(7, 260000.0, "5-LOW", 1996)
    add(8, 100.0, "1-URGENT", 1996)
    add(9, 50.0, "5-LOW", 1996)
    with tempfile.TemporaryDirectory() as d:
        _orders_dir(spark, rows, d)
        out = REL_QUERIES["agg_odds_ratio_stratified"](spark, d).collect()
    by_yr = {r["yr"]: r for r in out}
    assert (by_yr[1995]["a"], by_yr[1995]["d"]) == (1, 1)
    assert by_yr[1995]["or_k"] == pytest.approx(1.0)
    assert (by_yr[1996]["a"], by_yr[1996]["b"], by_yr[1996]["c"],
            by_yr[1996]["d"]) == (2, 1, 1, 1)
    assert by_yr[1996]["or_k"] == pytest.approx(2.0)
    assert by_yr[1995]["mh_or"] == pytest.approx(650000.0 / 450000.0)
    assert by_yr[1996]["mh_or"] == by_yr[1995]["mh_or"]


def test_extreme_spacings_with_duplicate_totals(spark):
    """Daily totals 1000/3000/3000/7000 cents: sorted spacings 2000, 0,
    4000 -> max 4000 @ lo 3000, min 0 @ lo 3000."""
    with tempfile.TemporaryDirectory() as d:
        _status_orders(
            spark, [("O", 10.0), ("O", 30.0), ("O", 30.0), ("O", 70.0)], d
        )
        out = REL_QUERIES["agg_extreme_spacings"](spark, d).collect()[0]
    assert out["n_gaps"] == 3
    assert (out["max_gap"], out["max_gap_lo"]) == (4000, 3000)
    assert (out["min_gap"], out["min_gap_lo"]) == (0, 3000)


from large_csv_etl_spark.queries.events import QUERIES as EVENT_QUERIES


def _events_dir(spark, rows, d):
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    df.coalesce(2).write.parquet(f"{d}/events.parquet")


def _ev(eid, minute, user, typ="click", value=1.0, day=1):
    return (
        eid,
        dt.datetime(2024, 1, day, 10, 0) + dt.timedelta(minutes=minute),
        user,
        typ,
        value,
        "{}",
    )


def test_session_depth_decay_survival(spark):
    """Session sizes {3,1,1}: n_reached = 3,1,1,0,...; p_continue =
    1/3, 1, 0, then NULL once nothing reaches k."""
    rows = [
        _ev(1, 0, 1),
        _ev(2, 10, 1),
        _ev(3, 20, 1),
        _ev(4, 0, 2),
        _ev(5, 300, 2),  # 5h later: new session
    ]
    with tempfile.TemporaryDirectory() as d:
        _events_dir(spark, rows, d)
        out = EVENT_QUERIES["events_session_depth_decay"](spark, d).collect()
    by_k = {r["k"]: r for r in out}
    assert len(out) == 20
    assert [by_k[k]["n_reached"] for k in (1, 2, 3, 4)] == [3, 1, 1, 0]
    assert by_k[1]["p_continue"] == pytest.approx(1.0 / 3.0)
    assert by_k[2]["p_continue"] == pytest.approx(1.0)
    assert by_k[3]["p_continue"] == pytest.approx(0.0)
    assert by_k[4]["p_continue"] is None


def test_value_per_session_distribution(spark):
    """Session totals 3000 and 6000 cents: buckets 0 and 1, TYPE-1
    median 3000."""
    rows = [
        _ev(1, 0, 1, value=10.0),
        _ev(2, 10, 1, value=20.0),
        _ev(3, 0, 2, value=60.0),
    ]
    with tempfile.TemporaryDirectory() as d:
        _events_dir(spark, rows, d)
        out = EVENT_QUERIES["events_value_per_session_distribution"](
            spark, d
        ).collect()
    by_b = {r["bucket"]: r for r in out}
    assert by_b[0]["n_sessions"] == 1 and by_b[0]["bucket_lo_dollars"] == 0
    assert by_b[1]["n_sessions"] == 1 and by_b[1]["bucket_lo_dollars"] == 50
    assert all(r["median_cents"] == 3000 for r in out)


def test_weekly_mix_simpson_jump(spark):
    """Week of Jan 1 2024 (Mon): mix 3a+1b -> simpson 0.375; next week
    4a -> 0; the collapse week carries the largest-jump flag."""
    rows = [
        _ev(1, 0, 1, "a"),
        _ev(2, 1, 2, "a"),
        _ev(3, 2, 3, "a"),
        _ev(4, 3, 4, "b"),
        _ev(5, 0, 1, "a", day=8),
        _ev(6, 1, 2, "a", day=8),
        _ev(7, 2, 3, "a", day=8),
        _ev(8, 3, 4, "a", day=8),
    ]
    with tempfile.TemporaryDirectory() as d:
        _events_dir(spark, rows, d)
        out = EVENT_QUERIES["events_type_entropy_free_mix_by_week"](
            spark, d
        ).collect()
    out.sort(key=lambda r: r["week"])
    assert len(out) == 2
    assert out[0]["simpson_index"] == pytest.approx(0.375)
    assert out[1]["simpson_index"] == pytest.approx(0.0)
    assert (out[0]["largest_jump_flag"], out[1]["largest_jump_flag"]) == (
        0,
        1,
    )


import hashlib

from large_csv_etl_spark.queries.text import QUERIES as TEXT_QUERIES


def _docs_dir(spark, rows, d):
    df = spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    )
    df.coalesce(2).write.parquet(f"{d}/documents.parquet")


def _doc(doc_id, text, source="s0"):
    return (doc_id, text, "en", source, len(text))


def _h60(s):
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def test_heaps_curve_matches_python_replica(spark):
    """Curve equals an exact Python replica of the md5-ordered prefix
    logic, including the 1000-token cap cutting off a 1500-token doc."""
    docs = {
        1: "a b c",
        2: "a d",
        3: "e e e",
        4: " ".join(["big"] * 1500),
        5: "f g",
    }
    rows = [_doc(i, t) for i, t in docs.items()]
    ordered = sorted(
        docs, key=lambda i: hashlib.md5(f"heaps:{i}".encode()).hexdigest()
    )
    cum, cum_end, seen_at = 0, {}, {}
    for i in ordered:
        toks = docs[i].split()
        cum += len(toks)
        cum_end[i] = cum
        for t in toks:
            seen_at.setdefault(t, cum)
    expected = {}
    for p in (1000, 4000, 16000, 64000):
        mass = max((c for c in cum_end.values() if c <= p), default=0)
        expected[p] = (mass, sum(1 for v in seen_at.values() if v <= p))
    with tempfile.TemporaryDirectory() as d:
        _docs_dir(spark, rows, d)
        out = TEXT_QUERIES["text_heaps_curve"](spark, d).collect()
    got = {
        r["prefix_tokens"]: (r["n_tokens_in_prefix"], r["n_distinct_tokens"])
        for r in out
    }
    assert got == expected
    assert got[64000][0] == 1510 and got[64000][1] == 8


def test_prefix_suffix_dup_matrix_cells(spark):
    """2 lead-sharing docs, 2 tail-sharing docs, 2 identical short
    docs, 1 unique -> cells (2, 2, 2, 1)."""
    head = " ".join(f"h{i}" for i in range(16))
    tail = " ".join(f"t{i}" for i in range(16))
    rows = [
        _doc(1, f"{head} ua"),
        _doc(2, f"{head} ub"),
        _doc(3, f"uc {tail}"),
        _doc(4, f"ud {tail}"),
        _doc(5, "same short doc"),
        _doc(6, "same short doc"),
        _doc(7, "only one here"),
    ]
    with tempfile.TemporaryDirectory() as d:
        _docs_dir(spark, rows, d)
        out = TEXT_QUERIES["text_prefix_suffix_dup_matrix"](
            spark, d
        ).collect()[0]
    assert out["n_docs"] == 7
    assert (
        out["both_dup"],
        out["head_only"],
        out["tail_only"],
        out["neither"],
    ) == (2, 2, 2, 1)


def test_quote_density_injection_replica(spark):
    """Share equals the Python replica of the hash-gated injection
    (one balanced leading quoted span per selected doc)."""
    docs = {i: f"doc body number {i} with some words" for i in range(1, 10)}
    rows = [_doc(i, t) for i, t in docs.items()]
    n_chars = quoted = n_quoting = 0
    for i, t in docs.items():
        if _h60(f"quote:{i}") % 3 == 0:
            span = t[:40]
            n_chars += len(t) + len(span) + 3
            quoted += len(span)
            n_quoting += 1
        else:
            n_chars += len(t)
    assert n_quoting > 0  # the synthesis actually fires on this corpus
    with tempfile.TemporaryDirectory() as d:
        _docs_dir(spark, rows, d)
        out = TEXT_QUERIES["text_quote_density"](spark, d).collect()[0]
    assert out["n_docs"] == 9 and out["n_unbalanced"] == 0
    assert out["n_quoting_docs"] == n_quoting
    assert out["quoted_chars"] == quoted
    assert out["n_chars"] == n_chars
    assert out["quote_share"] == pytest.approx(quoted / n_chars)


def test_source_length_drift_replica(spark):
    """Monthly means and the per-source largest-jump flag equal the
    Python replica of the hash month assignment."""
    docs = {i: "x" * (10 + 7 * i) for i in range(1, 30)}
    rows = [_doc(i, t) for i, t in docs.items()]
    agg = {}
    for i, t in docs.items():
        mon = 1 + _h60(f"mon:{i}") % 12
        n, s = agg.get(mon, (0, 0))
        agg[mon] = (n + 1, s + len(t))
    fp = {m: round(1e6 * s / n) for m, (n, s) in agg.items()}
    mons = sorted(agg)
    jumps = {
        m: abs(fp[m] - fp[pm]) for pm, m in zip(mons, mons[1:])
    }
    mx = max(jumps.values())
    with tempfile.TemporaryDirectory() as d:
        _docs_dir(spark, rows, d)
        out = TEXT_QUERIES["text_source_length_drift"](spark, d).collect()
    assert len(out) == len(mons)
    for r in out:
        n, s = agg[r["mon"]]
        assert (r["n_docs"], r["sum_chars"]) == (n, s)
        assert r["mean_chars"] == pytest.approx(fp[r["mon"]] / 1e6)
        expect_flag = 1 if jumps.get(r["mon"]) == mx else 0
        assert r["largest_jump_flag"] == expect_flag


from large_csv_etl_spark.queries.dedup import QUERIES as DEDUP_QUERIES
from large_csv_etl_spark.queries.similarity import QUERIES as SIM_QUERIES


def test_band_sensitivity_nesting_and_dup_detection(spark):
    """Exact dups collide at every band width; narrower rows can only
    ADD candidates (width-4 match implies its width-2/1 sub-bands
    match), so pair counts are monotone in band count."""
    dup = "the quick brown fox jumps over the lazy dog again " * 3
    rows = [
        _doc(1, dup),
        _doc(2, dup),
        _doc(3, "completely different words about something else entirely"),
        _doc(4, "yet another unrelated document with its own vocabulary"),
    ]
    with tempfile.TemporaryDirectory() as d:
        _docs_dir(spark, rows, d)
        out = DEDUP_QUERIES["dedup_band_sensitivity_curve"](
            spark, d
        ).collect()
    by_r = {r["rows_per_band"]: r for r in out}
    assert set(by_r) == {1, 2, 4}
    assert all(r["n_candidate_pairs"] >= 1 for r in out)
    assert all(r["n_docs_in_pairs"] >= 2 for r in out)
    assert (
        by_r[1]["n_candidate_pairs"]
        >= by_r[2]["n_candidate_pairs"]
        >= by_r[4]["n_candidate_pairs"]
    )


_CLUSTER_DOCS = [
    _doc(1, "alpha beta gamma delta epsilon"),
    _doc(2, "alpha beta gamma delta epsilon"),
    _doc(3, "alpha beta gamma delta epsilon"),
    _doc(4, "one two three four five six"),
    _doc(5, "one two three four five six"),
    _doc(6, "nothing shared here at all whatsoever"),
    _doc(7, "equally unrelated tokens in this document"),
]


def test_cluster_size_spectrum_with_singletons(spark):
    """Triple + pair + 2 singletons -> spectrum {3:1, 2:1, 1:2}."""
    with tempfile.TemporaryDirectory() as d:
        _docs_dir(spark, _CLUSTER_DOCS, d)
        out = DEDUP_QUERIES["dedup_cluster_size_spectrum"](
            spark, d
        ).collect()
    got = {r["cluster_size"]: (r["n_clusters"], r["n_docs"]) for r in out}
    assert got == {3: (1, 3), 2: (1, 2), 1: (2, 2)}


def test_component_census_strongpairs(spark):
    """Identical-doc components are cliques: triple -> 3 edges density
    1.0; pair -> 1 edge density 1.0; min-doc_id component ids."""
    with tempfile.TemporaryDirectory() as d:
        _docs_dir(spark, _CLUSTER_DOCS, d)
        out = DEDUP_QUERIES["graph_component_census_strongpairs"](
            spark, d
        ).collect()
    by_id = {r["component_id"]: r for r in out}
    assert set(by_id) == {1, 4}
    assert (by_id[1]["n_nodes"], by_id[1]["n_edges"]) == (3, 3)
    assert by_id[1]["density"] == pytest.approx(1.0)
    assert (by_id[4]["n_nodes"], by_id[4]["n_edges"]) == (2, 1)
    assert by_id[4]["density"] == pytest.approx(1.0)


def _emb_dir(spark, rows, d):
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    df.coalesce(2).write.parquet(f"{d}/embeddings.parquet")


def test_hubness_kocc_degenerate_uniform(spark):
    """5 vectors, every query's top-10 holds all 4 others -> one
    histogram row k_occ=4 x 5 vectors; zero variance -> NULL skew;
    occurrence mass = 5 queries x 4 slots."""
    import random

    rng = random.Random(3)
    rows = [
        (i, [rng.uniform(0.1, 1.0) for _ in range(8)], i % 2)
        for i in range(5)
    ]
    with tempfile.TemporaryDirectory() as d:
        _emb_dir(spark, rows, d)
        out = SIM_QUERIES["sim_hubness_kocc"](spark, d).collect()
    assert len(out) == 1
    assert (out[0]["k_occ"], out[0]["n_vectors"]) == (4, 5)
    assert out[0]["kocc_skewness"] is None


def test_hubness_panel_bound_requires_unique_vec_id(spark):
    """The driver-side panel collect (vec_id < 200) is bounded only by
    vec_id being unique: 201 panel rows from 5 repeated ids abort both
    hubness queries; 200 distinct ids plus one outside the panel pass."""
    from pyspark.sql import functions as F

    from large_csv_etl_spark.queries.similarity import _hubness_panel

    rows = [(i % 5, [1.0, float(i)], 0) for i in range(201)]
    with tempfile.TemporaryDirectory() as d:
        _emb_dir(spark, rows, d)
        for name in ("sim_hubness_kocc", "sim_hubness_audit"):
            with pytest.raises(ValueError, match=f"{name}: .*unique"):
                SIM_QUERIES[name](spark, d)
    emb_n = spark.range(201).select(
        "id",
        F.array(F.lit(1.0)).alias("embedding"),
        F.lit(1.0).alias("nrm"),
    ).withColumnRenamed("id", "vec_id")
    assert len(_hubness_panel(emb_n, "t")) == 200


def test_pq_subspace_distortion_localized(spark):
    """Two same-label vectors differing only in dim 0 by 2.0: all
    distortion lands in subspace 0 (err2 = 2 * (1e6)^2, rel 0.2,
    share 1.0); other subspaces exact-zero with NULL rel_error on
    empty norms."""
    v1 = [1.0] + [0.0] * 63
    v2 = [3.0] + [0.0] * 63
    rows = [(1, v1, 0), (2, v2, 0)]
    with tempfile.TemporaryDirectory() as d:
        _emb_dir(spark, rows, d)
        out = SIM_QUERIES["sim_pq_subspace_distortion"](spark, d).collect()
    by_sub = {r["subspace"]: r for r in out}
    assert set(by_sub) == set(range(8))
    s0 = by_sub[0]
    assert s0["err2"] == 2 * 10**12
    assert s0["norm2"] == 10**12 + 9 * 10**12
    assert s0["rel_error"] == pytest.approx(0.2)
    assert s0["err_share"] == pytest.approx(1.0)
    for s in range(1, 8):
        r = by_sub[s]
        assert r["err2"] == 0 and r["norm2"] == 0
        assert r["rel_error"] is None
        assert r["err_share"] == pytest.approx(0.0)


from large_csv_etl_spark.queries.etl import QUERIES as ETL_QUERIES
from large_csv_etl_spark.queries.quality import QUERIES as DQ_QUERIES
from large_csv_etl_spark.queries.sampling import QUERIES as SAMPLE_QUERIES


def test_idempotent_reingest_two_identical_batches(spark):
    """Both runs over the committed dirty fixture agree on count and
    checksum — the graded idempotence property."""
    out = ETL_QUERIES["etl_idempotent_reingest_audit"](
        spark, "unused"
    ).collect()
    assert len(out) == 2
    assert {r["batch_id"] for r in out} == {1, 2}
    assert len({r["n_rows"] for r in out}) == 1
    assert len({r["row_checksum"] for r in out}) == 1
    assert all(r["counts_match"] and r["checksums_match"] for r in out)


def test_trailer_checksum_trend_verdicts(spark):
    """Batch 01/02 reconcile (02 with a negative total); batch 03's
    declared count is off by one while its total still reconciles."""
    out = ETL_QUERIES["etl_trailer_checksum_trend"](
        spark, "unused"
    ).collect()
    by_b = {r["batch_id"]: r for r in out}
    assert set(by_b) == {"01", "02", "03"}
    assert by_b["01"]["count_ok"] and by_b["01"]["total_ok"]
    assert by_b["01"]["data_cents"] == 119974
    assert by_b["02"]["count_ok"] and by_b["02"]["total_ok"]
    assert by_b["02"]["data_cents"] == -666
    assert not by_b["03"]["count_ok"]
    assert by_b["03"]["n_data_rows"] == 2 and by_b["03"]["trailer_count"] == 3
    assert by_b["03"]["total_ok"]


def test_column_order_drift_permutation_invariance(spark):
    """id and category swap ordinals between the fixtures, amount
    stays put; every column's value checksum matches regardless."""
    out = ETL_QUERIES["etl_column_order_drift"](spark, "unused").collect()
    by_c = {r["column_name"]: r for r in out}
    assert set(by_c) == {"id", "amount", "category"}
    assert (by_c["id"]["pos_v1"], by_c["id"]["pos_v2"]) == (1, 3)
    assert (by_c["category"]["pos_v1"], by_c["category"]["pos_v2"]) == (3, 1)
    assert not by_c["amount"]["reordered"]
    assert by_c["id"]["reordered"] and by_c["category"]["reordered"]
    assert all(r["values_match"] for r in out)


def _lineitem_dir(spark, rows, d):
    df = spark.createDataFrame(
        rows,
        "l_orderkey long, l_linenumber long, l_quantity double,"
        " l_discount double, l_shipdate timestamp",
    )
    df.coalesce(2).write.parquet(f"{d}/lineitem.parquet")


def test_cross_field_rules_replica(spark):
    """Violation counts equal the Python replica of the three hash
    injection channels over 400 synthetic lines."""
    orders, lines = [], []
    base = dt.datetime(1995, 1, 10)
    for ok in range(1, 101):
        orders.append((ok, ok, "O", 100.0, base, "3-MEDIUM"))
        for ln in range(1, 5):
            lines.append((ok, ln, 5.0, 0.05, base + dt.timedelta(days=30)))
    exp_ship = exp_disc = exp_qty = exp_any = 0
    for ok in range(1, 101):
        for ln in range(1, 5):
            s = _h60(f"xs:{ok}:{ln}") % 97 == 3  # 30 - 4000 < 0
            dv = _h60(f"xd:{ok}:{ln}") % 89 == 1
            q = _h60(f"xq:{ok}:{ln}") % 83 == 2
            exp_ship += s
            exp_disc += dv
            exp_qty += q
            exp_any += s or dv or q
    assert exp_ship and exp_disc and exp_qty  # every channel fires
    with tempfile.TemporaryDirectory() as d:
        _orders_dir(spark, orders, d)
        _lineitem_dir(spark, lines, d)
        out = DQ_QUERIES["dq_cross_field_rules"](spark, d).collect()[0]
    assert out["n_rows"] == 400
    assert out["viol_ship_before_order"] == exp_ship
    assert out["viol_discount_range"] == exp_disc
    assert out["viol_qty_nonpositive"] == exp_qty
    assert out["rows_any_violation"] == exp_any


def test_importance_reweighted_mean_replica(spark):
    """Hajek estimate, naive mean, and truth equal the Python replica
    of the 0.9/0.1 tilted design."""
    rows = []
    for k in range(1, 201):
        pri = "1-URGENT" if k % 2 == 0 else "5-LOW"
        price = float(10 + k)
        rows.append(
            (k, k, "O", price, dt.datetime(1995, 3, 1 + k % 25), pri)
        )
    num = den = cents_sum = n_sample = n_urgent = 0
    pop_cents = 0
    for k in range(1, 201):
        cents = round((10 + k) * 100)
        urgent = 1 if k % 2 == 0 else 0
        pop_cents += cents
        h = _h60(f"irw:{k}") % 10
        if (urgent and h < 9) or (not urgent and h < 1):
            w9 = 10 if urgent else 90
            num += cents * w9
            den += w9
            cents_sum += cents
            n_sample += 1
            n_urgent += urgent
    with tempfile.TemporaryDirectory() as d:
        _orders_dir(spark, rows, d)
        out = SAMPLE_QUERIES["sample_importance_reweighted_mean"](
            spark, d
        ).collect()[0]
    assert (out["n_pop"], out["n_sample"], out["n_sample_urgent"]) == (
        200,
        n_sample,
        n_urgent,
    )
    assert out["ht_mean_dollars"] == pytest.approx(num / den / 100.0)
    assert out["naive_mean_dollars"] == pytest.approx(
        cents_sum / n_sample / 100.0
    )
    assert out["true_mean_dollars"] == pytest.approx(
        pop_cents / 200 / 100.0
    )


from large_csv_etl_spark.queries.multimodal import (
    QUERIES as MM_QUERIES,
)
from large_csv_etl_spark.queries.streamq import QUERIES as STREAM_QUERIES
from large_csv_etl_spark.queries.temporal import QUERIES as TEMP_QUERIES

SF0001 = "/root/testdata/sf0.001"


def test_asof_staleness_profile_small(spark):
    """Staleness 1h and 30.5h (floors to 30) -> day buckets 0 and 1,
    TYPE-1 median 1h, one unmatched event counted."""
    orders = [(1, 1, "O", 10.0, dt.datetime(1995, 1, 1, 0, 0), "3-MEDIUM")]
    events = [
        (1, dt.datetime(1995, 1, 1, 1, 0), 1, "click", 1.0, "{}"),
        (2, dt.datetime(1995, 1, 2, 6, 30), 1, "click", 1.0, "{}"),
        (3, dt.datetime(1995, 1, 1, 1, 0), 2, "click", 1.0, "{}"),
    ]
    with tempfile.TemporaryDirectory() as d:
        _orders_dir(spark, orders, d)
        _events_dir(spark, events, d)
        out = TEMP_QUERIES["temporal_asof_staleness_profile"](
            spark, d
        ).collect()
    by_day = {r["staleness_days"]: r for r in out}
    assert set(by_day) == {0, 1}
    assert by_day[0]["n_events"] == 1 and by_day[1]["n_events"] == 1
    assert all(r["median_staleness_hours"] == 1 for r in out)
    assert all(r["n_unmatched"] == 1 for r in out)


def test_streaming_update_mode_user_totals_final_state(spark):
    """Last emission per user equals the batch totals, including a
    negative-value (refund) user the max-recovery shortcut would
    break on."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    events = [
        (1, dt.datetime(2024, 1, 1, 10, 0), 1, "purchase", 10.0, "{}"),
        (2, dt.datetime(2024, 1, 1, 11, 0), 1, "refund", -5.0, "{}"),
        (3, dt.datetime(2024, 1, 1, 10, 0), 2, "purchase", 2.5, "{}"),
    ]
    cols = list(zip(*events))
    with tempfile.TemporaryDirectory() as d:
        # single-file layout: the streaming reader's footer probe
        # mirrors the driver fixture, not a Spark part-file directory
        pq.write_table(
            pa.table(
                {
                    "event_id": pa.array(cols[0], pa.int64()),
                    "ts": pa.array(cols[1], pa.timestamp("us")),
                    "user_id": pa.array(cols[2], pa.int64()),
                    "event_type": pa.array(cols[3], pa.string()),
                    "value": pa.array(cols[4], pa.float64()),
                    "props": pa.array(cols[5], pa.string()),
                }
            ),
            f"{d}/events.parquet",
        )
        out = STREAM_QUERIES["streaming_update_mode_user_totals"](
            spark, d
        ).collect()
    by_u = {r["user_id"]: r for r in out}
    assert (by_u[1]["n_events"], by_u[1]["total_cents"]) == (2, 500)
    assert (by_u[2]["n_events"], by_u[2]["total_cents"]) == (1, 250)


def test_ktruss_support_histogram(spark):
    """Triangle a-b-c plus pendant edge c-d: three support-1 edges in
    the 3-truss, one support-0 edge outside it."""
    rows = [_doc(1, "a b c"), _doc(2, "c d")]
    with tempfile.TemporaryDirectory() as d:
        _docs_dir(spark, rows, d)
        out = TEXT_QUERIES["graph_ktruss_edges"](spark, d).collect()
    by_s = {r["support"]: r for r in out}
    assert set(by_s) == {0, 1}
    assert by_s[1]["n_edges"] == 3 and by_s[1]["in_3truss"]
    assert by_s[0]["n_edges"] == 1 and not by_s[0]["in_3truss"]


def test_tile_packing_matches_item_level_ffd(spark):
    """The 7-step divisor recurrence equals a per-item first-fit-
    decreasing simulation over the same bucketed sizes, and mass is
    conserved (bins*64 = placed + free) at the final step."""
    out = MM_QUERIES["multimodal_tile_batch_packing"](
        spark, SF0001
    ).collect()
    by_b = {r["tile_bucket"]: r for r in out}
    assert set(by_b) == {1, 2, 4, 8, 16, 32, 64}
    sizes = []
    for s in sorted(by_b, reverse=True):
        sizes.extend([s] * by_b[s]["n_images"])
    bins = []
    for s in sizes:  # already decreasing
        for i, free in enumerate(bins):
            if free >= s:
                bins[i] -= s
                break
        else:
            bins.append(64 - s)
    final = by_b[1]
    assert final["bins_after"] == len(bins)
    assert final["free_after"] == sum(bins)
    placed = sum(s * by_b[s]["n_images"] for s in by_b)
    assert final["bins_after"] * 64 == placed + final["free_after"]
    prev = 0
    for s in sorted(by_b, reverse=True):
        assert by_b[s]["bins_after"] >= prev
        prev = by_b[s]["bins_after"]
        occ = by_b[s]["occupancy"]
        assert occ is None or 0.0 < occ <= 1.0
