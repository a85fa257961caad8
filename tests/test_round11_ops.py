"""Semantic checks for the round-11 operators (beyond the oracle diff the
mimic already runs): planted fixtures exercising each operator's defining
property, plus structural invariants on the driver fixture where planting
adds nothing."""

from __future__ import annotations

import datetime as dt
import tempfile

from large_csv_etl_spark.queries.approx import QUERIES as APPROX_QUERIES
from large_csv_etl_spark.queries.dedup import QUERIES as DEDUP_QUERIES
from large_csv_etl_spark.queries.etl import QUERIES as ETL_QUERIES
from large_csv_etl_spark.queries.events import QUERIES as EVENT_QUERIES
from large_csv_etl_spark.queries.multimodal import QUERIES as MM_QUERIES
from large_csv_etl_spark.queries.quality import QUERIES as DQ_QUERIES
from large_csv_etl_spark.queries.relational import QUERIES as REL_QUERIES
from large_csv_etl_spark.queries.sampling import QUERIES as SAMPLE_QUERIES
from large_csv_etl_spark.queries.similarity import QUERIES as SIM_QUERIES
from large_csv_etl_spark.queries.temporal import QUERIES as TEMP_QUERIES
from large_csv_etl_spark.queries.text import QUERIES as TEXT_QUERIES
from large_csv_etl_spark.queries.windows import QUERIES as WIN_QUERIES

from .conftest import SF_DIR


def _orders_dir(spark, rows, d):
    df = spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp,"
        " o_orderpriority string",
    )
    df.coalesce(2).write.parquet(f"{d}/orders.parquet")


def _order(key, status, price, day=1, cust=None, month=1, year=1995):
    return (
        key,
        cust if cust is not None else key,
        status,
        price,
        dt.datetime(year, month, day),
        "3-MEDIUM",
    )


def _events_dir(spark, rows, d):
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    df.coalesce(2).write.parquet(f"{d}/events.parquet")


def _event(eid, user, etype, minute, hour=0, day=1, value=1.0):
    return (
        eid,
        dt.datetime(2024, 1, day, hour, minute),
        user,
        etype,
        value,
        "{}",
    )


# --- stats family ---------------------------------------------------------


def test_kruskal_wallis_complete_separation(spark):
    """Three fully separated groups of 3: every rank is determined, so
    H hits its k=3, n=9 maximum 12/(9*10) * (6+90+306)/... -- computed
    directly: rank sums 6/15/24 -> H = 12/(N(N+1)) * sum(R^2/n) - 3(N+1)
    = 12/90 * (12 + 75 + 192) - 30 = 7.2. No ties -> h_adj == h_stat."""
    rows = [_order(i, "F", float(i)) for i in range(1, 4)]
    rows += [_order(i + 3, "O", float(i + 10)) for i in range(1, 4)]
    rows += [_order(i + 6, "P", float(i + 20)) for i in range(1, 4)]
    with tempfile.TemporaryDirectory() as d:
        _orders_dir(spark, rows, d)
        r = REL_QUERIES["agg_kruskal_wallis"](spark, d).collect()[0]
    assert (r.n_f, r.n_o, r.n_p, r.n) == (3, 3, 3, 9)
    assert r.tie_term == 0
    assert abs(r.h_stat - 7.2) < 1e-9
    assert r.h_adj == r.h_stat


def test_kruskal_wallis_identical_groups_h_zero(spark):
    """The three groups hold the same single value: all mass is one tie,
    every rank sum proportional to n -> H = 0 before tie correction."""
    rows = [_order(i, s, 5.0) for i, s in enumerate(["F", "O", "P"] * 2)]
    with tempfile.TemporaryDirectory() as d:
        _orders_dir(spark, rows, d)
        r = REL_QUERIES["agg_kruskal_wallis"](spark, d).collect()[0]
    assert abs(r.h_stat) < 1e-9
    assert r.tie_term == 6**3 - 6
    assert r.h_adj is None  # tie correction hits exactly 0 -> NULL


def test_anova_equal_group_means_f_zero(spark):
    """All groups share mean and spread -> SSB ~ 0, F ~ 0."""
    rows = []
    k = 0
    for rf in ("A", "N", "R"):
        for q in (10.0, 20.0, 30.0):
            k += 1
            rows.append(
                (k, k, k, 1, q, 100.0, 0.0, 0.0, rf, "O",
                 dt.datetime(1995, 1, 1))
            )
    with tempfile.TemporaryDirectory() as d:
        df = spark.createDataFrame(
            rows,
            "l_orderkey long, l_partkey long, l_suppkey long,"
            " l_linenumber int, l_quantity double, l_extendedprice double,"
            " l_discount double, l_tax double, l_returnflag string,"
            " l_linestatus string, l_shipdate timestamp",
        )
        df.coalesce(2).write.parquet(f"{d}/lineitem.parquet")
        r = REL_QUERIES["agg_anova_oneway"](spark, d).collect()[0]
    assert r.n == 9 and r.df_within == 6
    assert abs(r.ss_between) < 1e-9
    assert abs(r.f_stat) < 1e-9


def test_cramers_v_perfect_association_is_one(spark):
    """Bijective segment->region mapping over all 5x5 categories:
    chi^2 = N * (k-1) = 4N, V = sqrt(4N / 4N) = 1."""
    segs = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    regs = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    cust, nation, region = [], [], []
    for i, (s, r) in enumerate(zip(segs, regs)):
        region.append((i, r))
        nation.append((i, f"NATION{i}", i))
        for j in range(3):
            cust.append((i * 10 + j, f"Customer#{i}{j}", i, 100.0, s))
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            cust,
            "c_custkey long, c_name string, c_nationkey int,"
            " c_acctbal double, c_mktsegment string",
        ).write.parquet(f"{d}/customer.parquet")
        spark.createDataFrame(
            nation, "n_nationkey int, n_name string, n_regionkey int"
        ).write.parquet(f"{d}/nation.parquet")
        spark.createDataFrame(
            region, "r_regionkey int, r_name string"
        ).write.parquet(f"{d}/region.parquet")
        r = REL_QUERIES["agg_cramers_v"](spark, d).collect()[0]
    assert r.n == 15
    assert abs(r.chi_square - 4 * 15) < 1e-9
    assert abs(r.cramers_v - 1.0) < 1e-12


def test_cohens_d_known_value(spark):
    """BUILDING = {1,3}, MACHINERY = {6,8}: pooled var = 2, d = -5/sqrt(2)."""
    rows = [
        (1, "Customer#1", 0, 1.0, "BUILDING"),
        (2, "Customer#2", 0, 3.0, "BUILDING"),
        (3, "Customer#3", 0, 6.0, "MACHINERY"),
        (4, "Customer#4", 0, 8.0, "MACHINERY"),
    ]
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            rows,
            "c_custkey long, c_name string, c_nationkey int,"
            " c_acctbal double, c_mktsegment string",
        ).write.parquet(f"{d}/customer.parquet")
        r = REL_QUERIES["agg_cohens_d"](spark, d).collect()[0]
    assert (r.n1, r.n2) == (2, 2)
    assert abs(r.mean_building - 2.0) < 1e-9
    assert abs(r.mean_machinery - 7.0) < 1e-9
    assert abs(r.cohens_d - (-5.0 / 2.0**0.5)) < 1e-9


def test_mood_median_identical_groups_chi_zero(spark):
    """Same value multiset in every group -> identical above/below splits
    -> chi-square exactly 0."""
    rows = []
    k = 0
    for s in ("F", "O", "P"):
        for p in (1.0, 2.0, 3.0, 4.0):
            k += 1
            rows.append(_order(k, s, p))
    with tempfile.TemporaryDirectory() as d:
        _orders_dir(spark, rows, d)
        r = REL_QUERIES["agg_mood_median_test"](spark, d).collect()[0]
    # type-1 median of 12 values (1,1,1,2,2,2,3,3,3,4,4,4) -> rank 6 -> 2
    assert r.median_cents == 200
    assert r.f_above == r.o_above == r.p_above == 2
    assert abs(r.chi_square) < 1e-9


def test_wilcoxon_all_positive_diffs(spark):
    """Every customer's 1996 revenue exceeds 1995 -> T+ = n(n+1)/2 and
    z > 0 (doubled lattice: t2_plus = n(n+1))."""
    rows = []
    for c in range(1, 6):
        rows.append(_order(c * 10, "F", 100.0, cust=c, year=1995))
        rows.append(
            _order(c * 10 + 1, "F", 100.0 + 10 * c, cust=c, year=1996)
        )
    with tempfile.TemporaryDirectory() as d:
        _orders_dir(spark, rows, d)
        r = REL_QUERIES["agg_wilcoxon_signed_rank"](spark, d).collect()[0]
    assert r.n == 5
    assert r.t2_plus == 5 * 6  # doubled T+ = n(n+1)
    assert r.t_plus == 15.0
    assert r.z_stat > 2.0


def test_weighted_correlation_perfect_line(spark):
    """discount = 0 -> y == x exactly -> weighted corr == 1.0."""
    rows = []
    for i in range(1, 20):
        rows.append(
            (i, i, i, 1, float(1 + i % 5), 100.0 * i, 0.0, 0.0, "N", "O",
             dt.datetime(1995, 1, 1))
        )
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            rows,
            "l_orderkey long, l_partkey long, l_suppkey long,"
            " l_linenumber int, l_quantity double, l_extendedprice double,"
            " l_discount double, l_tax double, l_returnflag string,"
            " l_linestatus string, l_shipdate timestamp",
        ).write.parquet(f"{d}/lineitem.parquet")
        r = REL_QUERIES["agg_weighted_correlation"](spark, d).collect()[0]
    assert abs(r.weighted_corr - 1.0) < 1e-12


def test_qq_deciles_identical_populations(spark):
    """F and O hold the same value multiset -> every decile ratio is 1."""
    rows = []
    k = 0
    for s in ("F", "O"):
        for p in range(1, 21):
            k += 1
            rows.append(_order(k, s, float(p)))
    with tempfile.TemporaryDirectory() as d:
        _orders_dir(spark, rows, d)
        out = REL_QUERIES["agg_qq_deciles"](spark, d).collect()
    assert len(out) == 9
    assert all(r.qq_ratio == 1.0 for r in out)
    assert all(r.f_cents == r.o_cents for r in out)


# --- windows family -------------------------------------------------------


def test_bollinger_flat_series_never_breaks_out(spark):
    """Constant daily revenue: sd = 0 on full frames, price == sma, no
    breakout either side."""
    rows = [_order(i, "F", 100.0, day=1 + (i - 1) % 28,
                   month=1 + (i - 1) // 28) for i in range(1, 57)]
    with tempfile.TemporaryDirectory() as d:
        _orders_dir(spark, rows, d)
        out = WIN_QUERIES["window_bollinger_breakout"](spark, d).collect()
    full = [r for r in out if r.n_frame == 20]
    assert full
    assert all(r.sd == 0.0 for r in full)
    assert all(r.breakout_up is False and r.breakout_down is False for r in full)


def test_donchian_increasing_series_always_breaks_up(spark):
    rows = [_order(i, "F", 100.0 * i, day=1 + (i - 1) % 28,
                   month=1 + (i - 1) // 28) for i in range(1, 31)]
    with tempfile.TemporaryDirectory() as d:
        _orders_dir(spark, rows, d)
        out = WIN_QUERIES["window_donchian_channel"](spark, d).collect()
    by_day = sorted(out, key=lambda r: r.day)
    assert by_day[0].high_20 is None and by_day[0].breakout_up is None
    assert all(r.breakout_up for r in by_day[1:])
    assert not any(r.breakout_down for r in by_day[1:])


def test_drawup_symmetry_monotone_rise_has_zero_drawdown(spark):
    rows = [_order(i, "F", 100.0 * i, day=i) for i in range(1, 11)]
    with tempfile.TemporaryDirectory() as d:
        _orders_dir(spark, rows, d)
        r = WIN_QUERIES["window_drawup_symmetry"](spark, d).collect()[0]
    assert r.max_drawdown_cents == 0
    assert r.max_drawup_cents == 90000  # 1000.00 - 100.00 in cents
    assert r.updown_asymmetry is None  # zero drawdown -> NULL, not an error


def test_obv_flow_monotone_increase_accumulates(spark):
    rows = [_order(i, "F", 100.0 * i, day=i, cust=7) for i in range(1, 5)]
    with tempfile.TemporaryDirectory() as d:
        _orders_dir(spark, rows, d)
        out = sorted(
            WIN_QUERIES["window_obv_flow"](spark, d).collect(),
            key=lambda r: r.o_orderkey,
        )
    assert out[0].flow == 0
    assert [r.flow for r in out[1:]] == [20000, 30000, 40000]
    assert [r.obv for r in out] == [0, 20000, 50000, 90000]


def test_gap_zscore_flags_cadence_break(spark):
    """Regular 10-day cadence then a 100-day gap: the break row carries a
    large positive z and the flag."""
    days = [1, 11, 21, 31, 41, 51, 61]
    rows = [
        _order(i + 1, "F", 100.0,
               day=1 + (dd - 1) % 28, month=1 + (dd - 1) // 28, cust=3)
        for i, dd in enumerate(days)
    ]
    rows.append(_order(99, "F", 100.0, day=20, month=7, cust=3))
    with tempfile.TemporaryDirectory() as d:
        _orders_dir(spark, rows, d)
        out = sorted(
            WIN_QUERIES["window_gap_zscore"](spark, d).collect(),
            key=lambda r: r.o_orderkey,
        )
    assert out[0].gap_days is None and out[0].gap_z is None
    # early rows (frame < 3 gaps) carry NULL flags; none may flag True
    assert all(not r.cadence_break for r in out[1:-1])
    assert out[-1].cadence_break is True and out[-1].gap_z > 2.0


def test_ema_macd_constant_series_is_flat(spark):
    rows = [_order(i, "F", 250.0, day=1 + (i - 1) % 28,
                   month=1 + (i - 1) // 28) for i in range(1, 61)]
    with tempfile.TemporaryDirectory() as d:
        _orders_dir(spark, rows, d)
        out = WIN_QUERIES["window_ema_macd"](spark, d).collect()
    assert all(abs(r.ema12 - 250.0) < 1e-9 for r in out)
    assert all(abs(r.macd) < 1e-9 for r in out)


# --- events family ----------------------------------------------------------


def test_stickiness_everyone_every_day_is_one(spark):
    rows = []
    eid = 0
    for day in range(1, 8):  # one ISO week, Mon 2024-01-01 .. Sun
        for u in (1, 2, 3):
            eid += 1
            rows.append(_event(eid, u, "view", minute=u, day=day))
    with tempfile.TemporaryDirectory() as d:
        _events_dir(spark, rows, d)
        r = EVENT_QUERIES["events_stickiness_ratio"](spark, d).collect()
    assert len(r) == 1
    assert r[0].wau == 3 and r[0].n_active_days == 7
    assert abs(r[0].stickiness - 1.0) < 1e-12


def test_power_user_curve_shares_sum_to_one(spark):
    out = EVENT_QUERIES["events_power_user_curve"](spark, SF_DIR).collect()
    assert len(out) == 10
    assert abs(sum(r.event_share for r in out) - 1.0) < 1e-9
    by_decile = sorted(out, key=lambda r: r.decile)
    # deciles are ordered by activity: totals must be non-decreasing
    shares = [r.sum_events / r.n_users for r in by_decile]
    assert shares == sorted(shares)


def test_ewma_control_chart_constant_series_in_control(spark):
    rows = [_event(i, 1, "view", minute=i % 60, hour=(i // 60) % 24,
                   day=1 + i // 1440) for i in range(240)]
    with tempfile.TemporaryDirectory() as d:
        _events_dir(spark, rows, d)
        out = EVENT_QUERIES["events_ewma_control_chart"](spark, d).collect()
    # 60 events every hour, zero variance -> limits collapse onto the mean
    assert all(r.out_of_control is False for r in out)
    assert all(abs(r.ewma - r.n) < 1e-9 for r in out)


def test_session_depth_quantiles_single_user_sessions(spark):
    """Two sessions of depth 2 and 6 (gap > 30 min between them)."""
    rows = [_event(i, 1, "view", minute=i) for i in range(2)]
    rows += [_event(10 + i, 1, "view", minute=i, hour=5) for i in range(6)]
    with tempfile.TemporaryDirectory() as d:
        _events_dir(spark, rows, d)
        r = EVENT_QUERIES["events_session_depth_quantiles"](spark, d).collect()[0]
    assert r.n_sessions == 2 and r.max_depth == 6
    assert r.p50_depth == 4.0  # interpolated median of {2, 6}


def test_cooccurrence_lift_perfect_pairing(spark):
    """view and purchase co-occur in BOTH sessions; lift = P(ab)/(PaPb)
    = 1 when each type appears in every session."""
    rows = [
        _event(1, 1, "view", minute=0),
        _event(2, 1, "purchase", minute=1),
        _event(3, 2, "view", minute=0),
        _event(4, 2, "purchase", minute=1),
    ]
    with tempfile.TemporaryDirectory() as d:
        _events_dir(spark, rows, d)
        out = EVENT_QUERIES["events_type_cooccurrence_lift"](spark, d).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.type_a, r.type_b) == ("purchase", "view")
    assert r.n_ab == 2 and r.n_a == 2 and r.n_b == 2
    assert abs(r.lift - 1.0) < 1e-12


def test_sessionization_thirty_minute_boundary(spark):
    """A gap of exactly 30:00 keeps the session open; 30:00.000001
    opens a new one (the micros comparison every session builder
    shares)."""
    t0 = dt.datetime(2024, 1, 1, 0, 0)
    t1 = t0 + dt.timedelta(minutes=30)
    t2 = t1 + dt.timedelta(minutes=30, microseconds=1)
    rows = [(i, t, 1, "view", 1.0, "{}") for i, t in enumerate((t0, t1, t2))]
    with tempfile.TemporaryDirectory() as d:
        _events_dir(spark, rows, d)
        out = EVENT_QUERIES["events_sessionization"](spark, d).collect()
    out = sorted(out, key=lambda r: r.session_id)
    assert [r.n_events for r in out] == [2, 1]


def test_weekday_effect_bps_sum_exactly_10000(spark):
    out = EVENT_QUERIES["events_weekday_effect"](spark, SF_DIR).collect()
    assert sum(r.allocated_bps for r in out) == 10000
    assert all(abs(r.allocated_bps - r.floor_bps) <= 1 for r in out)


# --- sampling ---------------------------------------------------------------


def test_group_holdout_no_leakage_and_full_cover(spark):
    out = SAMPLE_QUERIES["sample_group_holdout_split"](spark, SF_DIR).collect()
    assert all(r.leaked_users == 0 for r in out)
    assert {r.split for r in out} <= {"train", "val", "test"}


def test_inverse_frequency_weights_sum_to_budget(spark):
    out = SAMPLE_QUERIES["sample_inverse_frequency_weights"](
        spark, SF_DIR
    ).collect()
    assert sum(r.allocated_ppm for r in out) == 1_000_000
    # rarer class never gets a smaller weight than a more common one
    by_n = sorted(out, key=lambda r: (r.n_docs, r.lang))
    weights = [r.allocated_ppm for r in by_n]
    assert all(a >= b - 1 for a, b in zip(weights, weights[1:]))


def test_backtest_folds_no_temporal_leakage(spark):
    out = SAMPLE_QUERIES["sample_sliding_window_backtest"](
        spark, SF_DIR
    ).collect()
    by_fold = {}
    for r in out:
        by_fold.setdefault(r.fold, {})[r.role] = r
    for fold, roles in by_fold.items():
        assert "train" in roles and "test" in roles
        assert roles["train"].last_month < roles["test"].first_month
        if "future" in roles:
            assert roles["test"].last_month < roles["future"].first_month


# --- text / dedup -----------------------------------------------------------


def test_mojibake_audit_accounts_every_doc(spark):
    out = TEXT_QUERIES["text_mojibake_audit"](spark, SF_DIR).collect()
    n_docs = sum(r.n_docs for r in out)
    assert n_docs == 500  # sf0.001 documents count
    assert any(r.repl_chars > 0 for r in out)
    assert any(r.control_chars > 0 for r in out)
    assert all(r.clean_docs <= r.n_docs for r in out)


def test_url_canonical_strips_noise(spark):
    out = DEDUP_QUERIES["dedup_url_canonical"](spark, SF_DIR).collect()
    assert sum(r.n_urls for r in out) == 500
    # canonical forms carry no fragments, tracking params, default ports
    for r in out:
        assert "#" not in r.canonical_url
        assert "utm_" not in r.canonical_url
        assert ":443" not in r.canonical_url and ":80/" not in r.canonical_url
    # canonicalization genuinely merges raw variants somewhere
    assert any(r.n_raw_variants > 1 for r in out)


def test_record_linkage_mostly_self_matches(spark):
    out = DEDUP_QUERIES["dedup_record_linkage_score"](spark, SF_DIR).collect()
    assert len(out) == 150  # one best match per incoming record
    hit_rate = sum(r.is_true_match for r in out) / len(out)
    assert hit_rate >= 0.9
    assert all(0 <= r.score <= 18 for r in out)


def test_stopword_insensitive_jaccard_bounds(spark):
    out = DEDUP_QUERIES["dedup_stopword_insensitive"](spark, SF_DIR).collect()
    assert all(0.2 <= r.jaccard <= 1.0 for r in out)
    assert all(r.doc_a < r.doc_b for r in out)


# --- similarity / approx ----------------------------------------------------


def test_ams_f2_estimator_sane(spark):
    r = APPROX_QUERIES["approx_ams_f2_sketch"](spark, SF_DIR).collect()[0]
    assert r.f2_exact > 0
    # 8-estimator mean: loose 10x envelope (variance 2 F2^2 / 8)
    assert r.f2_exact / 10 <= r.f2_estimate <= r.f2_exact * 10
    for i in range(8):
        assert abs(r[f"z_{i}"]) <= r.f2_exact


def test_reservoir_quantile_errors_bounded(spark):
    out = APPROX_QUERIES["approx_reservoir_quantile_twin"](
        spark, SF_DIR
    ).collect()
    assert len(out) == 9
    # 1000-of-1500 deterministic sample: deciles land within 20%
    assert all(r.rel_err < 0.2 for r in out)


def test_jl_projection_distortion_centered(spark):
    r = SIM_QUERIES["sim_jl_projection_audit"](spark, SF_DIR).collect()[0]
    assert r.n_pairs > 0
    assert 0.2 < r.p50_distortion < 3.0
    assert r.min_distortion <= r.p50_distortion <= r.max_distortion


def test_nprobe_recall_monotone(spark):
    out = sorted(
        SIM_QUERIES["sim_nprobe_recall_sweep"](spark, SF_DIR).collect(),
        key=lambda r: r.nprobe,
    )
    assert [r.nprobe for r in out] == [1, 2, 4, 8]
    recalls = [r.recall_at_10 for r in out]
    cands = [r.n_candidates for r in out]
    assert recalls == sorted(recalls)
    assert cands == sorted(cands)
    assert recalls[-1] == 1.0  # 8 probes >= all cells at this fixture


def test_centroid_drift_nonnegative(spark):
    out = SIM_QUERIES["sim_centroid_drift_by_source"](spark, SF_DIR).collect()
    assert len(out) == 20
    assert all(r.drift_l2 >= 0.0 for r in out)
    assert all(r.max_dim_shift <= r.drift_l2 + 1e-12 for r in out)


def test_dim_quantization_error_bounded_by_half_step(spark):
    out = SIM_QUERIES["sim_dim_quantization_error"](spark, SF_DIR).collect()
    assert len(out) == 64
    for r in out:
        # |true reconstruction error| <= half a quantization step
        # (plus the 1e-6 lattice slop on both terms)
        assert r.mean_abs_err < 0.5 / 127 + 2e-6


# --- etl / quality / temporal / multimodal ----------------------------------


def test_bitemporal_correction_visible_only_after_tx(spark):
    out = ETL_QUERIES["etl_bitemporal_asof"](spark, SF_DIR).collect()
    by_key = {}
    for r in out:
        by_key.setdefault(r.custkey, {})[str(r.as_known_at)] = r.value
    # a corrected key (divisible by 21): +90 at the early probe, +100 later
    corrected = [k for k in by_key if k % 21 == 0 and k % 7 == 0]
    assert corrected
    for k in corrected:
        early = by_key[k]["1996-01-15"]
        late = by_key[k]["1996-03-01"]
        assert abs(late - early - 10.0) < 1e-9
    # unchanged keys read identically at both probes
    plain = [k for k in by_key if k % 7 != 0]
    assert all(
        by_key[k]["1996-01-15"] == by_key[k]["1996-03-01"] for k in plain
    )


def test_schema_drift_statuses(spark):
    out = {r.col_name: r for r in DQ_QUERIES["dq_schema_drift_diff"](
        spark, SF_DIR
    ).collect()}
    assert out["amount"].status == "type_changed"
    assert out["legacy_flag"].status == "removed"
    assert out["category"].status == "added"
    assert out["score"].status == "added"
    assert out["id"].status == "unchanged"
    assert out["created_at"].status == "unchanged"


def test_checksum_dedup_groups(spark):
    out = ETL_QUERIES["etl_input_file_checksum_dedup"](spark, SF_DIR).collect()
    sizes = sorted(r.n_files for r in out)
    assert sizes == [1, 2, 3, 3]
    assert sum(r.n_files for r in out) == 9
    dup = [r for r in out if r.is_duplicated]
    assert all(r.n_files > 1 for r in dup) and len(dup) == 3


def test_candidate_key_audit_orderkey_unique(spark):
    out = {r.candidate_key: r for r in DQ_QUERIES["dq_candidate_key_audit"](
        spark, SF_DIR
    ).collect()}
    pk = out["o_orderkey"]
    assert pk.n_dup_keys == 0 and pk.uniqueness_rate == 1.0
    status = out["o_custkey,o_orderstatus"]
    assert status.n_keys <= status.n_rows


def test_temporal_anti_join_planted(spark):
    """Click with a purchase 1 hour later is excluded; lone click kept."""
    rows = [
        _event(1, 1, "click", minute=0),
        _event(2, 1, "purchase", minute=0, hour=1),
        _event(3, 2, "click", minute=0),
    ]
    with tempfile.TemporaryDirectory() as d:
        _events_dir(spark, rows, d)
        out = TEMP_QUERIES["temporal_anti_join_window"](spark, d).collect()
    assert [r.event_id for r in out] == [3]


def test_tile_index_arithmetic(spark):
    out = MM_QUERIES["multimodal_tile_index"](spark, SF_DIR).collect()
    for r in out:
        assert r.n_tiles == r.n_tiles_x * r.n_tiles_y
        assert 1 <= r.last_tile_w <= 16 and 1 <= r.last_tile_h <= 16
        assert (r.n_tiles_x - 1) * 16 + r.last_tile_w == r.width
        assert r.padded_pixels == r.n_tiles * 256 - r.width * r.height


def test_graph_degree_histogram_handshake(spark):
    out = TEXT_QUERIES["graph_degree_histogram"](spark, SF_DIR).collect()
    n_nodes = out[0].n_nodes
    assert sum(r.n_nodes_at_degree for r in out) == n_nodes
    assert abs(sum(r.node_share for r in out) - 1.0) < 1e-9
    total_degree = sum(r.degree * r.n_nodes_at_degree for r in out)
    assert total_degree == 2 * out[0].n_edges


def test_jaccard_link_prediction_bounds(spark):
    out = TEXT_QUERIES["graph_jaccard_link_prediction"](spark, SF_DIR).collect()
    assert 0 < len(out) <= 50
    for r in out:
        assert 0.0 < r.capped_jaccard <= 1.0
        assert r.common_neighbors <= min(r.deg_a, r.deg_b)
