"""Semantic checks for the round-7 operators (beyond the oracle diff the
mimic already runs): planted fixtures exercising each operator's defining
property."""

from __future__ import annotations

import datetime as dt
import tempfile

from pyspark.sql import functions as F

from large_csv_etl_spark.queries.etl import QUERIES as ETL_QUERIES
from large_csv_etl_spark.queries.events import QUERIES as EVENT_QUERIES
from large_csv_etl_spark.queries.quality import QUERIES as QUALITY_QUERIES
from large_csv_etl_spark.queries.streamq import QUERIES as STREAM_QUERIES
from large_csv_etl_spark.queries.text import QUERIES as TEXT_QUERIES

from .conftest import SF_DIR, SF_DIR_MID


def _events_dir(spark, rows, d):
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    df.coalesce(2).write.parquet(f"{d}/events.parquet")


def _docs_dir(spark, rows, d):
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.coalesce(2).write.parquet(f"{d}/documents.parquet")


def test_cdc_apply_deletes_win_and_updates_apply(spark):
    """Keys %7==0 must be absent (terminal delete), keys %5==0 (and not
    %7) must carry price+100 at seq 2, everything else the seq-1
    insert."""
    out = {
        r.o_orderkey: r for r in ETL_QUERIES["etl_cdc_apply"](spark, SF_DIR).collect()
    }
    base = {
        r.o_orderkey: r.o_totalprice
        for r in spark.read.parquet(f"{SF_DIR}/orders.parquet").collect()
    }
    assert base, "fixture empty"
    for k, price in base.items():
        if k % 7 == 0:
            assert k not in out, f"deleted key {k} survived"
        elif k % 5 == 0:
            assert out[k].last_seq == 2
            assert out[k].final_price == price + 100.0
        else:
            assert out[k].last_seq == 1
            assert out[k].final_price == price


def test_debounce_bursts_splits_on_gap(spark):
    """Three rapid repeats then one event past the 5-min window: 2
    dropped, 2 kept; a different event type never absorbs the burst."""
    t0 = dt.datetime(2024, 1, 1)
    s = lambda sec: t0 + dt.timedelta(seconds=sec)
    rows = [
        (1, s(0), 1, "click", 1.0, "{}"),
        (2, s(10), 1, "click", 1.0, "{}"),   # repeat (10s)
        (3, s(20), 1, "click", 1.0, "{}"),   # repeat (10s)
        (4, s(20 + 301), 1, "click", 1.0, "{}"),  # new burst (>300s)
        (5, s(15), 1, "view", 1.0, "{}"),    # other type: own stream
    ]
    with tempfile.TemporaryDirectory() as d:
        _events_dir(spark, rows, d)
        out = {
            r.event_type: r
            for r in EVENT_QUERIES["events_debounce_bursts"](spark, d).collect()
        }
    assert out["click"].n_events == 4
    assert out["click"].n_kept == 2
    assert out["click"].n_dropped == 2
    assert out["view"].n_kept == 1 and out["view"].n_dropped == 0


def test_interarrival_histogram_buckets_exact_gaps(spark):
    """Gaps of 1s, 3s, and 3600s land in buckets 1, 4, and 4096; shares
    sum to 1."""
    t0 = dt.datetime(2024, 1, 1)
    s = lambda sec: t0 + dt.timedelta(seconds=sec)
    rows = [
        (1, s(0), 1, "click", 1.0, "{}"),
        (2, s(1), 1, "click", 1.0, "{}"),        # gap 1 -> bucket 1
        (3, s(4), 1, "click", 1.0, "{}"),        # gap 3 -> bucket 4
        (4, s(4 + 3600), 1, "click", 1.0, "{}"), # gap 3600 -> bucket 4096
    ]
    with tempfile.TemporaryDirectory() as d:
        _events_dir(spark, rows, d)
        out = {
            r.bucket_s: r
            for r in EVENT_QUERIES["events_interarrival_histogram"](
                spark, d
            ).collect()
        }
    assert set(out) == {1, 4, 4096}
    assert all(r.n_gaps == 1 for r in out.values())
    assert abs(sum(r.share for r in out.values()) - 1.0) < 1e-12


def test_seasonal_naive_error_on_planted_weekly_pattern(spark):
    """A perfectly 7-periodic series has zero MAE/MAPE; doubling one day
    breaks exactly the two comparisons that involve it."""
    t0 = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    for day in range(14):
        n = 3 + (day % 7)  # weekly pattern
        if day == 8:
            n *= 2  # anomaly
        for k in range(n):
            rows.append(
                (eid, t0 + dt.timedelta(days=day, minutes=k), 1, "click", 1.0, "{}")
            )
            eid += 1
    with tempfile.TemporaryDirectory() as d:
        _events_dir(spark, rows, d)
        r = EVENT_QUERIES["events_seasonal_naive_error"](spark, d).first()
    assert r.n_eval_days == 7
    # only day 8 (actual 2x) errs vs day 1; days 9..13 match exactly;
    # day 8 as the forecast base for day 15 is out of range
    assert r.mae == (3 + 1) / 7.0  # |8 - 4| on one of seven days
    assert r.mape > 0


def test_vocab_growth_is_monotone_and_flattens_on_redundant_tail(spark):
    """Cumulative vocab/tokens are monotone; a corpus whose second half
    repeats the first half's vocabulary adds ~no new types after decile
    5 while tokens keep growing."""
    rows = []
    for i in range(1, 101):
        if i <= 50:
            text = " ".join(f"w{i}_{j}" for j in range(10))  # all-new types
        else:
            text = " ".join(f"w{i - 50}_{j}" for j in range(10))  # rerun
        rows.append((i, text, "en", "s", 0))
    with tempfile.TemporaryDirectory() as d:
        _docs_dir(spark, rows, d)
        out = sorted(
            TEXT_QUERIES["text_vocab_growth"](spark, d).collect(),
            key=lambda r: r.decile,
        )
    assert [r.decile for r in out] == list(range(1, 11))
    for a, b in zip(out, out[1:]):
        assert b.cum_tokens >= a.cum_tokens and b.cum_vocab >= a.cum_vocab
    assert out[4].cum_vocab == 500  # first half: all distinct
    assert out[9].cum_vocab == 500  # second half adds nothing
    assert out[9].cum_tokens == 1000
    assert out[9].type_token_ratio == 0.5


def test_triangle_count_on_known_graph(spark):
    """Doc {a,b,c} plus doc {b,d}: one triangle (a,b,c), 4 nodes, 4
    edges, clustering = 3*1/wedges with wedges = sum C(deg,2) = 1+3+1+0
    = 5."""
    rows = [
        (1, "a b c", "en", "s", 0),
        (2, "b d", "en", "s", 0),
    ]
    with tempfile.TemporaryDirectory() as d:
        _docs_dir(spark, rows, d)
        r = TEXT_QUERIES["graph_triangle_count"](spark, d).first()
    assert r.n_nodes == 4
    assert r.n_edges == 4
    assert r.n_triangles == 1
    assert r.n_wedges == 5
    assert abs(r.global_clustering - 3.0 / 5.0) < 1e-12


def test_benford_audit_exposes_single_decade_prices(spark):
    """The TPC-H-ish price fixture lives in one decade, so observed
    first-digit mass must deviate from Benford; the report itself must
    be internally consistent (freqs sum to 1, expected freqs are the
    Benford constants)."""
    out = QUALITY_QUERIES["dq_benford_first_digit"](spark, SF_DIR_MID).collect()
    assert {r.digit for r in out} <= set(range(1, 10))
    assert abs(sum(r.obs_freq for r in out) - 1.0) < 1e-9
    assert abs(sum(r.exp_freq for r in out) - 1.0) < 1e-9
    total_dev = sum(r.abs_dev for r in out)
    assert total_dev > 0.1, f"uniform-decade fixture should fail Benford: {total_dev}"


def test_streaming_segment_counts_matches_batch_twin(spark):
    """The availableNow drain must equal the batch join+agg bit for bit
    (the oracle the driver grades is the same SQL; this pins the parity
    inside pytest too, including the 'unknown' fallback for user_id 0)."""
    stream = {
        (r.day_start, r.segment): (r.n_events, r.total_value)
        for r in STREAM_QUERIES["streaming_segment_counts"](
            spark, SF_DIR
        ).collect()
    }
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    cust = spark.read.parquet(f"{SF_DIR}/customer.parquet")
    batch = (
        ev.join(cust, ev.user_id == cust.c_custkey, "left")
        .withColumn("segment", F.coalesce("c_mktsegment", F.lit("unknown")))
        .groupBy(
            F.date_trunc("day", "ts").alias("day_start"), "segment"
        )
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(30,4)"))
            .cast("double")
            .alias("v"),
        )
    )
    expected = {
        (r.day_start, r.segment): (r.n, r.v) for r in batch.collect()
    }
    assert stream == expected
    # the 'unknown' fallback appears exactly when some user has no
    # customer row (fixture-dependent: user 0 exists at sf0.01+)
    has_orphan = (
        ev.join(cust, ev.user_id == cust.c_custkey, "left_anti").count() > 0
    )
    assert any(k[1] == "unknown" for k in stream) == has_orphan


def test_gini_known_distribution(spark):
    """Planted revenues [1,1,1,1,6] (cents x100): G = 2*rank_mass/(n*mass)
    - (n+1)/n with rank_mass = 1+2+3+4+30 = 40 -> 2*40/(5*10) - 6/5 =
    0.4; top-1-unit (=top 20%... r1 picks ceil(n/100)=1 unit) share =
    0.6."""
    import tempfile

    from large_csv_etl_spark.queries.relational import (
        QUERIES as REL_QUERIES,
    )

    rows = [(i, i, "O", p, None, "1-URGENT") for i, p in enumerate(
        [0.01, 0.01, 0.01, 0.01, 0.06], start=1
    )]
    df = spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    )
    with tempfile.TemporaryDirectory() as d:
        df.coalesce(1).write.parquet(f"{d}/orders.parquet")
        r = REL_QUERIES["agg_gini_concentration"](spark, d).first()
    assert r.n_customers == 5
    assert r.total_cents == 10
    assert abs(r.gini - 0.4) < 1e-12
    assert abs(r.top1pct_share - 0.6) < 1e-12  # ceil(5/100)=1 unit: the 6
    assert abs(r.top10pct_share - 0.6) < 1e-12


def test_neyman_allocation_favors_spread_strata(spark):
    """Two strata, same size; one constant-valued (S=0), one spread: the
    whole budget must go to the spread stratum, and the degenerate one
    gets stddev 0 / weight 0."""
    import tempfile

    from large_csv_etl_spark.queries.sampling import (
        QUERIES as SAMPLE_QUERIES,
    )

    rows = []
    for i in range(100):
        rows.append((i, i, "O", 50.0, None, "FLAT"))
        rows.append((1000 + i, i, "O", float(10 + i), None, "SPREAD"))
    df = spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    )
    with tempfile.TemporaryDirectory() as d:
        df.coalesce(1).write.parquet(f"{d}/orders.parquet")
        out = {
            r.stratum: r
            for r in SAMPLE_QUERIES["sample_neyman_allocation"](
                spark, d
            ).collect()
        }
    assert out["FLAT"].stddev_price == 0.0
    assert out["FLAT"].alloc_n == 0
    assert out["SPREAD"].alloc_n == 10000
    assert abs(out["SPREAD"].weight_share - 1.0) < 1e-12
    assert abs(out["FLAT"].mean_price - 50.0) < 1e-9


def test_ann_recall_audit_bounds_and_ivf_consistency(spark):
    """recall@10 in [0,1] and == n_overlap/10; rank1_match in {0,1}; and
    the audit must agree with recomputing the overlap from its two
    component queries directly."""
    from large_csv_etl_spark.queries.similarity import (
        QUERIES as SIM_QUERIES,
    )

    r = SIM_QUERIES["sim_ann_recall_audit"](spark, SF_DIR).first()
    assert 0 <= r.n_overlap <= 10
    assert abs(r.recall_at_10 - r.n_overlap / 10.0) < 1e-12
    assert r.rank1_match in (0, 1)
    exact = {
        row.vec_id
        for row in SIM_QUERIES["sim_cosine_topk"](spark, SF_DIR).collect()
    }
    ann = {
        row.vec_id
        for row in SIM_QUERIES["sim_ivf_portable_topk"](
            spark, SF_DIR
        ).collect()
    }
    assert r.n_overlap == len(exact & ann)


def test_markov_stationary_on_two_state_chain(spark):
    """A strict A->B->A alternating chain has stationary (0.5, 0.5); the
    fixed-point ranks must sum to ~MARKOV_SCALE (mass conservation)."""
    from large_csv_etl_spark.queries.events import (
        MARKOV_SCALE,
        QUERIES as EQ,
    )

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (i, t0 + dt.timedelta(minutes=i), 1, "A" if i % 2 == 0 else "B", 1.0, "{}")
        for i in range(20)
    ]
    with tempfile.TemporaryDirectory() as d:
        _events_dir(spark, rows, d)
        out = {r.event_type: r for r in EQ["events_markov_stationary"](spark, d).collect()}
    assert set(out) == {"A", "B"}
    assert abs(out["A"].stationary_prob - 0.5) < 1e-9
    assert abs(out["B"].stationary_prob - 0.5) < 1e-9
    total = out["A"].stationary_fp + out["B"].stationary_fp
    assert abs(total - MARKOV_SCALE) <= 24  # floor-div leakage <= 2/round


def test_pq_audit_zero_error_on_codebook_points(spark):
    """Vectors that ARE their label's sub-centroids reconstruct exactly:
    one distinct vector per label => every sub-centroid equals the
    vector => total_err2 == 0."""
    import tempfile as tf

    from large_csv_etl_spark.queries.similarity import QUERIES as SQ

    rows = [(0, [0.0] * 64, 99)]  # query-slot vector, excluded from corpus
    for lbl in range(4):
        v = [float(lbl + 1) * 0.1] * 64
        for i in range(3):  # three copies: centroid == the vector
            rows.append((1 + lbl * 3 + i, v, lbl))
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    with tf.TemporaryDirectory() as d:
        df.coalesce(1).write.parquet(f"{d}/embeddings.parquet")
        r = SQ["embedding_pq_audit"](spark, d).first()
    assert r.n_vectors == 12
    assert r.total_err2 == 0
    assert r.global_rel_error == 0.0
    assert r.mean_rel_error == 0.0


def test_poisson_bootstrap_replicates_behave(spark):
    """8 replicates; each draws ~n rows (Poisson(1) mean 1); the
    replicate means cluster around the true mean and are deterministic
    across runs."""
    from large_csv_etl_spark.queries.sampling import QUERIES as SQ

    a = sorted(map(tuple, SQ["sample_poisson_bootstrap"](spark, SF_DIR_MID).collect()))
    b = sorted(map(tuple, SQ["sample_poisson_bootstrap"](spark, SF_DIR_MID).collect()))
    assert a == b, "bootstrap must be deterministic"
    n = spark.read.parquet(f"{SF_DIR_MID}/orders.parquet").count()
    true_mean = (
        spark.read.parquet(f"{SF_DIR_MID}/orders.parquet")
        .agg(F.avg("o_totalprice"))
        .first()[0]
    )
    rows = SQ["sample_poisson_bootstrap"](spark, SF_DIR_MID).collect()
    assert len(rows) == 8
    for r in rows:
        assert abs(r.n_draws - n) < 0.05 * n  # Poisson(1) total ~ n
        assert abs(r.est_mean_price - true_mean) < 0.05 * true_mean


def test_changeset_derive_roundtrips_through_semantics(spark):
    """The derived op set must classify every key correctly: keys only in
    curr are I, only in base are D, value-changed are U, and unchanged
    keys never appear."""
    out = {
        r.o_orderkey: r
        for r in ETL_QUERIES["etl_changeset_derive"](spark, SF_DIR).collect()
    }
    for k, r in out.items():
        in_base = k % 11 != 0
        in_curr = k % 13 != 0
        if r.op == "I":
            assert not in_base and in_curr
            assert r.old_price is None
        elif r.op == "D":
            assert in_base and not in_curr
            assert r.new_price is None
        else:
            assert r.op == "U" and in_base and in_curr
            assert k % 5 == 0  # only repriced keys change
            assert abs(r.new_price - r.old_price - 25.0) < 1e-9
    # unchanged keys are absent
    base_keys = {
        r.o_orderkey
        for r in spark.read.parquet(f"{SF_DIR}/orders.parquet").collect()
    }
    unchanged = [
        k
        for k in base_keys
        if k % 11 != 0 and k % 13 != 0 and k % 5 != 0
    ]
    assert unchanged and all(k not in out for k in unchanged)


def test_k_anonymity_flags_planted_unique_individual(spark):
    """A customer table where one QI combination holds a single person
    must report min_k == 1 and count them in the at-risk mass."""
    import tempfile as tf

    rows = [(i, f"c{i}", 1, 500.0, "AUTO") for i in range(20)]
    rows.append((99, "loner", 7, 9500.0, "RARE"))  # unique QI combo
    df = spark.createDataFrame(
        rows,
        "c_custkey long, c_name string, c_nationkey long,"
        " c_acctbal double, c_mktsegment string",
    )
    with tf.TemporaryDirectory() as d:
        df.coalesce(1).write.parquet(f"{d}/customer.parquet")
        r = QUALITY_QUERIES["dq_k_anonymity_audit"](spark, d).first()
    assert r.n_rows == 21
    assert r.n_groups == 2
    assert r.min_k == 1
    assert r.n_unique_rows == 1
    assert r.n_rows_below_k5 == 1
    assert abs(r.share_below_k5 - 1 / 21) < 1e-12


def test_user_feature_export_known_user(spark):
    """One user, 3 events over 2 days (2 clicks + 1 purchase): every
    feature is hand-checkable."""
    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (1, t0, 7, "click", 10.0, "{}"),
        (2, t0 + dt.timedelta(hours=1), 7, "click", 20.0, "{}"),
        (3, t0 + dt.timedelta(days=1), 7, "purchase", 30.0, "{}"),
    ]
    with tempfile.TemporaryDirectory() as d:
        _events_dir(spark, rows, d)
        r = EVENT_QUERIES["events_user_feature_export"](spark, d).first()
    assert r.user_id == 7
    assert r.n_events == 3
    assert r.n_active_days == 2
    assert r.span_us == 24 * 3600 * 1_000_000
    assert abs(r.mean_gap_us - r.span_us / 2) < 1e-6
    # Simpson: 1 - (2^2 + 1^2)/3^2 = 4/9
    assert abs(r.simpson_diversity - 4 / 9) < 1e-12
    assert r.total_value == 60.0
    assert abs(r.purchase_share - 1 / 3) < 1e-12


def test_bloom_prefilter_never_false_negative_and_sane_fpr(spark):
    """The Bloom invariant (no false negatives) must hold on the real
    corpus, and the measured FPR must sit in the ballpark of the
    analytic (1 - e^-kn/m)^k for the built filter."""
    import math

    from large_csv_etl_spark.queries.dedup import (
        BLOOM_K,
        BLOOM_M,
        QUERIES as DQ,
    )

    r = DQ["dedup_bloom_prefilter_calibration"](spark, SF_DIR_MID).first()
    assert r.n_false_negative == 0, "bloom dropped a real member"
    assert r.n_maybe >= r.n_actual
    n_inserted = (
        spark.read.parquet(f"{SF_DIR_MID}/documents.parquet")
        .filter("trim(text) <> '' AND doc_id % 2 = 0")
        .selectExpr("md5(text) AS fp")
        .distinct()
        .count()
    )
    expected_fpr = (1 - math.exp(-BLOOM_K * n_inserted / BLOOM_M)) ** BLOOM_K
    if r.false_positive_rate is not None:
        assert abs(r.false_positive_rate - expected_fpr) < max(
            0.1, 0.5 * expected_fpr
        ), (r.false_positive_rate, expected_fpr)


def test_intersect_all_keeps_min_multiplicity(spark):
    """Planted multiset: key 1 appears 3x even-side / 2x odd-side ->
    multiplicity 2; key 2 only even-side -> absent."""
    import tempfile as tf

    from large_csv_etl_spark.queries.setops import QUERIES as SQ

    rows = []
    # (l_orderkey even => side A, odd => side B)
    for i, pk in enumerate([1, 1, 1, 2]):
        rows.append((2 * i, pk))  # even orderkeys
    for i, pk in enumerate([1, 1]):
        rows.append((2 * i + 1, pk))  # odd orderkeys
    df = spark.createDataFrame(rows, "l_orderkey long, l_partkey long")
    with tf.TemporaryDirectory() as d:
        df.coalesce(1).write.parquet(f"{d}/lineitem.parquet")
        out = {
            r.l_partkey: r.n
            for r in SQ["setop_intersect_all_partkeys"](spark, d).collect()
        }
    assert out == {1: 2}


def test_business_hours_overlap_hand_case(spark):
    """One session 08:00-10:00 overlaps business hours (9-17) by exactly
    1 hour; an overnight 16:30-through-18:00 session on one day clips at
    17:00."""
    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (1, t0 + dt.timedelta(hours=8), 1, "click", 1.0, "{}"),
        (2, t0 + dt.timedelta(hours=10), 1, "click", 1.0, "{}"),
    ]
    with tempfile.TemporaryDirectory() as d:
        _events_dir(spark, rows, d)
        # one user, but the 2h gap > 30min splits into TWO point sessions
        out = {
            r.user_id: r
            for r in __import__(
                "large_csv_etl_spark.queries.temporal", fromlist=["QUERIES"]
            ).QUERIES["temporal_business_hours_overlap"](spark, d).collect()
        }
    r = out[1]
    assert r.n_sessions == 2  # 8:00 point + 10:00 point
    assert r.business_us == 0  # point sessions have zero span
    rows = [
        (1, t0 + dt.timedelta(hours=8), 1, "click", 1.0, "{}"),
        (2, t0 + dt.timedelta(hours=8, minutes=20), 1, "click", 1.0, "{}"),
        (3, t0 + dt.timedelta(hours=8, minutes=40), 1, "click", 1.0, "{}"),
        (4, t0 + dt.timedelta(hours=9, minutes=0), 1, "click", 1.0, "{}"),
        (5, t0 + dt.timedelta(hours=9, minutes=20), 1, "click", 1.0, "{}"),
        (6, t0 + dt.timedelta(hours=9, minutes=40), 1, "click", 1.0, "{}"),
        (7, t0 + dt.timedelta(hours=10), 1, "click", 1.0, "{}"),
    ]
    with tempfile.TemporaryDirectory() as d:
        _events_dir(spark, rows, d)
        r = __import__(
            "large_csv_etl_spark.queries.temporal", fromlist=["QUERIES"]
        ).QUERIES["temporal_business_hours_overlap"](spark, d).first()
    # one 08:00-10:00 session; overlap with [09:00, 17:00] = 1 hour
    assert r.n_sessions == 1
    assert r.business_us == 3600 * 1_000_000
    assert r.longest_session_us == 2 * 3600 * 1_000_000


def test_rolling_wau_counts_reentering_users(spark):
    """User A active on days 1 and 9, user B on day 2 only: day 2's
    window [−4..2] holds both users, day 9's window [3..9] holds only
    user A again — the subtract-on-exit behavior cumulative first-seen
    logic cannot give."""
    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (1, t0, 1, "click", 1.0, "{}"),
        (2, t0 + dt.timedelta(days=8), 1, "click", 1.0, "{}"),
        (3, t0 + dt.timedelta(days=1), 2, "click", 1.0, "{}"),
    ]
    with tempfile.TemporaryDirectory() as d:
        _events_dir(spark, rows, d)
        out = {
            r.day_start.day: r.wau
            for r in EVENT_QUERIES["events_rolling_wau"](spark, d).collect()
        }
    assert out == {1: 1, 2: 2, 9: 1}


def test_curriculum_order_bands_and_determinism(spark):
    """Bands are equal-count by score rank, high band trains first, and
    the order is identical across runs (hash shuffle, no RNG)."""
    from large_csv_etl_spark.queries.sampling import QUERIES as SQ

    a = sorted(
        map(tuple, SQ["sample_curriculum_order"](spark, SF_DIR).collect())
    )
    b = sorted(
        map(tuple, SQ["sample_curriculum_order"](spark, SF_DIR).collect())
    )
    assert a == b
    rows = SQ["sample_curriculum_order"](spark, SF_DIR).collect()
    n = len(rows)
    by_pos = sorted(rows, key=lambda r: r.position)
    assert [r.position for r in by_pos] == list(range(1, n + 1))
    # band is non-increasing along the training order
    bands = [r.band for r in by_pos]
    assert bands == sorted(bands, reverse=True)
    # equal-count bands (within 1)
    from collections import Counter

    sizes = Counter(r.band for r in rows)
    assert max(sizes.values()) - min(sizes.values()) <= 1


def test_survivor_policy_gain_on_planted_variants(spark):
    """Two docs sharing a 16-token prefix, one with a 10-token longer
    tail: keep-longest retains exactly 10 more tokens than
    keep-earliest (earliest = lower doc_id = the SHORT one here)."""
    from large_csv_etl_spark.queries.dedup import QUERIES as DQ

    prefix = " ".join(f"p{i}" for i in range(16))
    rows = [
        (1, prefix + " short end", "en", "s", 0),
        (2, prefix + " " + " ".join(f"x{i}" for i in range(12)), "en", "s", 0),
        (3, " ".join(f"solo{i}" for i in range(20)), "en", "s", 0),
    ]
    with tempfile.TemporaryDirectory() as d:
        _docs_dir(spark, rows, d)
        r = DQ["dedup_survivor_policy_compare"](spark, d).first()
    assert r.n_dup_groups == 1
    assert r.n_dup_docs == 2
    assert r.tokens_in_groups == 18 + 28
    assert r.tokens_kept_earliest == 18
    assert r.tokens_kept_longest == 28
    assert abs(r.longest_policy_gain_share - 10 / 46) < 1e-12


def test_max_drawdown_hand_curve(spark):
    """Daily revenue 10, 6, 12, 3 (dollars): peak path 10,10,12,12 ->
    max drawdown 9.00 (12 -> 3), share 0.75."""
    import tempfile as tf

    from large_csv_etl_spark.queries.windows import QUERIES as WQ

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (i, 1, "O", price, t0 + dt.timedelta(days=i), "1-URGENT")
        for i, price in enumerate([10.0, 6.0, 12.0, 3.0])
    ]
    df = spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    )
    with tf.TemporaryDirectory() as d:
        df.coalesce(1).write.parquet(f"{d}/orders.parquet")
        r = WQ["window_max_drawdown"](spark, d).first()
    assert r.n_days == 4
    assert r.max_drawdown_cents == 900
    assert abs(r.max_drawdown_share - 0.75) < 1e-9
    assert r.peak_day_cents == 1200 and r.trough_day_cents == 300


def test_hysteresis_latches_between_thresholds(spark):
    """A series that spikes above hi, drifts into the dead band, then
    drops below lo must stay in alarm through the dead band — one
    episode spanning the drift days, not two."""
    t0 = dt.datetime(2024, 1, 1)
    # counts per day: 10,10,10,10,30,16,16,2,10,10 (mean ~ 12.4)
    plan = [10, 10, 10, 10, 30, 16, 16, 2, 10, 10]
    rows = []
    eid = 0
    for day, n in enumerate(plan):
        for k in range(n):
            rows.append(
                (eid, t0 + dt.timedelta(days=day, minutes=k), 1, "c", 1.0, "{}")
            )
            eid += 1
    with tempfile.TemporaryDirectory() as d:
        _events_dir(spark, rows, d)
        r = EVENT_QUERIES["events_hysteresis_alerts"](spark, d).first()
    # mean 12.4, sd ~ 7.06 -> hi ~ 15.9, lo ~ 8.87: day 5 (30) latches,
    # days 6-7 (16 > hi) hold, day 8 (2 < lo) releases
    assert r.n_days == 10
    assert r.n_episodes == 1
    assert r.n_alarm_days == 3
    assert r.longest_episode_days == 3


def test_pair_histogram_mass_conserves_and_is_deterministic(spark):
    """Shares sum to 1, buckets lie in [-10, 10], and the sampled pair
    set is identical across runs (pure hash sampling)."""
    from large_csv_etl_spark.queries.similarity import QUERIES as SQ

    a = sorted(
        map(
            tuple,
            SQ["embedding_pair_distance_histogram"](spark, SF_DIR).collect(),
        )
    )
    b = sorted(
        map(
            tuple,
            SQ["embedding_pair_distance_histogram"](spark, SF_DIR).collect(),
        )
    )
    assert a == b
    assert abs(sum(r[2] for r in a) - 1.0) < 1e-9
    assert all(-10 <= r[0] <= 10 for r in a)


def test_frame_ahash_dedup_counts_planted_static_scene(spark):
    """A payload that repeats one 64-byte block 10 times produces 10
    identical frame hashes -> high dup ratio; mass conserves."""
    from large_csv_etl_spark.queries.multimodal import (
        QUERIES as MM_QUERIES,
    )

    r = MM_QUERIES["multimodal_frame_ahash_dedup"](spark, SF_DIR).first()
    assert r.n_frames_total >= r.n_distinct_hashes > 0
    assert 0.0 <= r.dup_frame_ratio < 1.0
    import tempfile as tf

    static = ("A" * 64) * 10  # ten identical "frames"
    rows = [(1, static, "en", "s", 0), (2, "short", "en", "s", 0)]
    with tf.TemporaryDirectory() as d:
        _docs_dir(spark, rows, d)
        r2 = MM_QUERIES["multimodal_frame_ahash_dedup"](spark, d).first()
    assert r2.n_frames_total == 11
    # ten planted identical frames collapse to one hash
    assert r2.n_frames_in_dup_groups == 10
    assert r2.n_distinct_hashes == 2


def test_share_of_parent_sums_to_one_per_region(spark):
    from large_csv_etl_spark.queries.relational import QUERIES as RQ

    rows = RQ["agg_share_of_parent"](spark, SF_DIR).collect()
    from collections import defaultdict

    per_region = defaultdict(float)
    region_share = {}
    for r in rows:
        per_region[r.region] += r.share_of_region
        region_share[r.region] = r.region_share_of_total
    for reg, s in per_region.items():
        assert abs(s - 1.0) < 1e-9, (reg, s)
    assert abs(sum(region_share.values()) - 1.0) < 1e-9


def test_warehouse_sweep_reports_lineitem_pk_violation_honestly(spark):
    """The synthetic lineitem repeats (l_orderkey, l_linenumber) by
    design (the S6 upsert fixture); the sweep must say so rather than
    paper over it, and every table must be nonempty."""
    out = {
        r.table_name: r
        for r in QUALITY_QUERIES["dq_warehouse_sanity_sweep"](
            spark, SF_DIR_MID
        ).collect()
    }
    assert set(out) == {
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    }
    assert all(r.nonempty for r in out.values())
    assert not out["lineitem"].pk_unique  # honest violation report
    assert out["orders"].pk_unique and out["events"].pk_unique


def test_ship_lag_sla_percentile_ordering_and_breaches(spark):
    """p50 <= p90 <= p99 <= max per priority, and the 90-day breach
    count equals a direct recount."""
    from large_csv_etl_spark.queries.temporal import QUERIES as TQ

    rows = TQ["temporal_ship_lag_sla"](spark, SF_DIR_MID).collect()
    assert len(rows) == 5
    for r in rows:
        assert r.p50_days <= r.p90_days <= r.p99_days <= r.max_days
    li = spark.read.parquet(f"{SF_DIR_MID}/lineitem.parquet")
    o = spark.read.parquet(f"{SF_DIR_MID}/orders.parquet")
    direct = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .filter(
            F.datediff(
                F.col("l_shipdate").cast("date"),
                F.col("o_orderdate").cast("date"),
            )
            > 90
        )
        .count()
    )
    assert sum(r.n_breaching_90d for r in rows) == direct


def test_not_in_null_trap_demonstrates_three_valued_logic(spark):
    """With NULLs in the subquery, NOT IN returns zero rows; the
    null-filtered NOT IN equals the NOT EXISTS count; and that count is
    the true anti-join cardinality."""
    from large_csv_etl_spark.queries.relational import QUERIES as RQ

    r = RQ["join_not_in_null_semantics"](spark, SF_DIR_MID).first()
    assert r.n_not_in_with_nulls == 0  # the trap
    assert r.n_not_in_nulls_filtered == r.n_not_exists
    o = spark.read.parquet(f"{SF_DIR_MID}/orders.parquet")
    c = spark.read.parquet(f"{SF_DIR_MID}/customer.parquet").filter(
        F.col("c_custkey") % 100 != 0
    )
    direct = o.join(
        c, o.o_custkey == c.c_custkey, "left_anti"
    ).count()
    assert r.n_not_exists == direct


def test_trending_decay_ranks_recent_over_stale(spark):
    """Same total value, but type A's events are fresh and type B's are
    five weeks old: A's trend score must dominate (B decayed 2^-5)."""
    t0 = dt.datetime(2024, 3, 1)
    rows = []
    for i in range(10):
        rows.append((i, t0, 1, "fresh", 10.0, "{}"))
        rows.append((100 + i, t0 - dt.timedelta(days=35), 1, "stale", 10.0, "{}"))
    with tempfile.TemporaryDirectory() as d:
        _events_dir(spark, rows, d)
        out = {
            r.event_type: r
            for r in EVENT_QUERIES["events_trending_decay"](spark, d).collect()
        }
    assert out["fresh"].trend_score_cents == 10 * 1000
    assert out["stale"].trend_score_cents == 10 * (1000 >> 5)
    assert out["fresh"].trend_score_cents > 30 * out["stale"].trend_score_cents


def test_cluster_size_histogram_conserves_cluster_mass(spark):
    """Bucket totals must re-aggregate to exactly the per-cluster rows
    of the graded clusters entry."""
    from large_csv_etl_spark.queries.dedup import QUERIES as DQ

    hist = DQ["dedup_cluster_size_histogram"](spark, SF_DIR).collect()
    clusters = DQ["dedup_clusters"](spark, SF_DIR).collect()
    n_clusters = len({r.cluster_id for r in clusters})
    n_docs = len(clusters)
    assert sum(r.n_clusters for r in hist) == n_clusters
    assert sum(r.n_docs_total for r in hist) == n_docs
    for r in hist:
        assert r.size_bucket >= 1 and (r.size_bucket & (r.size_bucket - 1)) == 0


def test_ipw_estimate_is_near_unbiased_on_fixture(spark):
    """Hash sampling at known rates: every source's IPW doc estimate
    lands within a few percent of truth at sf0.01 (and the error
    columns are exactly (est-true)/true)."""
    from large_csv_etl_spark.queries.sampling import QUERIES as SQ

    rows = SQ["sample_ipw_estimate"](spark, "/root/testdata/sf0.1").collect()
    assert rows
    for r in rows:
        # per-stratum consistency is exact arithmetic regardless of size
        recomputed = (r.est_total - r.n_total) / r.n_total
        assert abs(r.rel_error_docs - recomputed) < 1e-12
    # statistical sanity lives at the CORPUS level: the fixture's strata
    # are individually small (25 docs each at sf0.01), so unbiasedness is
    # asserted on the combined estimate at sf0.1 (~5000 docs, ~600
    # expected samples -> a few percent of error)
    est_total = sum(r.est_total for r in rows)
    true_total = sum(r.n_total for r in rows)
    assert abs(est_total - true_total) / true_total < 0.15, (
        est_total,
        true_total,
    )


def test_association_rules_lift_math_on_planted_baskets(spark):
    """Planted baskets where pen->paper always co-occur but paper is in
    every basket: confidence(pen->paper)=1, lift = N/n_paper."""
    import tempfile as tf

    from large_csv_etl_spark.queries.relational import QUERIES as RQ

    rows = []
    # 10 baskets all contain paper(2); baskets 0-4 also pen(1);
    # baskets 5-9 also stapler(3)
    ln = 0
    for order in range(10):
        items = [2] + ([1] if order < 5 else [3])
        for it in items:
            rows.append((order, it, 1, ln))
            ln += 1
    df = spark.createDataFrame(
        rows, "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber long"
    )
    with tf.TemporaryDirectory() as d:
        df.coalesce(1).write.parquet(f"{d}/lineitem.parquet")
        out = {
            (r.ante, r.cons): r
            for r in RQ["basket_association_rules"](spark, d).collect()
        }
    r = out[(1, 2)]  # pen -> paper
    assert r.n_both == 5 and r.n_ante == 5
    assert abs(r.confidence - 1.0) < 1e-12
    assert abs(r.lift - 10 / 10) < 1e-12  # paper in all baskets: lift 1
    assert (1, 3) not in out  # pen and stapler never co-occur


def test_behavior_divergence_flags_the_deviant_user(spark):
    """Ten users alternate A/B; one user only ever does C->C: their TV
    distance must be far above the conformers'."""
    t0 = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    for u in range(10):
        for i in range(20):
            rows.append(
                (eid, t0 + dt.timedelta(minutes=i), u,
                 "A" if i % 2 == 0 else "B", 1.0, "{}")
            )
            eid += 1
    for i in range(20):
        rows.append((eid, t0 + dt.timedelta(minutes=i), 99, "C", 1.0, "{}"))
        eid += 1
    with tempfile.TemporaryDirectory() as d:
        _events_dir(spark, rows, d)
        out = {
            r.user_id: r.tv_distance
            for r in EVENT_QUERIES["events_user_behavior_divergence"](
                spark, d
            ).collect()
        }
    conformers = [v for u, v in out.items() if u != 99]
    assert max(conformers) < 0.2
    assert out[99] > 0.8


def test_csv_dialect_fixture_parses_every_edge(spark):
    """The graded dialect read must see the newline row as ONE record,
    preserve doubled quotes and trailing spaces, and keep empty
    strings."""
    from large_csv_etl_spark.queries.etl import QUERIES as EQ

    out = {r.id: r for r in EQ["etl_csv_dialect_parity"](spark, SF_DIR).collect()}
    assert len(out) == 7
    assert out[2].n_commas == 1
    assert out[3].n_quotes == 4  # two doubled pairs survive as ""..""
    assert out[4].has_newline and out[4].payload == "line1\nline2"
    assert out[6].payload.endswith(" ")
    assert out[7].n_commas == 4 and out[7].n_quotes == 2


def test_lang_confusion_diagonal_on_clean_fixture(spark):
    """Docs written in each language's own stopwords must land on the
    diagonal; a mislabeled doc shows up off-diagonal."""
    rows = [
        (1, "the cat and the dog of a to", "en", "s", 0),
        (2, "el la de que y el la de", "es", "s", 0),
        (3, "der die und das ist der die", "de", "s", 0),
        (4, "the and of to a the and", "es", "s", 0),  # mislabeled
    ]
    with tempfile.TemporaryDirectory() as d:
        _docs_dir(spark, rows, d)
        out = {
            (r.declared, r.predicted): r
            for r in TEXT_QUERIES["text_lang_confusion"](spark, d).collect()
        }
    assert out[("en", "en")].n_docs == 1
    assert out[("es", "es")].n_docs == 1
    assert out[("de", "de")].n_docs == 1
    assert out[("es", "en")].n_docs == 1  # the mislabel, localized
    assert abs(out[("es", "en")].share_of_declared - 0.5) < 1e-12


def test_homophily_lift_rises_on_label_clustered_embeddings(spark):
    """Embeddings built so same-label vectors are near-identical and
    cross-label ones near-orthogonal: the top cosine bucket must be
    all same-label with lift > 1; mass conserves."""
    import tempfile as tf

    import numpy as np

    from large_csv_etl_spark.queries.similarity import QUERIES as SQ

    rng = np.random.default_rng(3)
    base = {lbl: rng.standard_normal(64) for lbl in range(4)}
    rows = [(0, [0.0] * 64, 99)]
    for i in range(1, 201):
        # label must be independent of i % 16 (the pair-sampling cells),
        # else every sampled pair is same-label and the lift is trivially 1
        lbl = (i // 16) % 4
        v = base[lbl] + 0.01 * rng.standard_normal(64)
        v = v / np.linalg.norm(v)
        rows.append((i, [float(x) for x in v], lbl))
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    with tf.TemporaryDirectory() as d:
        df.coalesce(1).write.parquet(f"{d}/embeddings.parquet")
        out = sorted(
            SQ["embedding_label_homophily"](spark, d).collect(),
            key=lambda r: r.bucket,
        )
    top = out[-1]
    assert top.bucket == 10
    assert top.same_label_share == 1.0
    assert top.homophily_lift > 1.5
    total_same = sum(r.n_same_label for r in out)
    total = sum(r.n_pairs for r in out)
    assert 0 < total_same < total


def test_band_sweep_monotone_candidates(spark):
    """More bands (lower threshold) can only find MORE candidate pairs:
    8x2 >= 4x4 >= 2x8 on any corpus; thresholds are the S-curve
    literals."""
    from large_csv_etl_spark.queries.dedup import QUERIES as DQ

    out = {r.n_bands: r for r in DQ["dedup_lsh_band_sweep"](spark, SF_DIR_MID).collect()}
    assert set(out) == {8, 4, 2}
    assert (
        out[8].n_candidate_pairs
        >= out[4].n_candidate_pairs
        >= out[2].n_candidate_pairs
    )
    assert abs(out[8].s_curve_threshold - (1 / 8) ** 0.5) < 1e-12
    assert abs(out[2].s_curve_threshold - (1 / 2) ** (1 / 8)) < 1e-12


def test_schema_evolution_read_null_fills_and_backfills(spark):
    """v1 rows surface NULL category (from_v1 true) with the canonical
    backfill; v2 rows keep their values; all five rows present."""
    from large_csv_etl_spark.queries.etl import QUERIES as EQ

    out = {r.id: r for r in EQ["etl_schema_evolution_read"](spark, SF_DIR).collect()}
    assert set(out) == {1, 2, 3, 4, 5}
    assert all(out[i].from_v1 for i in (1, 2, 3))
    assert all(out[i].category_filled == "uncategorized" for i in (1, 2, 3))
    assert out[4].category == "x" and out[5].category == "y"
    assert not out[4].from_v1


def test_out_of_order_audit_counts_planted_backstep(spark):
    """Arrival order 10:00, 10:05, 10:02 (one backstep of 3 min), then
    in-order: exactly one inversion, max backstep 180s."""
    t0 = dt.datetime(2024, 1, 1, 10, 0)
    rows = [
        (1, t0, 1, "c", 1.0, "{}"),
        (2, t0 + dt.timedelta(minutes=5), 1, "c", 1.0, "{}"),
        (3, t0 + dt.timedelta(minutes=2), 1, "c", 1.0, "{}"),  # late arrival
        (4, t0 + dt.timedelta(minutes=6), 1, "c", 1.0, "{}"),
    ]
    with tempfile.TemporaryDirectory() as d:
        _events_dir(spark, rows, d)
        r = EVENT_QUERIES["events_out_of_order_audit"](spark, d).first()
    assert r.n_events == 4
    assert r.n_inversions == 1
    assert r.max_backstep_us == 180 * 1_000_000
    assert r.total_backstep_us == 180 * 1_000_000


def test_linear_attribution_splits_credit_exactly(spark):
    """Purchase preceded by 1 click and 3 views inside the hour: click
    gets 0.25, view 0.75; an out-of-window touch earns nothing."""
    t0 = dt.datetime(2024, 1, 1, 12, 0)
    rows = [
        (1, t0 - dt.timedelta(hours=2), 1, "click", 1.0, "{}"),  # too old
        (2, t0 - dt.timedelta(minutes=50), 1, "click", 1.0, "{}"),
        (3, t0 - dt.timedelta(minutes=40), 1, "view", 1.0, "{}"),
        (4, t0 - dt.timedelta(minutes=30), 1, "view", 1.0, "{}"),
        (5, t0 - dt.timedelta(minutes=20), 1, "view", 1.0, "{}"),
        (6, t0, 1, "purchase", 9.0, "{}"),
    ]
    with tempfile.TemporaryDirectory() as d:
        _events_dir(spark, rows, d)
        out = {
            r.channel: r
            for r in EVENT_QUERIES["events_linear_attribution"](
                spark, d
            ).collect()
        }
    assert abs(out["click"].attributed_purchases - 0.25) < 1e-6
    assert abs(out["view"].attributed_purchases - 0.75) < 1e-6
    assert out["click"].n_purchases_touched == 1
    total = sum(r.attributed_purchases for r in out.values())
    assert abs(total - 1.0) < 1e-5  # credit conserves per purchase


def test_retrieval_eval_scores_planted_clustered_corpus(spark):
    """Label-clustered embeddings: every query's top-10 is its own
    cluster -> precision 1.0 and reciprocal rank 1.0 for all queries."""
    import tempfile as tf

    import numpy as np

    from large_csv_etl_spark.queries.similarity import QUERIES as SQ

    rng = np.random.default_rng(7)
    base = {lbl: rng.standard_normal(64) for lbl in range(2)}
    rows = [(0, [0.0] * 64, 99)]
    for i in range(1, 61):
        lbl = i % 2
        v = base[lbl] + 0.01 * rng.standard_normal(64)
        v /= np.linalg.norm(v)
        rows.append((i, [float(x) for x in v], lbl))
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    with tf.TemporaryDirectory() as d:
        df.coalesce(1).write.parquet(f"{d}/embeddings.parquet")
        out = SQ["sim_retrieval_eval"](spark, d).collect()
    assert len(out) == 10
    for r in out:
        assert r.precision_at_10 == 1.0, r
        assert r.reciprocal_rank == 1.0, r


def test_reject_reasons_account_for_every_row(spark):
    """Shares sum to 1 over the dirty fixture; 'kept' count equals the
    graded transform-parity survivor count."""
    from large_csv_etl_spark.queries.etl import (
        DIRTY_CSV,
        QUERIES as EQ,
    )

    out = {r.disposition: r for r in EQ["etl_reject_reasons"](spark, SF_DIR).collect()}
    assert abs(sum(r.share for r in out.values()) - 1.0) < 1e-12
    survivors = EQ["etl_transform_parity"](spark, SF_DIR).count()
    assert out["kept"].n_rows == survivors
    # the dirty fixture exercises every reject class
    for reason in (
        "null_or_blank_key",
        "malformed_amount",
        "negative_amount",
        "cancelled_status",
    ):
        assert out[reason].n_rows > 0, reason


def test_transition_latency_hand_case(spark):
    """view -> purchase after exactly 7 minutes, twice: mean == total/2
    == 420s."""
    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (1, t0, 1, "view", 1.0, "{}"),
        (2, t0 + dt.timedelta(minutes=7), 1, "purchase", 1.0, "{}"),
        (3, t0 + dt.timedelta(hours=1), 2, "view", 1.0, "{}"),
        (4, t0 + dt.timedelta(hours=1, minutes=7), 2, "purchase", 1.0, "{}"),
    ]
    with tempfile.TemporaryDirectory() as d:
        _events_dir(spark, rows, d)
        out = {
            (r.t1, r.t2): r
            for r in EVENT_QUERIES["events_transition_latency"](
                spark, d
            ).collect()
        }
    r = out[("view", "purchase")]
    assert r.n_transitions == 2
    assert r.total_gap_us == 2 * 420 * 1_000_000
    assert r.mean_gap_us == 420 * 1_000_000.0
    assert r.max_gap_us == 420 * 1_000_000


def test_robust_panel_separates_contaminated_mean(spark):
    """99 orders at $10 plus one $10,000 outlier: the mean is dragged to
    ~$109.90 while median and trimmed mean stay at $10."""
    import tempfile as tf

    from large_csv_etl_spark.queries.relational import QUERIES as RQ

    rows = [(i, 1, "O", 10.0, None, "1-URGENT") for i in range(99)]
    rows.append((99, 1, "O", 10000.0, None, "1-URGENT"))
    df = spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    )
    with tf.TemporaryDirectory() as d:
        df.coalesce(1).write.parquet(f"{d}/orders.parquet")
        r = RQ["agg_robust_location_panel"](spark, d).first()
    assert r.n_rows == 100
    assert abs(r.mean_price - 109.90) < 1e-9
    assert r.median_price == 10.0
    assert abs(r.trimmed_mean_5pct - 10.0) < 1e-9  # trim removes the spike
    assert r.midhinge == 10.0


def test_fd_audit_planted_hold_and_violation(spark):
    """c_custkey->c_mktsegment must HOLD (PK determines everything);
    the line-level FDs must be violated on the real fixture."""
    out = {
        r.fd: r
        for r in QUALITY_QUERIES["dq_functional_dependency_audit"](
            spark, SF_DIR_MID
        ).collect()
    }
    assert out["c_custkey->c_mktsegment"].holds
    assert out["c_custkey->c_mktsegment"].n_violating_keys == 0
    assert not out["l_orderkey->l_shipdate"].holds  # multi-line orders
    assert 0.0 <= out["o_custkey->o_orderpriority"].violation_share <= 1.0


def test_normalization_impact_counts_planted_rules(spark):
    """Docs planted to trip exactly one rule each are counted once per
    rule; the clean doc trips nothing."""
    rows = [
        (1, "Has Upper", "en", "s", 0),
        (2, "double  space", "en", "s", 0),
        (3, " leading", "en", "s", 0),
        (4, "café", "en", "s", 0),
        (5, "   ", "en", "s", 0),
        (6, "clean text", "en", "s", 0),
    ]
    with tempfile.TemporaryDirectory() as d:
        _docs_dir(spark, rows, d)
        r = TEXT_QUERIES["text_normalization_impact"](spark, d).first()
    assert r.n_docs == 6
    assert r.n_has_upper == 1
    assert r.n_has_multispace == 2  # doc 2 and the all-blank doc 5
    assert r.n_has_edge_whitespace == 2  # doc 3 and doc 5
    assert r.n_has_nonascii == 1
    assert r.n_blank == 1
    assert abs(r.share_would_change - 4 / 6) < 1e-12


def test_daily_correlation_sees_planted_comovement(spark):
    """Two types whose daily volumes move together (n and 2n) correlate
    at exactly +1; an anti-phase type correlates negatively."""
    t0 = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    for day in range(10):
        n = 3 + (day % 5)
        for k in range(n):
            rows.append((eid, t0 + dt.timedelta(days=day, minutes=k), 1, "a", 1.0, "{}")); eid += 1
        for k in range(2 * n):
            rows.append((eid, t0 + dt.timedelta(days=day, minutes=60 + k), 1, "b", 1.0, "{}")); eid += 1
        for k in range(12 - n):
            rows.append((eid, t0 + dt.timedelta(days=day, minutes=200 + k), 1, "c", 1.0, "{}")); eid += 1
    with tempfile.TemporaryDirectory() as d:
        _events_dir(spark, rows, d)
        out = {
            (r.type_a, r.type_b): r.pearson_corr
            for r in EVENT_QUERIES["events_type_daily_correlation"](
                spark, d
            ).collect()
        }
    assert abs(out[("a", "b")] - 1.0) < 1e-12
    assert abs(out[("a", "c")] + 1.0) < 1e-12
    assert abs(out[("b", "c")] + 1.0) < 1e-12


def test_normalization_gain_counts_planted_case_variants(spark):
    """'Hello World' / 'hello world' / 'hello  world' are raw-distinct
    but normalize to one fingerprint: 2 dups recovered."""
    rows = [
        (1, "Hello World", "en", "s", 0),
        (2, "hello world", "en", "s", 0),
        (3, "hello  world", "en", "s", 0),
        (4, "something else", "en", "s", 0),
    ]
    with tempfile.TemporaryDirectory() as d:
        _docs_dir(spark, rows, d)
        from large_csv_etl_spark.queries.dedup import QUERIES as DQ

        r = DQ["dedup_normalization_gain"](spark, d).first()
    assert r.n_docs == 4
    assert r.n_unique_raw == 4
    assert r.n_unique_normalized == 2
    assert r.n_dups_recovered == 2
    assert r.dup_ratio_raw == 0.0
    assert abs(r.dup_ratio_normalized - 0.5) < 1e-12


def test_largest_remainder_sums_to_exactly_100(spark):
    """The structural invariants on the real fixture: allocations sum
    to exactly 100 and deviate from the floor by at most one point."""
    from large_csv_etl_spark.queries.relational import QUERIES as RQ

    rows = RQ["agg_largest_remainder_percent"](spark, SF_DIR_MID).collect()
    assert sum(r.allocated_pct for r in rows) == 100
    for r in rows:
        assert r.allocated_pct - r.floor_pct in (0, 1)


def test_markov_stationary_enforces_vocabulary_bound(spark, monkeypatch):
    """The transition matrix is collected only while it fits
    MARKOV_MAX_TYPES^2 rows: a chain over more event types than the cap
    allows raises instead of collecting. Five types cycling A->B->C->D->E
    give 5 distinct transitions, over a cap of 2 types (4 rows)."""
    import pytest

    from large_csv_etl_spark.queries import events
    from large_csv_etl_spark.queries.events import QUERIES as EQ

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (i, t0 + dt.timedelta(minutes=i), 1, "ABCDE"[i % 5], 1.0, "{}")
        for i in range(20)
    ]
    with tempfile.TemporaryDirectory() as d:
        _events_dir(spark, rows, d)
        monkeypatch.setattr(events, "MARKOV_MAX_TYPES", 2)
        with pytest.raises(ValueError, match=r"vocabulary\|\^2"):
            EQ["events_markov_stationary"](spark, d)
        monkeypatch.setattr(events, "MARKOV_MAX_TYPES", 3)  # 9 >= 5 rows
        out = EQ["events_markov_stationary"](spark, d).collect()
    assert sorted(r.event_type for r in out) == list("ABCDE")
