"""The pruned Arrow cosine kernel, the driver-finished hubness histogram
and the schema memo behind ``load_table``.

- ``_cosine_scores_arrow(..., top_k=k)`` keeps a superset of each query's
  top-k: the callers' window over it must pick exactly the rows it picks
  over the unpruned kernel, ties at the 6-dp boundary, NaN scores, small
  batches and several batches per partition included;
- ``sim_hubness_kocc`` and ``sim_hubness_audit`` collect their bounded
  top-k rows and finish on the driver, so their results are local
  relations; the collect bound is enforced;
- ``load_table`` infers a table's schema once per version of its file
  and per inference conf.
"""

from __future__ import annotations

import math
import os
import random
import sys
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from large_csv_etl_spark.io import load_table
from large_csv_etl_spark.queries import all_queries, all_oracles
from large_csv_etl_spark.queries.similarity import _cosine_scores_arrow, _norm

sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))
import drive_driver  # noqa: E402

DIM = 8
PANEL = 12


def _vectors():
    """Corpus rows ``(vec_id, embedding)``: a zero vector (NaN scores),
    exact duplicates, sub-1e-6 perturbations of one vector, unit vectors
    whose cosine with e1 sits on either side of a 6-dp rounding boundary,
    and random fill."""
    rng = random.Random(11)
    e1 = [1.0] + [0.0] * (DIM - 1)
    base = [rng.uniform(-1, 1) for _ in range(DIM)]
    vecs = [[0.0] * DIM, e1]
    vecs += [list(base) for _ in range(4)]
    vecs += [[x + rng.uniform(-1e-9, 1e-9) for x in base] for _ in range(4)]
    for c in (0.5000005, 0.7000025, 0.9999995):
        for off in (-3e-7, -1e-12, 0.0, 1e-12, 3e-7):
            a = c + off
            vecs.append([a, math.sqrt(1.0 - a * a)] + [0.0] * (DIM - 2))
    while len(vecs) < 60:
        vecs.append([rng.uniform(-1, 1) for _ in range(DIM)])
    order = list(range(len(vecs)))
    rng.shuffle(order)
    # the zero vector and e1 stay in the query panel
    return [(0, vecs[0]), (1, vecs[1])] + [
        (i, vecs[j]) for i, j in enumerate([j for j in order if j > 1], 2)
    ]


def _top(scored, k):
    """The callers' window: round to 6 dp, rank by (cos DESC, vec_id)."""
    w = Window.partitionBy("q_id").orderBy(F.col("cos_sim").desc(), "vec_id")
    return sorted(
        (r.q_id, r.rn, r.vec_id, repr(r.cos_sim))
        for r in scored.select(
            "q_id", "vec_id", F.round("cos_sim", 6).alias("cos_sim")
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .collect()
    )


@pytest.fixture(scope="module")
def emb_n(spark):
    emb = spark.createDataFrame(
        _vectors(), "vec_id long, embedding array<double>"
    ).repartition(3)
    return emb.select(
        "vec_id", "embedding", _norm(F.col("embedding")).alias("nrm")
    ).localCheckpoint()


@pytest.fixture(scope="module")
def qrows(emb_n):
    return (
        emb_n.filter(F.col("vec_id") < PANEL)
        .select(
            F.col("vec_id").alias("q_id"),
            F.col("embedding").alias("qv"),
            F.col("nrm").alias("qnrm"),
        )
        .collect()
    )


@pytest.mark.parametrize("batch, k", [(4, 5), (7, 10), (16, 1), (16, 5), (1000, 10)])
def test_pruned_kernel_gives_exact_topk(spark, emb_n, qrows, batch, k):
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    before = spark.conf.get(key)
    spark.conf.set(key, str(batch))
    try:
        full = _cosine_scores_arrow(emb_n, qrows).filter(
            F.col("vec_id") != F.col("q_id")
        )
        pruned = _cosine_scores_arrow(emb_n, qrows, top_k=k)
        want = _top(full, k)
        got = _top(pruned, k)
        n_pruned = pruned.count()
    finally:
        spark.conf.set(key, before)
    assert got == want
    assert len(want) == PANEL * k
    # the zero vector's query scores NaN against everyone; NaN ranks first
    assert [r for r in want if r[0] == 0][0][3] == "nan"
    # self-pairs are gone, and something was pruned once batches hold > k
    assert pruned.filter(F.col("vec_id") == F.col("q_id")).count() == 0
    if batch > k:
        assert n_pruned < full.count()


def test_pruned_kernel_keeps_rounded_tie_below_kth(spark):
    """One batch, query e1, k=3: vec 20 holds the 3rd best raw score
    (0.8000004), but vec 5 (0.7999996) rounds to the same 0.8 and wins
    the slot on vec_id, so the pruning margin must keep it; the self-pair
    must not count toward the k-th best either."""
    def unit(c):
        return [c, math.sqrt(1.0 - c * c), 0.0]

    rows = [(0, [1.0, 0.0, 0.0]), (10, unit(0.99)), (11, unit(0.98))]
    rows += [(20, unit(0.8000004)), (5, unit(0.7999996))]
    rows += [(30 + i, unit(0.1 * i)) for i in range(6)]
    emb_n = (
        spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        .coalesce(1)
        .select("vec_id", "embedding", _norm(F.col("embedding")).alias("nrm"))
    )
    qrows = [{"q_id": 0, "qv": [1.0, 0.0, 0.0], "qnrm": 1.0}]
    got = _top(_cosine_scores_arrow(emb_n, qrows, top_k=3), 3)
    want = _top(
        _cosine_scores_arrow(emb_n, qrows).filter(F.col("vec_id") != 0), 3
    )
    assert got == want
    assert [r[2] for r in got] == [10, 11, 5]


@pytest.fixture
def emb_dir(tmp_path):
    def write(rows):
        pq.write_table(
            pa.table(
                {
                    "vec_id": pa.array([r[0] for r in rows], pa.int64()),
                    "embedding": pa.array(
                        [r[1] for r in rows], pa.list_(pa.float32())
                    ),
                    "label": pa.array([r[2] for r in rows], pa.int32()),
                }
            ),
            tmp_path / "embeddings.parquet",
        )
        return str(tmp_path)

    return write


def _jobs_in_group(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_hubness_kocc_runs_at_most_four_jobs(spark, emb_dir):
    """Checkpoint (with the observed corpus count), panel collect, and
    the top-10 collect's shuffle and result stages; the result is a
    local relation that collects without a job."""
    rng = random.Random(6)
    d = emb_dir(
        [(i, [rng.uniform(-1, 1) for _ in range(4)], i % 3) for i in range(40)]
    )
    build = all_queries()["sim_hubness_kocc"]
    build(spark, d)  # the first call also infers the table's schema
    df, built = _jobs_in_group(spark, "kocc_build", lambda: build(spark, d))
    rows, collected = _jobs_in_group(spark, "kocc_result", df.collect)
    assert built <= 4
    assert collected == 0
    assert sum(r["n_vectors"] for r in rows) == 40
    assert sum(r["k_occ"] * r["n_vectors"] for r in rows) == 40 * 10


@pytest.mark.parametrize(
    "name, k", [("sim_hubness_kocc", 10), ("sim_hubness_audit", 5)]
)
def test_hubness_topk_bound_is_enforced(spark, emb_dir, monkeypatch, name, k):
    """A panel larger than HUBNESS_PANEL yields more than HUBNESS_PANEL * k
    top-k rows; the bounded collect must abort, not return them."""
    from large_csv_etl_spark.queries import similarity

    rng = random.Random(7)
    d = emb_dir(
        [(i, [rng.uniform(-1, 1) for _ in range(4)], 0) for i in range(30)]
    )
    real_panel = similarity._hubness_panel

    def panel_of_five(emb_n, _name):
        # a 5-query panel, then a bound of 2 queries for the top-k collect
        monkeypatch.setattr(similarity, "HUBNESS_PANEL", 5)
        qrows = real_panel(emb_n, _name)
        monkeypatch.setattr(similarity, "HUBNESS_PANEL", 2)
        return qrows

    monkeypatch.setattr(similarity, "_hubness_panel", panel_of_five)
    with pytest.raises(ValueError, match=f"more than {2 * k} top-{k} rows"):
        similarity.QUERIES[name](spark, d)


@pytest.mark.parametrize("name", ["sim_hubness_kocc", "sim_hubness_audit"])
def test_hubness_on_empty_table_finishes_with_oracle_schema(
    spark, emb_dir, name
):
    """On an empty corpus the observed count must still be delivered
    (``Observation.get`` blocks until it is), and the result is 0 rows in
    the oracle's types."""
    import threading

    import duckdb

    d = emb_dir([])
    out = {}

    def run():
        df = all_queries()[name](spark, d)
        out["rows"] = df.collect()
        out["schema"] = df.schema

    t = threading.Thread(target=run, daemon=True)
    t.start()
    t.join(300)
    assert not t.is_alive(), f"{name} did not finish on an empty table"
    assert out["rows"] == []
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{d}/embeddings.parquet')"
    )
    tbl = con.execute(all_oracles()[name]).arrow()
    assert tbl.num_rows == 0
    assert [
        (f.name, drive_driver.spark_canon(f.dataType)) for f in out["schema"]
    ] == [(f.name, drive_driver.arrow_canon(f.type)) for f in tbl.schema]


def _write(path, cols):
    pq.write_table(pa.table(cols), path)


def test_load_table_second_call_runs_no_job(spark, tmp_path):
    _write(tmp_path / "t.parquet", {"a": pa.array([1, 2], pa.int64())})
    first = load_table(spark, str(tmp_path), "t")
    second, jobs = _jobs_in_group(
        spark, "load_table_memo", lambda: load_table(spark, str(tmp_path), "t")
    )
    assert jobs == 0
    assert second.schema == first.schema
    assert second.collect() == first.collect()


def test_load_table_reinfers_after_rewrite(spark, tmp_path):
    path = tmp_path / "t.parquet"
    _write(path, {"a": pa.array([1], pa.int64())})
    assert load_table(spark, str(tmp_path), "t").columns == ["a"]
    _write(path, {"b": pa.array(["x"]), "c": pa.array([1.5])})
    df = load_table(spark, str(tmp_path), "t")
    assert df.dtypes == [("b", "string"), ("c", "double")]
    assert df.collect()[0].asDict() == {"b": "x", "c": 1.5}


def test_load_table_reinfers_when_binary_as_string_flips(spark, tmp_path):
    _write(tmp_path / "t.parquet", {"p": pa.array([b"ab"], pa.binary())})
    key = "spark.sql.parquet.binaryAsString"
    before = spark.conf.get(key)
    try:
        spark.conf.set(key, "false")
        assert load_table(spark, str(tmp_path), "t").dtypes == [("p", "binary")]
        spark.conf.set(key, "true")
        df = load_table(spark, str(tmp_path), "t")
        assert df.dtypes == [("p", "string")]
        assert df.collect()[0]["p"] == "ab"
    finally:
        spark.conf.set(key, before)


def test_load_table_events_ts_same_in_both_layouts(spark, tmp_path):
    micros = [1_700_000_000_123_456, 1_700_003_600_000_001, 0]
    nanos = [m * 1000 + 789 for m in micros]
    layouts = {
        "nanos": pa.array(nanos, pa.timestamp("ns")),
        "micros": pa.array(micros, pa.timestamp("us")),
    }
    got = {}
    for name, ts in layouts.items():
        d = tmp_path / name
        d.mkdir()
        pq.write_table(
            pa.table({"event_id": pa.array([1, 2, 3], pa.int64()), "ts": ts}),
            d / "events.parquet",
            version="2.6",
        )
        df = load_table(spark, str(d), "events")
        got[name] = sorted(
            (r.event_id, r.us)
            for r in df.select(
                "event_id", F.unix_micros(F.col("ts").cast("timestamp")).alias("us")
            ).collect()
        )
    assert dict(
        load_table(spark, str(tmp_path / "nanos"), "events").dtypes
    )["ts"] == "timestamp"
    assert got["nanos"] == got["micros"] == sorted(zip([1, 2, 3], micros))


def test_load_table_schema_equals_footer_inference(spark, sf_dir):
    for name in ("embeddings", "orders", "lineitem"):
        path = os.path.join(sf_dir, f"{name}.parquet")
        assert load_table(spark, sf_dir, name).schema == spark.read.parquet(
            path
        ).schema
