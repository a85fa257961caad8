"""The benchmark's own checks: input generator, ledger and metric list.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import filecmp
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import data  # noqa: E402
import measure  # noqa: E402
import run  # noqa: E402


def test_seed42_500k_is_the_golden_csv_and_its_ledger_is_the_reference(tmp_path):
    """Repeats stripped, the generator is the canonical FIXTURES.md §3 one,
    and its ledger gives the reference pipeline's SQLite figures."""
    from tests.test_pipeline import _golden_csv

    ours, golden = tmp_path / "ours.csv", tmp_path / "golden.csv"
    ledger = data.write_dirty_csv(str(ours), 42, 500_000, repeat_share=0)
    _golden_csv(golden)
    assert filecmp.cmp(ours, golden, shallow=False)
    assert ledger == {
        "lines": 500_000,
        "rows": 314_214,
        "status_counts": {
            "completed": 78_634,
            "failed": 78_655,
            "pending": 78_629,
            "refunded": 78_296,
        },
        "min_cents": 1,  # 0.01
        "max_cents": 199_998,  # 1999.98
        "sum_cents": 31_391_927_151,  # 313,919,271.51
    }


def test_repeats_are_exact_lines_that_load_once(tmp_path):
    plain = data.write_dirty_csv(str(tmp_path / "a.csv"), 7, 20_000, repeat_share=0)
    rep = data.write_dirty_csv(str(tmp_path / "b.csv"), 7, 20_000)
    a = (tmp_path / "a.csv").read_text().splitlines()
    b = (tmp_path / "b.csv").read_text().splitlines()
    extra = len(b) - len(a)
    assert 300 < extra < 500  # about 2% of 20,000
    assert rep["lines"] == plain["lines"] + extra
    # every extra line repeats a canonical one; the loaded set is unchanged
    assert set(b) == set(a)
    assert {k: v for k, v in rep.items() if k != "lines"} == {
        k: v for k, v in plain.items() if k != "lines"
    }


def test_same_seed_same_tables(tmp_path):
    import pyarrow.parquet as pq

    d1 = data.query_tables(str(tmp_path / "w1"), 3, 0.001)
    d2 = data.query_tables(str(tmp_path / "w2"), 3, 0.001)
    for name in sorted(os.listdir(d1)):
        if name.endswith(".parquet"):
            assert pq.read_table(os.path.join(d1, name)).equals(
                pq.read_table(os.path.join(d2, name))
            ), name


def test_benchmark_json_lists_what_run_reports():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.per_layer_units()
    assert sorted(w["name"] for w in spec["workloads"]) == sorted(run.workloads.WORKLOADS)


def test_self_time_subtracts_children():
    spans = measure.Spans()
    spans.pass_id = 0
    outer = spans.open("pipeline.run_pipeline")
    inner = spans.open("io.write_table")
    spans.close(inner)
    spans.open("pipeline.post_write")  # left open: closed with its parent
    spans.close(outer)
    s = spans.spans
    total = s[0]["end"] - s[0]["start"]
    kids = sum(x["end"] - x["start"] for x in s[1:])
    selfs = spans.self_times(0)
    assert abs(selfs["pipeline"] - (total - kids + s[2]["end"] - s[2]["start"])) < 1e-9
    assert s[2]["end"] == s[0]["end"]
