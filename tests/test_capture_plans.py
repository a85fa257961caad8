"""``tools/capture_plans.py`` masks every per-run id, so two captures of
one plan, from two checkouts or two sessions, compare equal."""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))
from capture_plans import mask_run_ids  # noqa: E402


def test_python_lambda_variable_masks_like_sql_lambda():
    py = (
        "transform(embedding#12, lambdafunction(cast(round((x_390#391 * "
        "1000000.0), 0) as bigint), lambda x_390#391, false)) AS v6#40"
    )
    sql = (
        "transform(embedding#7, lambdafunction(cast(round((x#88 * "
        "1000000.0), 0) as bigint), lambda x#88, false)) AS v6#9"
    )
    assert mask_run_ids(py) == mask_run_ids(sql)
    assert "lambda x#N" in mask_run_ids(py)


def test_local_checkpoint_call_site_masked():
    a = "Scan ExistingRDD [vec_id#5L] MapPartitionsRDD[12] at localCheckpoint at <unknown>:0"
    b = (
        "Scan ExistingRDD [vec_id#9L] MapPartitionsRDD[44] at localCheckpoint "
        "at NativeMethodAccessorImpl.java:0"
    )
    assert mask_run_ids(a) == mask_run_ids(b)


def test_column_names_with_number_suffix_kept():
    text = "Project [top_10#4L, x_2#5], lambda y_7#8"
    assert mask_run_ids(text) == "Project [top_10#NL, x_2#N], lambda y#N"
