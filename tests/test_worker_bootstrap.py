"""The Python-worker daemon bootstrap (``_worker/graft_daemon.py``): local
sessions' workers import PySpark from the unpacked tree and carry no jar on
``sys.path``; cluster masters and an explicit ``extra_conf`` daemon keep
Spark's own daemon. The same local-only rule covers the streaming
checkpoint file manager."""

from __future__ import annotations

import json
import os
import pathlib
import types

import pytest

from large_csv_etl_spark import session
from large_csv_etl_spark._worker.graft_daemon import worker_path

_TREE = os.path.join(os.environ.get("SPARK_HOME", ""), "python", "pyspark")


@pytest.mark.skipif(
    not os.path.isdir(_TREE), reason="no unpacked $SPARK_HOME/python/pyspark"
)
def test_worker_imports_pyspark_from_unpacked_tree(spark):
    def report(batches):
        import json
        import sys

        import pandas as pd
        import pyspark

        for _ in batches:
            pass
        yield pd.DataFrame(
            {"v": [json.dumps({"file": pyspark.__file__, "path": sys.path})]}
        )

    (row,) = spark.range(1, numPartitions=1).mapInPandas(report, "v string").collect()
    got = json.loads(row.v)
    assert os.path.isfile(got["file"])
    assert ".zip" not in got["file"]
    assert not [p for p in got["path"] if p.endswith(".jar")]
    # the working directory, which ``python -m`` puts first, stays
    assert got["path"][0] == os.getcwd()


def _spark_dir(tmp_path, tree: bool) -> str:
    lib = tmp_path / "python" / "lib"
    lib.mkdir(parents=True)
    (lib / "pyspark.zip").write_bytes(b"")
    if tree:
        (tmp_path / "python" / "pyspark").mkdir()
        (tmp_path / "python" / "pyspark" / "__init__.py").write_text("")
    return str(tmp_path / "python")


def _spark_path(py: str) -> list[str]:
    spark_home = pathlib.Path(py).parent
    return [
        "/work",
        os.path.join(py, "lib", "pyspark.zip"),
        os.path.join(py, "lib", "py4j-src.zip"),
        str(spark_home / "jars" / "spark-core.jar"),
        "/user/lib/python-code.jar",
        "/extra",
        "/usr/lib/python3.11",
    ]


def test_worker_path_swaps_zip_for_tree_and_drops_spark_jar(tmp_path):
    py = _spark_dir(tmp_path, tree=True)
    assert worker_path(_spark_path(py)) == [
        "/work",
        py,
        os.path.join(py, "lib", "py4j-src.zip"),
        "/user/lib/python-code.jar",
        "/extra",
        "/usr/lib/python3.11",
    ]


def test_worker_path_unchanged_without_unpacked_tree(tmp_path):
    py = _spark_dir(tmp_path, tree=False)
    assert worker_path(_spark_path(py)) == _spark_path(py)
    assert worker_path(["/work", "/usr/lib/python3.11"]) == [
        "/work",
        "/usr/lib/python3.11",
    ]


class _Builder:
    """Records what ``get_spark`` asks of ``SparkSession.builder``."""

    def __init__(self):
        self.conf = {}

    def appName(self, _name):
        return self

    def master(self, master):
        self.conf["master"] = master
        return self

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):
        return self.conf


DAEMON = "spark.python.daemon.module"
PYPATH = "spark.executorEnv.PYTHONPATH"
CKPT = session.CHECKPOINT_MANAGER_CONF
FS_CKPT = session.CHECKPOINT_MANAGER
FC_CKPT = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileContextBasedCheckpointFileManager"
)


@pytest.mark.parametrize(
    "master, extra, daemon, pypath, ckpt",
    [
        ("local[2]", None, "graft_daemon", session.WORKER_DIR, FS_CKPT),
        ("local", None, "graft_daemon", session.WORKER_DIR, FS_CKPT),
        (
            "local[2]",
            {DAEMON: "pyspark.daemon"},
            "pyspark.daemon",
            session.WORKER_DIR,
            FS_CKPT,
        ),
        (
            "local[2]",
            {PYPATH: "/p"},
            "graft_daemon",
            "/p" + os.pathsep + session.WORKER_DIR,
            FS_CKPT,
        ),
        ("spark://host:7077", {PYPATH: "/p"}, None, "/p", None),
        ("spark://host:7077", None, None, None, None),
        ("yarn", None, None, None, None),
        ("local[2]", {CKPT: FC_CKPT}, "graft_daemon", session.WORKER_DIR, FC_CKPT),
    ],
)
def test_get_spark_sets_daemon_confs_for_local_masters_only(
    monkeypatch, master, extra, daemon, pypath, ckpt
):
    monkeypatch.setattr(
        session, "SparkSession", types.SimpleNamespace(builder=_Builder())
    )
    conf = session.get_spark(master=master, extra_conf=extra)
    assert conf.get(DAEMON) == daemon
    assert conf.get(PYPATH) == pypath
    assert conf.get(CKPT) == ckpt


def test_worker_dir_holds_only_the_daemon():
    # anything else in it would be importable by every worker
    names = set(os.listdir(session.WORKER_DIR)) - {"__pycache__"}
    assert names == {"graft_daemon.py"}
