"""CLI surface: edge-list scan → split pagerank/degree → CSV/parquet sink,
resume via --checkpoint-dir. Runs in-process against the shared session,
and once through spark-submit with the package shipped as ``--py-files``."""

import json
import os
import shutil
import subprocess
import zipfile

import pyarrow.parquet as pq
import pytest
from pyspark import SparkConf

import gelly_partitioning_spark
from gelly_partitioning_spark.cli import main
from gelly_partitioning_spark.session import PYTHON_DAEMON, submitted_daemon_conf

from .conftest import HUB_DEGREES, HUB_EDGES


def _write_edge_list(path):
    with open(path, "w") as f:
        f.write("# golden hub graph\n")
        for a, b in HUB_EDGES:
            f.write(f"{a}\t{b}\n")


def test_cli_degree_count_csv(spark, tmp_path, capsys):
    elist = tmp_path / "edges.tsv"
    _write_edge_list(elist)
    out = tmp_path / "out"
    rc = main([
        "degree_count", "--edges", str(elist), "--output", str(out),
        "--format", "csv", "--threshold", "2", "--alpha", "2", "--level", "4",
    ])
    assert rc == 0
    rows = {}
    for fn in os.listdir(out):
        if fn.endswith(".csv"):
            with open(out / fn) as f:
                header = f.readline().strip().split(",")
                for line in f:
                    vals = dict(zip(header, line.strip().split(",")))
                    rows[vals["id"]] = int(vals["degree"])
    assert rows == HUB_DEGREES
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["algorithm"] == "degree_count"


def test_cli_pagerank_with_metrics(spark, tmp_path):
    elist = tmp_path / "edges.tsv"
    _write_edge_list(elist)
    out = tmp_path / "pr"
    metrics = tmp_path / "m.json"
    rc = main([
        "pagerank", "--edges", str(elist), "--output", str(out),
        "--threshold", "2", "--max-iterations", "8", "--tol", "1e-12",
        "--metrics-out", str(metrics),
        "--checkpoint-dir", str(tmp_path / "ckpt"),
    ])
    assert rc == 0
    got = spark.read.parquet(str(out))
    assert got.count() == 21
    m = json.loads(metrics.read_text())
    assert len(m) == 8
    assert all("partition_rows" in mm and mm["partition_rows"] for mm in m)
    # snapshot manifest exists for resume
    assert (tmp_path / "ckpt" / "manifest.json").exists()


@pytest.mark.parametrize("settings, want", [
    ({}, dict([PYTHON_DAEMON])),
    ({"spark.submit.pyFiles": "/jobs/gps.zip"}, {}),
    ({PYTHON_DAEMON[0]: "pyspark.daemon"}, {}),
])
def test_submitted_daemon_conf(spark, settings, want):
    # spark-submit's own daemon and --py-files launches keep PySpark's daemon
    conf = SparkConf(loadDefaults=False).setAll(settings.items())
    assert submitted_daemon_conf(conf) == want


SUBMIT_CLI = os.path.join(os.path.dirname(__file__), os.pardir, "tools", "submit_cli.py")
ENGINE_DAEMON = [
    "--conf", "spark.executorEnv.PYTHONPATH={zip}",
    "--conf", f"{PYTHON_DAEMON[0]}={PYTHON_DAEMON[1]}",
]


@pytest.mark.skipif(shutil.which("spark-submit") is None, reason="needs spark-submit")
@pytest.mark.parametrize("daemon", [[], ENGINE_DAEMON], ids=["pyspark", "engine"])
def test_spark_submit_with_py_files(tmp_path, daemon):
    # the package reaches the driver and the workers only in gps.zip; the
    # single-task pagerank runs a Python task on the daemon's workers
    package = os.path.dirname(gelly_partitioning_spark.__file__)
    archive = tmp_path / "gps.zip"
    with zipfile.ZipFile(archive, "w") as z:
        for root, dirs, files in os.walk(package):
            dirs[:] = [d for d in dirs if d != "__pycache__"]
            for f in files:
                path = os.path.join(root, f)
                z.write(path, os.path.relpath(path, os.path.dirname(package)))
    _write_edge_list(tmp_path / "edges.tsv")
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        ["spark-submit", "--master", "local[1]", "--driver-memory", "512m",
         "--py-files", str(archive), *(a.format(zip=archive) for a in daemon),
         SUBMIT_CLI, "pagerank", "--edges", "edges.tsv", "--output", "out"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    ranks = pq.read_table(tmp_path / "out").to_pydict()
    assert sorted(ranks["id"], key=int) == [str(i) for i in range(1, 22)]
    assert sum(ranks["rank"]) == pytest.approx(1.0)
