"""Tiny-scale smoke run of the benchmark (about five minutes on 4 cores).

    python3 -m pytest perfbench/test_smoke.py -q -p no:cacheprovider

Every workload, traced and untraced, must finish, check its outputs and
print every metric of BENCHMARK.json with its unit and a well-formed
name; it must leave ``/tmp``, ``spark-warehouse/`` and ``perfbench/.work``
as it found them. Without the package next to it, the benchmark must
fail without printing a result.
"""

from __future__ import annotations

import getpass
import json
import math
import os
import re
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BENCH = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
#: /tmp entries Spark, the JVM or the package create when not redirected
TMP_PREFIXES = ("spark-", "blockmgr-", "pyspark-", "artifacts-", "hsperfdata_",
                "etl_apache_kafka_python_doker_aws_spark", "liblz4", "snappy", "libzstd")


def _tmp_entries() -> set[str]:
    names = {n for n in os.listdir("/tmp") if n.startswith(TMP_PREFIXES)}
    perf = f"/tmp/hsperfdata_{getpass.getuser()}"
    if os.path.isdir(perf):
        names |= {f"{perf}/{n}" for n in os.listdir(perf)}
    return names


def _tree(path: str) -> list[str]:
    return sorted(os.path.join(r, n) for r, ds, fs in os.walk(path) for n in ds + fs)


def _run(workload: str, trace: int, cwd: str = ROOT) -> subprocess.CompletedProcess:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
           "--seconds", "1", "--trace", str(trace), "--scale", "tiny"]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", ["analytics", "index_serving", "etl_ingest"])
def test_workload_emits_every_metric(workload, trace):
    tmp_before = _tmp_entries()
    warehouse_before = _tree(os.path.join(ROOT, "spark-warehouse"))
    proc = _run(workload, trace)
    assert proc.returncode == 0, proc.stderr[-4000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert isinstance(result["attempted"], int) and result["attempted"] >= 1
    spec = BENCH["per_layer" if trace else "end_to_end"]
    assert {m["name"]: m["unit"] for m in spec} == {
        name: m["unit"] for name, m in result["metrics"].items()
    }
    for name, m in result["metrics"].items():
        assert NAME.match(name) and UNIT.match(m["unit"]), name
        assert set(m) == {"value", "unit"} and math.isfinite(m["value"]), name
    assert not os.path.exists(os.path.join(HERE, ".work"))
    assert _tree(os.path.join(ROOT, "spark-warehouse")) == warehouse_before
    assert _tmp_entries() <= tmp_before
    if trace:
        layers = json.loads(proc.stdout.strip().splitlines()[-2])["layers"]
        assert layers["trace.unattributed_jobs"] == 0


def test_fails_without_the_package(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", ".out", "__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = _run("etl_ingest", 0, cwd=str(tmp_path))
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
