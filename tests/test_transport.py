"""The Python <-> JVM transport of a local ``get_spark`` session.

Python workers talk to the executor over a Unix domain socket whose
path must fit AF_UNIX's 107 bytes whatever the temp dir, and building a
Column must not capture the Python call site through py4j (counted, not
timed). Both are read in one fresh process, because PySpark decides the
call-site capture once per process."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import textwrap

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SCRIPT = textwrap.dedent(
    """
    import json, os, sys
    sys.path.insert(0, {repo!r})
    import pandas as pd
    from py4j.clientserver import ClientServerConnection
    from pyspark.errors import AnalysisException
    from pyspark.sql import functions as F
    from etl_spark_eks_spark.session import get_spark

    spark = get_spark(app_name="transport-test", extra_conf={{
        "spark.ui.enabled": "false",
        "spark.driver.extraJavaOptions": "-Djava.io.tmpdir=" + os.environ["TMPDIR"],
    }})
    spark.sparkContext.setLogLevel("ERROR")
    out = {{"socket_dir": spark.conf.get("spark.python.unix.domain.socket.dir", None)}}

    def seen(_):
        return os.environ.get("PYTHON_UNIX_DOMAIN_ENABLED", "")

    @F.pandas_udf("string")
    def pandas_env(s: pd.Series) -> pd.Series:
        return s.map(seen)

    frame = spark.range(0, 4, 1, 2)
    for name, col in (("pandas_udf", pandas_env("id")), ("row_udf", F.udf(seen, "string")("id"))):
        out[name] = sorted({{r[0] for r in frame.select(col).collect()}})

    sent = []
    real = ClientServerConnection.send_command
    ClientServerConnection.send_command = (
        lambda self, command, *a, **k: sent.append(command) or real(self, command, *a, **k)
    )
    F.col("a") == F.col("b")
    sent.clear()
    F.col("a") == F.col("b")
    out["py4j_commands"] = len(sent)
    ClientServerConnection.send_command = real

    try:
        spark.range(1).select(F.col("no_such_column")).schema
    except AnalysisException as e:
        out["error"] = e.getCondition()
    spark.stop()
    print("RESULT", json.dumps(out))
    """
)


@pytest.fixture(scope="module")
def transport(tmp_path_factory):
    """One get_spark process whose TMPDIR (and java.io.tmpdir) is at
    least 150 characters long: a socket named under it would not fit."""
    tmp = tmp_path_factory.mktemp("transport")
    long_tmp = tmp
    while len(str(long_tmp)) < 150:
        long_tmp = long_tmp / ("t" * 40)
    long_tmp.mkdir(parents=True)
    env = {k: v for k, v in os.environ.items() if k not in ("PYTHONPATH", "SPARK_GRAFT_EXTRA_CONF")}
    env.update(
        TMPDIR=str(long_tmp), SPARK_GRAFT_CPUS="2", SPARK_GRAFT_SHUFFLE_PARTITIONS="2",
        SPARK_GRAFT_DRIVER_MEM="1g",
    )
    proc = subprocess.run(
        [sys.executable, "-c", SCRIPT.format(repo=REPO)], cwd=tmp, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = [ln for ln in proc.stdout.splitlines() if ln.startswith("RESULT ")]
    assert result, proc.stderr[-3000:]
    return json.loads(result[0].split(" ", 1)[1])


def test_python_udfs_run_over_a_unix_socket_under_a_long_tmpdir(transport):
    assert [v.lower() for v in transport["pandas_udf"]] == ["true"]
    assert [v.lower() for v in transport["row_udf"]] == ["true"]
    assert transport["socket_dir"].startswith("/tmp/")


@pytest.mark.parametrize("length", [20, 48, 49, 150])
def test_socket_dir_fits_sparks_limit(monkeypatch, length):
    """Spark refuses a socket dir of 61 or more characters; the dir
    goes under the temp dir only while it stays below that."""
    import tempfile

    from etl_spark_eks_spark.session import _socket_dir

    root = tempfile.mkdtemp(prefix="sgt", dir="/tmp")
    base = root
    while len(base) < length:
        base = os.path.join(base, "x" * min(40, length - len(base) - 1))
    os.makedirs(base, exist_ok=True)
    monkeypatch.setattr(tempfile, "tempdir", base)
    got = _socket_dir.__wrapped__()
    try:
        assert os.path.isdir(got) and len(os.fsencode(got)) <= 60
        assert os.path.dirname(got) == (base if length <= 48 else "/tmp")
    finally:
        shutil.rmtree(root)
        shutil.rmtree(got, ignore_errors=True)


def test_column_ops_capture_no_call_site(transport):
    """With call-site capture on, col == col issues 37 py4j commands
    (getActiveSession, a conf read, PySparkCurrentOrigin set/clear per
    Column method); without it, 7."""
    assert 0 < transport["py4j_commands"] <= 10


def test_unresolved_column_keeps_its_error_class(transport):
    assert transport["error"] == "UNRESOLVED_COLUMN.WITH_SUGGESTION"
