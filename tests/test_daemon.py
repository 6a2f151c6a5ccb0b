"""The worker daemon's zip-import guard (etl_spark_eks_spark.daemon).

PySpark's worker calls ``importlib.invalidate_caches()`` before every
task; on CPython 3.11/3.12 that re-reads every zip archive on sys.path.
The guard must skip that re-read only while an archive is unchanged,
and local sessions from ``get_spark`` must run their workers under it.
"""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pandas as pd
from pyspark.sql import functions as F

from etl_spark_eks_spark import daemon

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


def test_guard_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    archive = str(tmp_path / "guarded.zip")
    _write_zip(archive, {"graft_zip_a": "VALUE = 1\n"})
    reads = []
    real_read = zipimport._read_directory
    real_original = daemon._original
    originals = []
    try:
        with monkeypatch.context() as m:
            m.syspath_prepend(archive)
            assert importlib.import_module("graft_zip_a").VALUE == 1
            importer = sys.path_importer_cache[archive]
            m.setattr(zipimport, "_read_directory", lambda p: reads.append(p) or real_read(p))
            m.setattr(zipimport.zipimporter, "invalidate_caches", daemon.invalidate_caches)

            importer.invalidate_caches()
            first = len(reads)
            importer.invalidate_caches()
            assert len(reads) == first, "unchanged archive was read again"

            _write_zip(archive, {"graft_zip_a": "VALUE = 1\n", "graft_zip_b": "VALUE = 2\n"})
            importer.invalidate_caches()
            assert len(reads) > first
            assert importlib.import_module("graft_zip_b").VALUE == 2

            # A missing archive goes through the original method: the
            # importer forgets the archive's directory.
            os.remove(archive)
            m.setattr(daemon, "_original", lambda self: originals.append(self) or real_original(self))
            importer.invalidate_caches()
            assert originals == [importer]
            assert archive not in zipimport._zip_directory_cache
    finally:
        for name in ("graft_zip_a", "graft_zip_b"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)
    assert zipimport.zipimporter.invalidate_caches is daemon._original


def test_local_workers_run_under_the_guard(spark):
    @F.pandas_udf("string")
    def probe(s: pd.Series) -> pd.Series:
        import time
        import zipimport as zi

        t0 = time.perf_counter()
        importlib.invalidate_caches()
        ms = (time.perf_counter() - t0) * 1000
        guard = zi.zipimporter.invalidate_caches.__code__.co_filename
        return pd.Series([f"{guard}|{ms}"] * len(s))

    rows = [r[0].split("|") for r in spark.range(0, 4, 1, 4).select(probe("id")).collect()]
    assert len(rows) == 4
    for guard, ms in rows:
        assert guard.endswith(os.path.join("etl_spark_eks_spark", "daemon.py"))
        assert float(ms) < 20, f"invalidate_caches took {ms} ms"


def test_addpyfile_zip_imports_after_workers_are_warm(spark, tmp_path):
    spark.range(0, 4, 1, 4).select(F.pandas_udf(lambda s: s + 1, "long")("id")).collect()
    shipped = tmp_path / "graft_shipped.zip"
    _write_zip(shipped, {"graft_shipped_mod": "VALUE = 42\n"})
    spark.sparkContext.addPyFile(str(shipped))

    @F.pandas_udf("long")
    def shipped_value(s: pd.Series) -> pd.Series:
        import graft_shipped_mod

        return s * 0 + graft_shipped_mod.VALUE

    got = spark.range(0, 4, 1, 4).select(shipped_value("id")).collect()
    assert [r[0] for r in got] == [42] * 4


def test_daemon_starts_outside_the_repository(tmp_path):
    """Python workers start from the driver's working directory; without
    the package on spark.executorEnv.PYTHONPATH the daemon module is not
    found there and every Python UDF fails."""
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {REPO!r})
        import pandas as pd
        from pyspark.sql import functions as F
        from etl_spark_eks_spark.session import get_spark

        spark = get_spark(app_name="daemon-cwd-test", extra_conf={{"spark.ui.enabled": "false"}})
        spark.sparkContext.setLogLevel("ERROR")

        @F.pandas_udf("string")
        def guard(s: pd.Series) -> pd.Series:
            import zipimport
            return s.map(lambda _: zipimport.zipimporter.invalidate_caches.__code__.co_filename)

        print("GUARD", spark.range(0, 2, 1, 2).select(guard("id")).first()[0])
        spark.stop()
        """
    )
    env = {k: v for k, v in os.environ.items() if k not in ("PYTHONPATH", "SPARK_GRAFT_EXTRA_CONF")}
    env.update(SPARK_GRAFT_CPUS="2", SPARK_GRAFT_SHUFFLE_PARTITIONS="2", SPARK_GRAFT_DRIVER_MEM="1g")
    proc = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    guard = [ln for ln in proc.stdout.splitlines() if ln.startswith("GUARD ")]
    assert guard and guard[0].endswith(os.path.join("etl_spark_eks_spark", "daemon.py"))
