"""The session layer: the engine's Python-worker daemon with its stat-guarded
``zipimport`` cache and gc-frozen, preloaded heap (``pedsnetdcc_spark.pyworker``),
and the conf that ``build_session`` applies."""

from __future__ import annotations

import importlib
import json
import os
import subprocess
import sys
import zipfile
import zipimport

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from pedsnetdcc_spark import pyworker
from pedsnetdcc_spark.session import session_conf

EAGER_REREAD = sys.version_info < (3, 13)
PKG_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(pyworker.__file__)))


def _write_zip(path: str, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@pytest.mark.skipif(not EAGER_REREAD, reason="zipimport reads lazily from 3.13")
def test_guarded_invalidate_rereads_only_changed_archives(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"pyworker_probe_a": "VALUE = 1\n"})
    monkeypatch.syspath_prepend(archive)
    for name in ("pyworker_probe_a", "pyworker_probe_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("pyworker_probe_a").VALUE == 1

    reads = []
    real_read = zipimport._read_directory

    def counting_read(path):
        if path == archive:
            reads.append(path)
        return real_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    importlib.invalidate_caches()  # first call records the archive's stamp
    reads.clear()
    for _ in range(5):
        importlib.invalidate_caches()
    assert reads == []

    # rewritten in place: new size and a later mtime -> read again
    st = os.stat(archive)
    _write_zip(archive, {"pyworker_probe_a": "VALUE = 1\n",
                         "pyworker_probe_b": "VALUE = 2\n"})
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    importlib.invalidate_caches()
    assert reads == [archive]
    assert importlib.import_module("pyworker_probe_b").VALUE == 2

    # an archive dropped from the directory cache is read again
    reads.clear()
    zipimport._zip_directory_cache.pop(archive)
    importlib.invalidate_caches()
    assert reads == [archive]
    assert archive in zipimport._zip_directory_cache


@pytest.mark.skipif(EAGER_REREAD, reason="the guard is installed before 3.13")
def test_lazy_zipimport_is_left_untouched():
    assert pyworker  # imported: nothing to install
    assert zipimport.zipimporter.invalidate_caches.__module__ == "zipimport"


def _run_python(code: str, extra_path: tuple[str, ...] = ()) -> dict:
    """Run ``code`` in a fresh interpreter with this package importable;
    it prints one JSON object as its last line."""
    paths = [PKG_PARENT, *extra_path]
    out = subprocess.run(
        [sys.executable, "-c", code], check=True, capture_output=True, text=True,
        env={**os.environ, "PYTHONPATH": os.pathsep.join(paths)})
    return json.loads(out.stdout.strip().splitlines()[-1])


def test_prefork_preloads_and_freezes(tmp_path):
    """The daemon's pre-fork step imports the worker modules, skips one
    that raises ``ImportError`` and freezes the heap; importing the
    module does neither."""
    (tmp_path / "pyworker_broken_dep.py").write_text("raise ImportError('no backend')\n")
    report = """
import gc, json, sys
from pedsnetdcc_spark import pyworker
{step}
print(json.dumps({{"frozen": gc.get_freeze_count(),
                  "loaded": [m for m in pyworker.PRELOAD if m in sys.modules],
                  "broken": "pyworker_broken_dep" in sys.modules}}))
"""
    imported = _run_python(report.format(step=""))
    assert imported == {"frozen": 0, "loaded": [], "broken": False}

    forked = _run_python(
        report.format(step="pyworker.PRELOAD = ('pyworker_broken_dep',) + pyworker.PRELOAD\n"
                           "pyworker._prefork()"),
        extra_path=(str(tmp_path),))
    assert forked["frozen"] > 0
    assert forked["loaded"] == list(pyworker.PRELOAD)
    assert "pandas" in forked["loaded"] and not forked["broken"]


def test_python_workers_run_guarded_daemon(spark):
    """Every partition of a pandas UDF runs in a worker whose
    ``invalidate_caches`` is the engine's guard and whose heap was frozen
    before the fork, and the UDF's values are those of a plain column
    expression."""
    @pandas_udf("struct<v:long,guarded:boolean,frozen:boolean>")
    def probe(s: pd.Series) -> pd.DataFrame:
        import gc
        import zipimport

        code = getattr(zipimport.zipimporter.invalidate_caches, "__code__", None)
        guarded = code is not None and code.co_filename.endswith(
            os.path.join("pedsnetdcc_spark", "pyworker.py"))
        return pd.DataFrame({"v": s * 3 + 1, "guarded": guarded,
                             "frozen": gc.get_freeze_count() > 0})

    n_parts = 16
    df = spark.range(0, 400, numPartitions=n_parts).select(
        F.spark_partition_id().alias("p"), "id", probe("id").alias("r"))
    rows = df.collect()
    assert {r.p for r in rows} == set(range(n_parts))
    assert [r.r.v for r in rows] == [r.id * 3 + 1 for r in rows]
    assert all(r.r.frozen for r in rows)
    if EAGER_REREAD:
        assert all(r.r.guarded for r in rows)


def test_daemon_module_is_local_only():
    local = session_conf("local[4]", 8)
    assert local["spark.python.daemon.module"] == "pedsnetdcc_spark.pyworker"
    assert local["spark.executorEnv.PYTHONPATH"] == PKG_PARENT

    for master in ("yarn", "spark://host:7077", "k8s://https://host:443",
                   "local-cluster[2,1,1024]"):
        conf = session_conf(master, 8)
        assert "spark.python.daemon.module" not in conf
        assert "spark.executorEnv.PYTHONPATH" not in conf


def test_session_conf_merges_caller_pythonpath_and_caller_wins():
    conf = session_conf("local[2]", 4, {
        "spark.executorEnv.PYTHONPATH": os.pathsep.join(["/opt/libs", "/srv/udfs"]),
        "spark.python.daemon.module": "pyspark.daemon",
        "spark.sql.shuffle.partitions": "3",
    })
    assert conf["spark.executorEnv.PYTHONPATH"].split(os.pathsep) == [
        "/opt/libs", "/srv/udfs", PKG_PARENT]
    assert conf["spark.python.daemon.module"] == "pyspark.daemon"
    assert conf["spark.sql.shuffle.partitions"] == "3"

    already = session_conf("local", 4, {"spark.executorEnv.PYTHONPATH": PKG_PARENT})
    assert already["spark.executorEnv.PYTHONPATH"] == PKG_PARENT


def test_idle_streams_poll_every_100ms_on_every_master():
    for master in ("local[4]", "local", "yarn", "spark://host:7077"):
        assert session_conf(master, 8)["spark.sql.streaming.pollingDelay"] == "100ms"
    conf = session_conf("local[2]", 4, {"spark.sql.streaming.pollingDelay": "10ms"})
    assert conf["spark.sql.streaming.pollingDelay"] == "10ms"
