"""The Python worker daemon of ``get_spark`` sessions (pyworker.py): a
task's ``importlib.invalidate_caches()`` re-reads a zip archive only when
the archive changed, and workers import the daemon from any cwd."""

import json
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _counting_reads(monkeypatch) -> list:
    reads = []
    orig = zipimport._read_directory

    def counted(archive):
        reads.append(archive)
        return orig(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    return reads


@pytest.mark.skipif(
    hasattr(zipimport.zipimporter, "_get_files"), reason="this CPython invalidates lazily"
)
def test_invalidate_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    from gordo_components_spark import pyworker

    # restored at teardown: install() patches the class for the process
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches)
    pyworker.install()
    archive = tmp_path / "lib.zip"
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("old_mod.py", "X = 1\n")
    importer = zipimport.zipimporter(str(archive))
    importer.invalidate_caches()  # the first call reads and records the stat

    reads = _counting_reads(monkeypatch)
    importer.invalidate_caches()
    importer.invalidate_caches()
    assert reads == []

    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("new_mod.py", "Y = 22\n")
    importer.invalidate_caches()
    assert reads == [str(archive)]
    assert importer.find_spec("new_mod") is not None
    assert importer.find_spec("old_mod") is None


def test_session_tasks_do_not_reread_pyspark_zip(spark):
    """Vanilla pyspark workers re-read pyspark.zip's directory ~16 times
    per ``invalidate_caches`` (once per cached importer)."""

    def reads_in_worker(it):  # nested: pickled by value, the worker cannot import this module
        import importlib
        import zipimport

        import pandas as pd

        reads = [0]
        orig = zipimport._read_directory

        def counted(archive):
            reads[0] += 1
            return orig(archive)

        zipimport._read_directory = counted
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = orig
        for _ in it:
            pass
        yield pd.DataFrame({"reads": [reads[0]]})

    got = spark.range(4, numPartitions=4).mapInPandas(reads_in_worker, "reads long").collect()
    assert [r["reads"] for r in got] == [0, 0, 0, 0]
    assert spark.sparkContext.getConf().get("spark.python.daemon.module") == "gordo_components_spark.pyworker"


def test_worker_pythonpath_keeps_a_given_value(monkeypatch):
    from gordo_components_spark import session

    monkeypatch.setenv("PYSPARK_SUBMIT_ARGS", "--conf spark.executorEnv.PYTHONPATH=/a:/b pyspark-shell")
    assert session._worker_pythonpath() == os.pathsep.join(["/a", "/b", ROOT])
    monkeypatch.setenv("PYSPARK_SUBMIT_ARGS", f"--conf=spark.executorEnv.PYTHONPATH={ROOT} pyspark-shell")
    assert session._worker_pythonpath() == ROOT
    monkeypatch.delenv("PYSPARK_SUBMIT_ARGS")
    assert session._worker_pythonpath() == ROOT


_OUTSIDE = """
import json, sys
sys.path.insert(0, sys.argv[1])
import pandas as pd
from gordo_components_spark.ml.islands import FEATURES, train_models
from gordo_components_spark.session import get_spark

spark = get_spark("pyworker-cwd", cpus=2)
out = {"rows": [list(r) for r in spark.createDataFrame([(1,)], "a int").collect()]}
pdf = pd.DataFrame({
    "user_id": [m for m in ("m1", "m2") for _ in range(12)],
    "bucket": pd.date_range("2024-01-01", periods=12, freq="h").tolist() * 2,
    **{f: [float((i * 7 + j) % 11) for i in range(24)] for j, f in enumerate(FEATURES)},
})
fit = train_models(spark.createDataFrame(pdf)).collect()
out["fit"] = sorted((r["machine"], r["status"]) for r in fit)
print("OUT " + json.dumps(out), flush=True)
"""


def test_workers_import_the_daemon_from_any_cwd(tmp_path):
    """With PYTHONPATH unset and a cwd outside the checkout, every Python
    task (a driver-list ``createDataFrame`` too) still finds the daemon
    and the island code."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c", _OUTSIDE, ROOT],
        env={**env, "SPARK_DRIVER_MEMORY": "1g"},
        cwd=tmp_path, capture_output=True, text=True, timeout=600,
    )
    line = [ln for ln in proc.stdout.splitlines() if ln.startswith("OUT ")]
    assert line, proc.stderr[-3000:]
    out = json.loads(line[0][len("OUT "):])
    assert out["rows"] == [[1]]
    assert out["fit"] == [["m1", "ok"], ["m2", "ok"]]
