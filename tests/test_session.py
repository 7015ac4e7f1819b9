"""JVM launch posture of ``session.get_spark``: one C2 compiler thread, a
codegen cache that holds a round's working set and a dynamic
class-data-sharing archive (see session.py)."""

import json
import os
import shlex
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _input_arguments(spark) -> list[str]:
    mx = spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
    return list(mx.getInputArguments())


def test_session_jvm_runs_one_c2_thread(spark):
    assert "-XX:CICompilerCount=2" in _input_arguments(spark)


def test_jit_option_survives_driver_java_options():
    """``--driver-java-options`` in PYSPARK_SUBMIT_ARGS (how perfbench and
    users launch) replaces ``extraJavaOptions``; the compiler-thread
    option must still reach the JVM, next to the caller's own."""
    script = (
        "from gordo_components_spark.session import get_spark\n"
        "s = get_spark('jit-opts', cpus=1)\n"
        "mx = s._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()\n"
        "print('ARGS', '\\x1f'.join(mx.getInputArguments()))\n"
        "s.stop()\n"
    )
    env = dict(
        os.environ,
        PYTHONPATH=ROOT,
        SPARK_DRIVER_MEMORY="1g",
        PYSPARK_SUBMIT_ARGS=f"--driver-java-options {shlex.quote('-Dx=1')} pyspark-shell",
    )
    out = subprocess.run(
        [sys.executable, "-c", script], env=env, cwd=ROOT,
        capture_output=True, text=True, timeout=300,
    )
    line = [ln for ln in out.stdout.splitlines() if ln.startswith("ARGS ")]
    assert line, out.stderr[-2000:]
    args = line[0][len("ARGS "):].split("\x1f")
    assert "-XX:CICompilerCount=2" in args
    assert "-Dx=1" in args


def test_codegen_cache_keeps_plan_across_many_distinct_plans(spark):
    """A plan re-run after 120 distinct generated plans compiles nothing:
    Spark's default 100-entry cache evicted it (7 Janino compiles)."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compiles = metrics.METRIC_COMPILATION_TIME()

    def plan_a():
        return (
            spark.range(50)
            .selectExpr("id % 5 AS k", "id * 3 + 1 AS v")
            .groupBy("k")
            .agg({"v": "sum"})
            .collect()
        )

    plan_a()
    for i in range(120):
        spark.range(5).selectExpr(f"id * {i + 11} + {i + 13}").collect()
    before = compiles.getCount()
    plan_a()
    assert compiles.getCount() - before == 0


# Each launch test runs get_spark in a child process whose archive dir
# (``session._CDS_DIR``) is a temp dir.  ``pre`` runs before the launch,
# ``post`` after it; both may add to ``out``, which is printed as JSON.
_LAUNCH = """
import json, os, sys
import gordo_components_spark.session as session
session._CDS_DIR = sys.argv[1]
out = {}
%(pre)s
spark = session.get_spark("cds-test", cpus=1)
out["state"] = session.cds_state()
agg = spark.range(100).selectExpr("id %% 7 AS k").groupBy("k").count().orderBy("k")
out["rows"] = [list(r) for r in agg.collect()]
%(post)s
print("OUT " + json.dumps(out), flush=True)
"""


def _launch(cds_dir, pre="", post="", **env) -> dict:
    proc = subprocess.run(
        [sys.executable, "-c", _LAUNCH % {"pre": pre, "post": post}, str(cds_dir)],
        env={**os.environ, "PYTHONPATH": ROOT, "SPARK_DRIVER_MEMORY": "1g", **env},
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    line = [ln for ln in proc.stdout.splitlines() if ln.startswith("OUT ")]
    assert line, proc.stderr[-3000:]
    return json.loads(line[0][len("OUT "):])


def _archive_files(cds_dir) -> list[str]:
    return sorted(f for f in os.listdir(cds_dir) if ".jsa" in f) if os.path.isdir(cds_dir) else []


def test_second_launch_maps_the_archive_the_first_dumped(tmp_path):
    """The first launch dumps at its exit and installs the archive; the
    next one, with a 4x larger heap, maps it and returns the same rows."""
    cds = tmp_path / "cds"
    first = _launch(cds)
    assert first["state"] == "dumping"
    installed = _archive_files(cds)  # no claim or candidate left
    assert len(installed) == 1 and installed[0].endswith(".jsa")
    second = _launch(cds, SPARK_DRIVER_MEMORY="4g")
    assert second["state"] == "mapped"
    assert second["rows"] == first["rows"]
    assert _archive_files(cds) == installed


def test_real_conf_dir_launches_without_archive_and_keeps_its_config(tmp_path):
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text("spark.sql.caseSensitive true\n")
    got = _launch(
        tmp_path / "cds",
        post="out['case_sensitive'] = spark.conf.get('spark.sql.caseSensitive')",
        SPARK_CONF_DIR=str(conf),
    )
    assert got["state"] == f"off: conf dir {conf} holds spark-defaults.conf"
    assert got["case_sensitive"] == "true"
    assert _archive_files(tmp_path / "cds") == []


def _dead_pid() -> int:
    dead = subprocess.Popen(["true"])
    dead.wait()
    return dead.pid


def test_archive_with_zeroed_header_is_rejected_and_deleted(tmp_path):
    """A file with zeros where the header goes (what a dump killed before
    it finished leaves) does not map; -Xshare:auto falls back silently,
    so only the launch log shows it.  The launch succeeds and the next
    one dumps again."""
    pre = (
        "key = session._cds_key(*session._class_path_inputs())\n"
        "os.makedirs(sys.argv[1], exist_ok=True)\n"
        "bad = os.path.join(sys.argv[1], key + '.jsa')\n"
        "open(bad, 'wb').write(bytes(1 << 20))"
    )
    got = _launch(tmp_path / "cds", pre=pre, post="out['left'] = os.path.exists(bad)")
    assert got["state"] == "off: the JVM did not map the archive (deleted)"
    assert got["rows"] and not got["left"]
    assert _archive_files(tmp_path / "cds") == []


def _write(path, head: bytes) -> None:
    path.write_bytes(head + bytes(4096))


def test_dump_installs_only_a_finished_archive(tmp_path, monkeypatch):
    """At exit the dumper installs its candidate only if the JVM wrote the
    header; installing deletes other keys' archives and dead dumpers'
    candidates, and releases the claim either way."""
    from gordo_components_spark import session

    monkeypatch.setattr(session, "_CDS_DIR", str(tmp_path))
    magic = session._CDS_DYNAMIC_MAGIC.to_bytes(4, sys.byteorder)
    out = tmp_path / "new.jsa"
    for head, installed in ((bytes(4), False), (magic, True)):
        tmp = tmp_path / f"new.jsa.tmp-{os.getpid()}"
        _write(tmp, head)
        _write(tmp_path / "old.jsa", magic)
        _write(tmp_path / f"old.jsa.tmp-{_dead_pid()}", bytes(4))
        assert session._claim(f"{out}.claim")
        session._install_dump(None, str(tmp), str(out))
        left = sorted(os.listdir(tmp_path))
        if installed:
            assert left == ["new.jsa"]
        else:
            assert left[0] == "old.jsa" and len(left) == 2  # nothing swept
        assert out.exists() == installed


def test_claim_is_held_while_its_pid_lives(tmp_path):
    from gordo_components_spark import session

    claim = tmp_path / "k.jsa.claim"
    claim.write_text(str(os.getpid()))
    assert not session._claim(str(claim))
    claim.write_text(str(_dead_pid()))
    assert session._claim(str(claim))
    assert claim.read_text() == str(os.getpid())


@pytest.mark.parametrize("stopped", [False, True])
def test_existing_jvm_is_left_alone(tmp_path, stopped):
    """With a session already running, or a JVM a stopped session left
    behind, get_spark launches nothing: no env var changes, no archive
    dir, no dump.  A running session keeps its own Python worker daemon;
    a new context on a stopped session's JVM takes get_spark's."""
    pre = (
        "from pyspark.sql import SparkSession\n"
        "s = SparkSession.builder.master('local[1]').config('spark.driver.memory', '1g').getOrCreate()\n"
        + ("s.stop()\n" if stopped else "")
        + "env = dict(os.environ)"
    )
    post = (
        "out['env_same'] = dict(os.environ) == env\n"
        "out['daemon'] = spark.sparkContext.getConf().get('spark.python.daemon.module')"
    )
    got = _launch(tmp_path / "cds", pre=pre, post=post)
    assert got["state"].startswith("off: no JVM launched by get_spark")
    assert got["env_same"]
    assert got["daemon"] == ("gordo_components_spark.pyworker" if stopped else None)
    assert not os.path.exists(tmp_path / "cds")


def test_unwritable_archive_dir_launches_without_archive(tmp_path, monkeypatch):
    from gordo_components_spark import session

    (tmp_path / "conf").mkdir()
    monkeypatch.setenv("SPARK_CONF_DIR", str(tmp_path / "conf"))
    monkeypatch.setattr(session, "_CDS_DIR", os.devnull + "/cds")
    with pytest.raises(session._NoCds, match="is not writable"):
        session._CdsLaunch()
