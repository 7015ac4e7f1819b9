"""SparkSession construction + per-session normalization.

The driver passes its own SparkSession to ``queries()`` callables, so
anything we depend on must be applied at runtime via ``prepare(spark)``
(all of these are runtime-settable SQL confs), not only at build time.

Scale posture (SURVEY §4): AQE on (4.x default) handles join strategy,
skew splitting and shuffle-partition coalescing at 100 TB; Arrow for
every pandas-UDF boundary; session timezone pinned UTC so naive parquet
timestamps mean the same thing in Spark and the DuckDB oracle.

JVM launch posture (``get_spark`` only): most of the CPU of a short
request on a local JVM is JIT compilation, not data work, so the
sessions this module launches pin one C2 compiler thread and a codegen
cache that holds a round's working set (``_JIT_JAVA_OPTIONS``,
``_CODEGEN_CACHE_ENTRIES``).  Every gordo step (a build, a server) is a
fresh process, so each pays the JVM's cold start; ``get_spark`` cuts it
by launching from a dynamic class-data-sharing archive (JEP 350) that
it builds itself under ``_CDS_DIR``:

- the gain needs that dir to persist across processes.  The one launch
  per archive key that finds no archive dumps the classes it loaded
  when its JVM exits and installs the archive, if the JVM finished it;
  that process pays a slower launch and a wait at exit (~3 s and ~15 s
  on 4 cores).  Every later launch maps the archive.  A process whose
  dir is thrown away after it (a fresh container per step) pays that
  cost on every run unless the archive is built beforehand, e.g. by
  one ``get_spark`` job in the image build (the dir must stay writable:
  an unwritable one launches without the archive);
- an installed archive that the JVM's own log shows unmapped is
  deleted, so the next launch dumps a new one;
- a conf dir that holds real files, or any other class path input
  (``HADOOP_CONF_DIR`` …), launches without the archive and keeps its
  config;
- ``cds_state()`` says which of these happened: ``mapped``,
  ``dumping`` or ``off: <reason>``.

All of this acts only when the JVM is launched: a session that already
exists (the driver's, a notebook's), or the JVM a stopped one left,
keeps its own settings, and ``get_spark`` then changes no environment
variable and dumps nothing.
"""

from __future__ import annotations

import atexit
import contextlib
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

from pyspark import SparkContext
from pyspark.sql import SparkSession

from gordo_components_spark import caches

_RUNTIME_CONFS = {
    # events.parquet is INT64 TIMESTAMP(NANOS).  Spark ≤4.0 needs this
    # conf to read it (as long; sources/tables.py converts).  Spark 4.1+
    # IGNORES it and reads timestamp_ntz natively — tables.py handles
    # both worlds; either way values match DuckDB's CAST(ts AS TIMESTAMP)
    # µs truncation.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.adaptive.enabled": "true",
}


# ``-XX:CICompilerCount=2`` = one C1 + one C2 compiler thread (tiered).
# HotSpot's tiered load feedback scales the tier-4 thresholds with the
# C2 queue length PER THREAD, drops stale tasks and routes methods to
# tier 2 while the queue is backed up; with a single C2 thread the
# lukewarm Catalyst/Janino/ANTLR methods of each warm-up burst stay in
# C1 and only the hot per-row loops reach C2.  Measured on a 4-core box
# (whose ergonomic default is 1 C1 + 2 C2) over the timed window of one
# perfbench ``stream_curate`` run with ``-XX:+LogCompilation``: tier-4
# compiles 1776 → 1110, C2 task seconds 33.9 → 16.6, all JIT seconds
# 41.9 → 23.5, process-tree CPU 62.7 → 48.7 s.  The ergonomic default
# grows with the core count, so the cut is larger on bigger boxes.  ``TieredStopAtLevel=1`` and raised ``Tier4*`` thresholds cut
# more CPU but cost 7-25 % of peak speed on heavy sf0.1 queries.
#
# Passed as ``spark.driver.defaultJavaOptions``, which spark-submit
# PREPENDS to the driver's java options; ``--driver-java-options`` (the
# form callers put in PYSPARK_SUBMIT_ARGS) replaces
# ``spark.driver.extraJavaOptions``, so both stay in effect.
_JIT_JAVA_OPTIONS = "-XX:CICompilerCount=2"

# Static conf (read when the SparkContext starts).  Spark's default of
# 100 generated classes is smaller than one perfbench round's ~160-200,
# so the LRU evicted plans before they came round again and Janino (and
# the JIT, on Janino's own methods) recompiled them every round.  At 2000
# a repeated plan compiles 0 classes (tests/test_session.py).
_CODEGEN_CACHE_ENTRIES = "2000"


# Dynamic AppCDS archives live in the package tree, like __pycache__:
# the archive is a build artifact of the installed JDK and Spark jars,
# and a checkout finds it again on its next run.  Not under /tmp: a
# benchmark that moves /tmp scratch into a per-run dir and deletes it
# would never see a mapped archive.  One archive is ~150-200 MB.
_CDS_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".jvm_cds")
_CDS_STATE = "off: no JVM launched by get_spark in this process"
# First field of a finished JDK 17 dynamic archive (CDS_DYNAMIC_ARCHIVE_MAGIC).
# The JDK writes the header last, so a dump killed before it finished
# leaves zeros here.
_CDS_DYNAMIC_MAGIC = 0xF00BABA8


def cds_state() -> str:
    """How the JVM that ``get_spark`` launched in this process used its
    class-data-sharing archive: ``mapped`` (the JVM's log shows the
    dynamic archive mapped), ``dumping`` (this JVM writes the archive
    when it exits, and this process installs it) or ``off: <reason>``."""
    return _CDS_STATE


class _NoCds(Exception):
    """Launch without an archive; the message says why."""


def _class_path_inputs() -> tuple[str, str, str]:
    """(JDK home, Spark jars dir, conf dir to launch with), or ``_NoCds``
    when the class path holds anything but the conf dir and the jars.

    JDK 17 will not dump when the class path holds a non-empty directory,
    and Spark always puts its conf dir there.  A conf dir holding only
    ``*.template`` files gives Spark nothing, so the launch swaps in an
    empty dir next to the archives, the same path at dump and at map
    time.  A conf dir with a real file keeps its config and its JVM
    launches without an archive."""
    from pyspark.find_spark_home import _find_spark_home

    if "PYSPARK_GATEWAY_PORT" in os.environ:
        raise _NoCds("the JVM was launched by the caller (PYSPARK_GATEWAY_PORT)")
    for var in ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH", "SPARK_PREPEND_CLASSES"):
        if os.environ.get(var):
            raise _NoCds(f"{var} is set")
    submit = os.environ.get("PYSPARK_SUBMIT_ARGS", "")
    if "--driver-class-path" in submit or "spark.driver.extraClassPath" in submit:
        raise _NoCds("PYSPARK_SUBMIT_ARGS extends the driver class path")
    spark_home = _find_spark_home()
    conf = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    real = sorted(f for f in os.listdir(conf) if not f.endswith(".template")) if os.path.isdir(conf) else []
    if real:
        raise _NoCds(f"conf dir {conf} holds {real[0]}")
    home = os.environ.get("JAVA_HOME")
    java = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not java or not os.path.isfile(java):
        raise _NoCds("no java binary")
    jdk = os.path.dirname(os.path.dirname(os.path.realpath(java)))
    return jdk, os.path.join(spark_home, "jars"), os.path.join(_CDS_DIR, "conf")


def _cds_key(jdk: str, jars: str, conf: str) -> str:
    """What the JVM checks before it maps a dynamic archive: the JDK
    build (its ``release`` file and module image) and every class path
    entry (the jars by name, size and mtime).  The heap size is not in
    it: an archive dumped at 2 g maps at 8 g."""
    with open(os.path.join(jdk, "release")) as fh:
        release = fh.read()
    ident = {
        "jdk": jdk,
        "release": release,
        "modules": caches.stat_fingerprint(os.path.join(jdk, "lib", "modules")),
        "jars": caches.stat_fingerprint(jars),
        "class_path": [f"{conf}/", f"{jars}/*"],
    }
    return hashlib.sha1(json.dumps(ident, sort_keys=True).encode()).hexdigest()[:16]


class _CdsLaunch:
    """The archive side of one JVM launch: map the key's archive if it is
    installed, or else, for the one process that claims the key, dump a
    candidate at JVM exit and install it (``_install_dump``).  Holds the
    java options and ``SPARK_CONF_DIR`` for the launch and, after it, the
    JVM's own evidence of what happened."""

    def __init__(self):
        jdk, jars, conf = _class_path_inputs()
        try:
            os.makedirs(conf, exist_ok=True)
        except OSError as e:
            raise _NoCds(f"archive dir {_CDS_DIR} is not writable ({e.strerror})")
        if not os.access(_CDS_DIR, os.W_OK):
            raise _NoCds(f"archive dir {_CDS_DIR} is not writable")
        if os.listdir(conf):
            raise _NoCds(f"{conf} is not empty")
        if any(c.isspace() for c in _CDS_DIR):
            raise _NoCds(f"archive dir {_CDS_DIR} has whitespace in its path")
        self.conf = conf
        self.out = os.path.join(_CDS_DIR, f"{_cds_key(jdk, jars, conf)}.jsa")
        self.log = os.path.join(_CDS_DIR, f"launch-{os.getpid()}.log")
        if os.path.isfile(self.out):
            self.mode, self.archive = "map", self.out
        elif _claim(f"{self.out}.claim"):
            _sweep()
            self.mode, self.archive = "dump", f"{self.out}.tmp-{os.getpid()}"
        else:
            raise _NoCds("another process is dumping this archive")

    def java_options(self) -> str:
        flag = "ArchiveClassesAtExit" if self.mode == "dump" else "SharedArchiveFile"
        # cds messages go to the launch log only: a dump's warnings
        # (skipped signed-jar and old-bytecode classes) must not reach
        # the caller's stdout
        return f"-XX:{flag}={self.archive} -Xlog:cds*=off -Xlog:cds=info:file={self.log}::filecount=0"

    def launch(self, builder) -> SparkSession:
        had = os.environ.get("SPARK_CONF_DIR")
        os.environ["SPARK_CONF_DIR"] = self.conf
        try:
            return builder.getOrCreate()
        except BaseException:
            if self.mode == "dump":
                _rm(f"{self.out}.claim")
            raise
        finally:
            if had is None:
                os.environ.pop("SPARK_CONF_DIR", None)
            else:
                os.environ["SPARK_CONF_DIR"] = had

    def finish(self, spark: SparkSession) -> str:
        """Read and remove the launch log; return the state.  A dumping
        launch installs its archive at exit; an installed archive that
        did not map is deleted, so the next launch dumps a new one."""
        try:
            with open(self.log) as fh:
                mapped = "Mapped dynamic region" in fh.read()
            os.remove(self.log)
        except OSError:
            mapped = False
        if self.mode == "dump":
            atexit.register(_install_dump, spark.sparkContext._gateway.proc, self.archive, self.out)
            return "dumping"
        if mapped:
            return "mapped"
        _rm(self.out)
        return "off: the JVM did not map the archive (deleted)"


def _rm(path: str) -> None:
    with contextlib.suppress(FileNotFoundError):
        os.remove(path)


def _claim(path: str) -> bool:
    """Create ``path`` with ``O_EXCL`` holding this pid: one dumper per
    key across processes.  A claim whose pid is dead is broken; two
    processes breaking one at once can both win, and then the second to
    exit keeps the first one's archive and drops its own."""
    for _ in range(2):
        try:
            fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY, 0o644)
        except FileExistsError:
            if _alive(path):
                return False
            _rm(path)
            continue
        with os.fdopen(fd, "w") as fh:
            fh.write(str(os.getpid()))
        return True
    return False


def _alive(claim: str) -> bool:
    try:
        with open(claim) as fh:
            return _pid_alive(int(fh.read()))
    except FileNotFoundError:
        return False
    except ValueError:  # not yet written by its creator, or cut short
        try:
            return time.time() - os.path.getmtime(claim) < 60
        except OSError:
            return False


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass
    return True


def _sweep(keep: str = "") -> None:
    """Delete candidates whose dumper is gone (a killed process leaves
    them) and, when ``keep`` names a just-installed archive, every other
    installed archive: one archive per JDK and jar set is ~180 MB."""
    for f in os.listdir(_CDS_DIR):
        path = os.path.join(_CDS_DIR, f)
        pid = f.partition(".jsa.tmp-")[2]
        if pid.isdigit():
            if not _pid_alive(int(pid)):
                _rm(path)
        elif keep and f.endswith(".jsa") and path != keep:
            _rm(path)


def _install_dump(proc: subprocess.Popen | None, tmp: str, out: str) -> None:
    """At exit of the dumping process: close the gateway's stdin, so the
    JVM exits and writes its archive, and wait for it (the caller may
    have stopped it already).  Install the archive if the JVM finished
    its header, delete it otherwise, and release the claim."""
    try:
        if proc is not None and proc.poll() is None:
            proc.stdin.close()
            proc.wait(timeout=300)
    except (OSError, subprocess.TimeoutExpired):
        pass
    try:
        with open(tmp, "rb") as fh:
            done = int.from_bytes(fh.read(4), sys.byteorder) == _CDS_DYNAMIC_MAGIC
    except OSError:
        done = False
    if done and caches.rename_into_place(tmp, out, lambda: os.path.isfile(out)):
        _sweep(keep=out)
    else:
        _rm(tmp)
    _rm(f"{out}.claim")


def prepare(spark: SparkSession) -> SparkSession:
    """Idempotently apply runtime confs to any session (incl. the driver's)."""
    for k, v in _RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # static conf on this build — builder path sets it below
    return spark


def get_spark(app_name: str = "gordo-components-spark", cpus: int | None = None) -> SparkSession:
    """Local session for tests/bench; cluster deployments supply their own.

    Launches the JVM with the module's JIT and codegen-cache posture
    (see ``_JIT_JAVA_OPTIONS``) and its class-data-sharing archive (see
    ``cds_state``); if a session already exists, ``getOrCreate`` returns
    it unchanged and none of these settings apply."""
    global _CDS_STATE
    n = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", "0") or 0) or os.cpu_count() or 4
    b = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(8, n)))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        # bucketed-table home (co-located joins; see tests/test_bucketed_join.py)
        .config("spark.sql.warehouse.dir", "/tmp/gordo_spark_warehouse")
        # fixtures are single smallish parquet files; without a minimum
        # split count a 20MB file scans on ONE core — split to the
        # session's parallelism (clusters get this for free from many files)
        .config("spark.sql.files.minPartitionNum", str(n))
        .config("spark.sql.files.maxPartitionBytes", "16m")
        .config("spark.sql.codegen.cache.maxEntries", _CODEGEN_CACHE_ENTRIES)
    )
    for k, v in _RUNTIME_CONFS.items():
        b = b.config(k, v)
    b = b.config("spark.driver.defaultJavaOptions", _JIT_JAVA_OPTIONS)
    if SparkContext._gateway is not None:
        # this process already launched a JVM (a stopped session keeps
        # it): getOrCreate reuses it, so no launch flag applies
        return prepare(b.getOrCreate())
    try:
        cds = _CdsLaunch()
    except (_NoCds, OSError) as e:
        _CDS_STATE = f"off: {e}"
        return prepare(b.getOrCreate())
    b = b.config("spark.driver.defaultJavaOptions", f"{_JIT_JAVA_OPTIONS} {cds.java_options()}")
    spark = cds.launch(b)
    _CDS_STATE = cds.finish(spark)
    return prepare(spark)


def compile_counters(spark: SparkSession) -> dict[str, float]:
    """Cumulative compile cost of the driver JVM so far: JIT seconds (all
    compiler threads, ``CompilationMXBean``) and the number of Janino
    compiles of generated code (a codegen-cache hit adds none).  Diff two
    snapshots to charge a phase; bench.py and tools/micro_time.py report
    warm-up and timed phases this way."""
    jvm = spark._jvm
    jit = jvm.java.lang.management.ManagementFactory.getCompilationMXBean()
    janino = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    return {
        "jit_compile_s": jit.getTotalCompilationTime() / 1000.0,
        "janino_compiles": janino.getCount(),
    }


def compile_delta(before: dict[str, float], after: dict[str, float]) -> dict[str, float]:
    return {k: round(after[k] - before[k], 3) for k in after}
