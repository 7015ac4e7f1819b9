"""The one cache layer: every fixture-derived cache is keyed, installed
and shared here.

- ``footer_rows`` and ``stat_fingerprint`` are the only fixture
  fingerprints.  The footer row count sizes operators (block counts,
  shuffle widths) and, together with the stat fingerprint, keys every
  cache: a driver-regenerated fixture under the same basename changes
  the stat even when it keeps the row count.
- ``materialized_cache`` is the only on-disk install of a
  ``/tmp/gordo_spark_*`` scratch dir: fingerprinted, built in a private
  temp dir, renamed into place, single-flight per dir within a process,
  and never deleting a valid dir.  Constants that define an artifact
  (a format version, a seed, a bucket count) go into its ``name``.
- ``memo`` is the only process-local memo keyed on a fixture (the
  trained-model rows): single-flight per key.
- ``rename_into_place`` is the install step of ``materialized_cache``
  and of the JVM's class-data-sharing archive (``session.py``), whose
  key is not a fixture: a finished ``tmp`` (a dir or a file) replaces a
  stale ``out`` but never a valid one another process installed first.
- ``persist_tracked`` persists an operator's intermediate frame (the
  MinHash shingle set, the TF-IDF postings) at the configured storage
  level and registers it for ``release_caches()``.  The level is
  ``SPARK_GRAFT_CACHE_LEVEL`` (default ``MEMORY_AND_DISK``); at 100 TB
  big-corpus deployments set ``MEMORY_AND_DISK_SER`` or ``DISK_ONLY`` so
  the index spills instead of evicting the executors (docs/SCALE.md
  §caches).  Releasing early never breaks correctness — downstream plans
  recompute from lineage — it only forfeits the reuse.

The relation cache in ``sources/tables.py`` stays there: it is
session-scoped and bounded, and keys on ``stat_fingerprint``.
"""

from __future__ import annotations

import json
import os
import shutil
import threading

from pyspark import StorageLevel
from pyspark.sql import DataFrame

# Python StorageLevel constants vary across Spark majors (4.x dropped
# the _SER alias; its MEMORY_AND_DISK is already serialized-in-JVM and
# MEMORY_AND_DISK_DESER is the deserialized form) — resolve defensively.
_LEVELS = {
    name: getattr(StorageLevel, name)
    for name in (
        "MEMORY_ONLY",
        "MEMORY_AND_DISK",
        "MEMORY_AND_DISK_SER",
        "MEMORY_AND_DISK_DESER",
        "DISK_ONLY",
    )
    if hasattr(StorageLevel, name)
}

_LIVE: list[DataFrame] = []


def operator_storage_level() -> StorageLevel:
    # Default = whatever df.persist() itself defaults to on this Spark:
    # on 4.x the bare MEMORY_AND_DISK constant is the SERIALIZED form,
    # and silently substituting it for persist()'s deserialized default
    # taxed every probe of a persisted index with ser/deser (measured
    # ~10-20% on the minhash/tfidf headline queries — caught comparing
    # r4→r5 bench).  DESER where it exists, plain otherwise.
    default = "MEMORY_AND_DISK_DESER" if "MEMORY_AND_DISK_DESER" in _LEVELS else "MEMORY_AND_DISK"
    name = os.environ.get("SPARK_GRAFT_CACHE_LEVEL", default).upper()
    return _LEVELS.get(name, _LEVELS[default])


def persist_tracked(df: DataFrame) -> DataFrame:
    """Persist at the configured level and register for release."""
    out = df.persist(operator_storage_level())
    _LIVE.append(out)
    return out


def release_caches() -> int:
    """Unpersist every tracked operator cache; returns how many."""
    n = 0
    while _LIVE:
        try:
            _LIVE.pop().unpersist()
            n += 1
        except Exception:
            pass
    return n


def footer_rows(sf_dir: str, table: str) -> int:
    """Row count of a fixture table from its parquet FOOTER metadata
    (driver-side, no Spark job); a Spark-written directory sums its
    part files."""
    import pyarrow.parquet as pq

    path = os.path.join(sf_dir, f"{table}.parquet")
    if os.path.isdir(path):
        return sum(
            pq.read_metadata(os.path.join(path, f)).num_rows
            for f in os.listdir(path)
            if f.endswith(".parquet")
        )
    return pq.read_metadata(path).num_rows


def stat_fingerprint(path: str) -> list:
    """(mtime_ns, size) of a file, or (mtime_ns, sorted child listing) of
    a directory.  Strictly stronger than the footer row count, which a
    regenerated same-shape fixture preserves.  Lists, not tuples: the
    fingerprint is compared against its JSON round-trip."""
    st = os.stat(path)
    if os.path.isdir(path):
        kids = sorted(
            [e.name, e.stat().st_size, e.stat().st_mtime_ns] for e in os.scandir(path)
        )
        return [st.st_mtime_ns, kids]
    return [st.st_mtime_ns, st.st_size]


# One lock per cache key, so concurrent cold callers of one key run one
# build while other keys build freely; ``_GUARD`` only covers the lookup.
_LOCKS: dict = {}
_GUARD = threading.Lock()


def _lock_for(key) -> threading.Lock:
    with _GUARD:
        return _LOCKS.setdefault(key, threading.Lock())


_MEMO: dict = {}


def memo(key, build):
    """Process-local single-flight memo: the first caller of ``key`` runs
    ``build()``; concurrent callers of the same key wait for it and share
    its result.  ``key`` must carry the fixture fingerprint (footer rows
    and stat) of whatever ``build`` reads."""
    try:
        return _MEMO[key]
    except KeyError:
        pass
    with _lock_for(("memo", key)):
        if key not in _MEMO:
            _MEMO[key] = build()
        return _MEMO[key]


def _valid(out: str, fp: dict) -> bool:
    """``out`` carries a marker for ``fp`` and every payload entry the
    marker recorded still exists (a dir deleted in parts is stale)."""
    try:
        with open(os.path.join(out, "_FP.json")) as fh:
            have = json.load(fh)
        entries = have.pop("entries")
        return have == fp and set(entries) <= set(os.listdir(out))
    except (OSError, ValueError, KeyError, TypeError, AttributeError):
        return False


def materialized_cache(sf_dir: str, scratch_root: str, name: str, table: str, build) -> str:
    """Fingerprinted, atomically installed scratch dir
    ``{scratch_root}/{sf basename}/{name}`` derived from fixture
    ``table``; returns its path.

    - The ``_FP.json`` marker records {sf_dir, footer rows, stat
      fingerprint, format version} and the payload's top-level entry
      names.  A regenerated fixture, a marker from an older format, or a
      payload entry deleted under a kept marker all read as stale, so
      the dir is rebuilt instead of served.  Spark's readers ignore the
      underscore-prefixed marker.
    - Single-flight: concurrent cold callers in one process run
      ``build`` once, under that dir's lock; the others wait and adopt.
    - ``build(tmp)`` writes the payload into a temp dir private to its
      process and thread, which is then renamed into place, so no reader
      ever sees a half-written dir and a killed build leaves nothing
      visible.
    - A valid dir is never deleted: across processes ``os.rename`` onto
      a non-empty dir fails, so a colliding install is re-checked and
      adopted.  Only a missing or stale dir is replaced, and a stale one
      is renamed aside before it is deleted."""
    sf_tag = os.path.basename(sf_dir.rstrip("/"))
    out = f"{scratch_root}/{sf_tag}/{name}"
    fp = {
        "sf_dir": sf_dir,
        "n_rows": footer_rows(sf_dir, table),
        "src": stat_fingerprint(os.path.join(sf_dir, f"{table}.parquet")),
        "v": 3,
    }
    if _valid(out, fp):
        return out
    with _lock_for(out):
        if _valid(out, fp):
            return out
        tmp = f"{out}.tmp-{os.getpid()}-t{threading.get_ident()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(os.path.dirname(tmp), exist_ok=True)
        build(tmp)
        with open(os.path.join(tmp, "_FP.json"), "w") as fh:
            json.dump({**fp, "entries": sorted(os.listdir(tmp))}, fh)
        if rename_into_place(tmp, out, lambda: _valid(out, fp)):
            return out
    raise RuntimeError(f"materialized_cache: could not install {out}")


def _remove(path: str) -> None:
    if os.path.isdir(path) and not os.path.islink(path):
        shutil.rmtree(path, ignore_errors=True)
        return
    try:
        os.remove(path)
    except FileNotFoundError:
        pass


def rename_into_place(tmp: str, out: str, valid) -> bool:
    """Install ``tmp`` (a dir or a file) as ``out`` unless ``valid()``
    already holds for ``out``, in which case ``tmp`` is dropped and the
    valid ``out`` is adopted.  A stale ``out`` is renamed aside before it
    is deleted.  ``os.rename`` onto a non-empty dir fails, so a
    collision with another process's install is re-checked, never
    overwritten.  Returns whether a valid ``out`` is in place."""
    for _ in range(8):
        if valid():
            _remove(tmp)
            return True
        aside = f"{tmp}.stale"
        try:
            os.rename(out, aside)
        except FileNotFoundError:
            pass
        _remove(aside)
        try:
            os.rename(tmp, out)
            return True
        except OSError:
            continue  # another process installed first: re-check it
    _remove(tmp)
    return False
