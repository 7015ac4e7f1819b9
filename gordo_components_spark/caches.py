"""Operator-intermediate cache registry (round-3 advisory + verdict #7).

Several operators persist an intermediate frame that IS their index —
the MinHash shingle set, the TF-IDF postings, the buffered-filter mask.
Each ``persist()`` lives for the session unless released, so a long-
lived driver that calls these operators repeatedly would accumulate
executor cache indefinitely.  This module gives those persists two
things:

- a CONFIGURABLE STORAGE LEVEL: ``SPARK_GRAFT_CACHE_LEVEL`` (default
  ``MEMORY_AND_DISK``).  At 100 TB the shingled corpus is ~10× the raw
  text — big-corpus deployments set ``MEMORY_AND_DISK_SER`` or
  ``DISK_ONLY`` so the index spills instead of evicting the executors
  (docs/SCALE.md §caches);
- a CLEANUP HOOK: ``release_caches()`` unpersists every tracked frame.
  Call it when the consuming action is done (bench.py's
  ``clearCache()`` between runs is the blunter equivalent).  Releasing
  early never breaks correctness — downstream plans recompute from
  lineage — it only forfeits the reuse.
"""

from __future__ import annotations

import json
import os
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


def persist_tracked(df: DataFrame, level: StorageLevel | None = None) -> DataFrame:
    """Persist at the configured level and register for release."""
    out = df.persist(level or operator_storage_level())
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


def _parquet_rows(sf_dir: str, table: str) -> int:
    # footer-metadata row count (driver-side, no Spark job); duplicated
    # from extensions_corpus._table_rows to keep this module import-leaf
    import pyarrow.parquet as pq

    path = os.path.join(sf_dir, f"{table}.parquet")
    if os.path.isdir(path):
        return sum(
            pq.read_metadata(os.path.join(path, f)).num_rows
            for f in os.listdir(path)
            if f.endswith(".parquet")
        )
    return pq.read_metadata(path).num_rows


def source_stat(sf_dir: str, table: str):
    """Stat fingerprint of a fixture table: (mtime_ns, size) for a file,
    the sorted child listing for a directory.  Strictly stronger than the
    footer row count (which a regenerated same-shape fixture preserves —
    the tables.py relation-cache rationale); round-8 review upgraded the
    scratch caches to carry BOTH."""
    path = os.path.join(sf_dir, f"{table}.parquet")
    st = os.stat(path)
    if os.path.isdir(path):
        # lists, not tuples: the fingerprint is compared against its
        # JSON round-trip, which has no tuple type
        kids = sorted(
            [e.name, e.stat().st_size, e.stat().st_mtime_ns] for e in os.scandir(path)
        )
        return [st.st_mtime_ns, kids]
    return [st.st_mtime_ns, st.st_size]


_INSTALL_LOCK = threading.Lock()


def _fp_matches(marker: str, fp: dict) -> bool:
    try:
        with open(marker) as fh:
            return json.load(fh) == fp
    except (OSError, ValueError):
        return False


def materialized_cache(sf_dir: str, scratch_root: str, name: str, table: str, build) -> str:
    """Fingerprinted, atomically-installed /tmp materialization cache —
    ONE definition of the discipline the streaming replay dir pioneered,
    now shared by every scan leg that round-trips the fixture through a
    scratch format (CSV/JSONL/ORC, date-partitioned, schema-evolution):

    - keyed by {sf_dir, parquet-footer row count, source stat}: a
      REGENERATED fixture under the same basename (the driver rebuilds
      testdata between rounds) can never serve stale data — the
      _SUCCESS-marker-only check this replaces would have (oracle reads
      the new parquet, Spark reads the old scratch copy: silent
      cross-round mismatch), and a same-shape regeneration that
      preserves row counts is caught by the mtime/size stat;
    - built into a pid+thread-suffixed temp dir and renamed into place:
      two concurrent cold-cache sessions (pytest + bench) never see a
      half-written dir, and a killed build leaves no visible state;
    - never deletes a fingerprint-valid dir: a builder that loses the
      race adopts the winner's dir and drops its own build.

    ``build(tmp_dir)`` writes the payload; the ``_FP.json`` marker is
    ignored by Spark's readers (underscore-prefixed = metadata)."""
    import shutil

    sf_tag = os.path.basename(sf_dir.rstrip("/"))
    out = f"{scratch_root}/{sf_tag}/{name}"
    marker = os.path.join(out, "_FP.json")
    fp = {
        "sf_dir": sf_dir,
        "n_rows": _parquet_rows(sf_dir, table),
        "src": source_stat(sf_dir, table),
        "v": 2,
    }
    if _fp_matches(marker, fp):
        return out
    # pid + thread token: two THREADS of one process (the concurrent
    # streaming legs) would otherwise share a tmp dir and interleave
    # their writes
    tmp = f"{out}.tmp-{os.getpid()}-t{threading.get_ident()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.dirname(tmp), exist_ok=True)
    build(tmp)
    with open(os.path.join(tmp, "_FP.json"), "w") as fh:
        json.dump(fp, fh)
    # Install without ever deleting a fingerprint-valid ``out``: another
    # builder may have installed it while this one built, and a running
    # query may be reading it.  The lock makes re-check + install one step
    # for this process's threads.  Across processes, ``os.rename`` onto a
    # non-empty dir fails, so a colliding install is re-checked (and
    # adopted) instead of overwritten.  Only a missing or stale dir is
    # replaced, and a stale one is renamed aside before it is deleted.
    with _INSTALL_LOCK:
        for _ in range(8):
            if _fp_matches(marker, fp):
                shutil.rmtree(tmp, ignore_errors=True)
                return out
            aside = f"{tmp}.stale"
            try:
                os.rename(out, aside)
            except FileNotFoundError:
                pass
            shutil.rmtree(aside, ignore_errors=True)
            try:
                os.rename(tmp, out)
                return out
            except OSError:
                continue  # another process installed first: re-check it
    shutil.rmtree(tmp, ignore_errors=True)
    raise RuntimeError(f"materialized_cache: could not install {out}")
