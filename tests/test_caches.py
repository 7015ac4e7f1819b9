"""materialized_cache discipline: fingerprint reuse, stale invalidation,
atomic install (the stale-fixture hazard the _SUCCESS-only checks had)."""

import json
import os

from gordo_components_spark.caches import materialized_cache


def _builds(counter):
    def build(tmp):
        os.makedirs(tmp, exist_ok=True)
        with open(os.path.join(tmp, "payload.txt"), "w") as fh:
            fh.write(f"build-{counter['n']}")
        counter["n"] += 1

    return build


def test_cache_hits_on_same_fingerprint(tmp_path, sf_dir):
    counter = {"n": 0}
    root = str(tmp_path / "scratch")
    out1 = materialized_cache(sf_dir, root, "leg", "events", _builds(counter))
    out2 = materialized_cache(sf_dir, root, "leg", "events", _builds(counter))
    assert out1 == out2
    assert counter["n"] == 1  # second call served the fingerprinted dir
    assert os.path.isfile(os.path.join(out1, "payload.txt"))


def test_cache_rebuilds_on_stale_fingerprint(tmp_path, sf_dir):
    counter = {"n": 0}
    root = str(tmp_path / "scratch")
    out = materialized_cache(sf_dir, root, "leg", "events", _builds(counter))
    # simulate a regenerated fixture: same path, different row count
    marker = os.path.join(out, "_FP.json")
    with open(marker) as fh:
        fp = json.load(fh)
    fp["n_rows"] += 1
    with open(marker, "w") as fh:
        json.dump(fp, fh)
    materialized_cache(sf_dir, root, "leg", "events", _builds(counter))
    assert counter["n"] == 2  # stale fingerprint forced a rebuild
    with open(marker) as fh:
        assert json.load(fh)["n_rows"] == fp["n_rows"] - 1  # fresh marker


def test_cache_rebuilds_on_missing_marker(tmp_path, sf_dir):
    counter = {"n": 0}
    root = str(tmp_path / "scratch")
    out = materialized_cache(sf_dir, root, "leg", "events", _builds(counter))
    os.remove(os.path.join(out, "_FP.json"))  # e.g. a killed half-write
    materialized_cache(sf_dir, root, "leg", "events", _builds(counter))
    assert counter["n"] == 2


def test_trained_blob_map_single_flight(monkeypatch, sf_dir):
    """8 threads cold-calling one key run exactly one fit and all see its
    rows (the serve path's client threads share ``caches.memo``)."""
    import threading
    import time

    from gordo_components_spark import caches
    from gordo_components_spark.ml import islands

    fits = []

    class _Fit:
        def collect(self):
            fits.append(1)
            time.sleep(0.2)  # hold the build open while the others arrive
            return [{"machine": 7, "model_pkl_b64": "blob", "status": "ok"}]

    monkeypatch.setattr(caches, "_MEMO", {})
    monkeypatch.setattr(islands, "machine_features", lambda *a: None)
    monkeypatch.setattr(islands, "train_models", lambda *a: _Fit())
    start = threading.Barrier(8)
    maps = []

    def call():
        start.wait()
        maps.append(islands.trained_blob_map(None, sf_dir, "single-flight"))

    threads = [threading.Thread(target=call) for _ in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert len(fits) == 1
    assert maps == [{7: "blob"}] * 8


def test_blob_broadcast_slot_under_concurrent_maps(monkeypatch):
    """12 scoring threads alternate between two blob maps: each always
    gets a broadcast of its own map, and every replaced broadcast is
    unpersisted (the fake has no ``destroy``)."""
    import sys
    import threading
    import time

    from gordo_components_spark.ml import islands

    class _Broadcast:
        def __init__(self, value):
            self.value, self.unpersisted = dict(value), False

        def unpersist(self, blocking=False):
            time.sleep(0)  # a py4j round trip: other threads run here
            self.unpersisted = True

    made = []

    class _Context:
        def broadcast(self, value):
            made.append(_Broadcast(value))
            return made[-1]

    class _Spark:
        sparkContext = _Context()

    monkeypatch.setattr(islands, "_BLOBS", None)
    maps = [{"m1": "a", "m2": "b"}, {"m1": "c", "m2": "b"}]
    wrong = []

    def score(i):
        for j in range(200):
            want = maps[(i + j // 7) % 2]
            if islands._blob_broadcast(_Spark, dict(want)).value != want:
                wrong.append((i, j))

    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=score, args=(i,)) for i in range(12)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(switch)
    assert not any(t.is_alive() for t in threads)
    assert wrong == []
    held = islands._BLOBS[2]
    assert 1 < len(made) < 12 * 200  # equal maps reused a broadcast
    assert not held.unpersisted
    assert all(bc.unpersisted for bc in made if bc is not held)


def test_concurrent_builds_never_delete_a_served_dir(tmp_path, sf_dir):
    """8 cold builders with staggered build times: a builder that finishes
    after another has installed must adopt that dir, never replace it —
    every file a caller saw when its call returned must still exist."""
    import threading
    import time

    root = str(tmp_path / "scratch")
    start = threading.Barrier(8)
    seen: list[str] = []

    def call(i):
        def build(tmp):
            os.makedirs(tmp, exist_ok=True)
            time.sleep(0.05 * i)
            with open(os.path.join(tmp, f"part-{i}.txt"), "w") as fh:
                fh.write(str(i))

        start.wait()
        out = materialized_cache(sf_dir, root, "leg", "events", build)
        seen.extend(os.path.join(out, f) for f in os.listdir(out))

    threads = [threading.Thread(target=call, args=(i,)) for i in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert len(seen) == 16  # each caller saw one part file plus the marker
    assert [p for p in seen if not os.path.exists(p)] == []
    # the losers' tmp builds are gone; only the installed dir remains
    assert os.listdir(os.path.dirname(os.path.dirname(seen[0]))) == ["leg"]


def _race(n, fn, timeout=300):
    """Run ``fn`` in ``n`` threads released together by a barrier, with a
    short switch interval so the threads interleave finely."""
    import sys
    import threading

    start = threading.Barrier(n)

    def call():
        start.wait()
        fn()

    threads = [threading.Thread(target=call) for _ in range(n)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)


def test_concurrent_cold_callers_run_one_build(tmp_path, sf_dir):
    """16 cold callers of one key: exactly one ``build`` runs and every
    caller gets the same valid dir."""
    import time

    root = str(tmp_path / "scratch")
    builds: list[int] = []
    outs: list[str] = []

    def build(tmp):
        builds.append(1)
        os.makedirs(tmp, exist_ok=True)
        time.sleep(0.2)  # hold the build open while the others arrive
        with open(os.path.join(tmp, "payload.txt"), "w") as fh:
            fh.write("built")

    _race(16, lambda: outs.append(materialized_cache(sf_dir, root, "leg", "events", build)))
    assert len(builds) == 1
    assert len(outs) == 16 and len(set(outs)) == 1
    assert sorted(os.listdir(outs[0])) == ["_FP.json", "payload.txt"]


def test_cache_rebuilds_when_a_payload_entry_is_deleted(tmp_path, sf_dir):
    """A kept marker whose payload entry is gone is stale, not a hit."""
    counter = {"n": 0}
    root = str(tmp_path / "scratch")
    out = materialized_cache(sf_dir, root, "leg", "events", _builds(counter))
    os.remove(os.path.join(out, "payload.txt"))
    assert os.path.isfile(os.path.join(out, "_FP.json"))
    out2 = materialized_cache(sf_dir, root, "leg", "events", _builds(counter))
    assert counter["n"] == 2
    assert os.path.isfile(os.path.join(out2, "payload.txt"))


def test_concurrent_dedup_index_builds_share_one_index(spark, sf_dir, tmp_path, monkeypatch):
    """4 threads cold-call ``build_dedup_index``: every returned root is
    readable and exactly one index dir exists afterwards."""
    from gordo_components_spark.operators import extensions_corpus as ec

    monkeypatch.setattr(ec, "_DEDUP_IDX_ROOT", str(tmp_path / "dedupidx"))
    roots: list[str] = []
    _race(4, lambda: roots.append(ec.build_dedup_index(spark, sf_dir)))
    assert len(roots) == 4 and len(set(roots)) == 1
    counts = {spark.read.parquet(os.path.join(r, "hist")).count() for r in roots}
    assert len(counts) == 1 and counts.pop() > 0
    assert os.listdir(os.path.dirname(roots[0])) == ["index"]


def _parquet_copy(sf_dir, dst, n=None):
    """Write ``region.parquet`` (first ``n`` rows) to ``dst``."""
    import pyarrow.parquet as pq

    t = pq.read_table(os.path.join(sf_dir, "region.parquet"))
    pq.write_table(t if n is None else t.slice(0, n), dst)
    return t.num_rows if n is None else n


def test_relation_cache_serves_a_rewritten_file(spark, sf_dir, tmp_path):
    """A fixture rewritten under the same path returns its new rows and
    replaces its own entry."""
    from gordo_components_spark.sources import tables

    path = str(tmp_path / "region.parquet")
    n = _parquet_copy(sf_dir, path)
    assert tables._read_parquet(spark, path).count() == n
    assert tables._read_parquet(spark, path).count() == n
    _parquet_copy(sf_dir, path, n - 2)
    assert tables._read_parquet(spark, path).count() == n - 2
    assert [k for k in tables._RELATION_CACHE if k[1] == path] == [(id(spark), path)]


def test_relation_cache_drops_a_collected_session(spark, sf_dir, tmp_path, monkeypatch):
    """A second session gets its own entry; once that session is
    collected, the next eviction drops its entry and keeps live ones."""
    import gc
    import weakref

    from pyspark import RDD

    from gordo_components_spark.sources import tables

    monkeypatch.setattr(tables, "_RELATION_CACHE", {})
    path = str(tmp_path / "region.parquet")
    n = _parquet_copy(sf_dir, path)
    to_df = RDD.toDF
    other = spark.newSession()
    RDD.toDF = to_df  # a new session re-binds RDD.toDF to itself; undo that
    assert tables._read_parquet(spark, path).count() == n
    assert tables._read_parquet(other, path).count() == n
    mine, theirs = (id(spark), path), (id(other), path)
    assert set(tables._RELATION_CACHE) == {mine, theirs}
    collected = weakref.ref(other)
    del other
    gc.collect()
    assert collected() is None
    # live filler up to the 256 bound: dropping the dead entry suffices
    for i in range(255):
        tables._RELATION_CACHE[(id(spark), f"filler-{i}")] = (weakref.ref(spark), None, None)
    path2 = str(tmp_path / "region2.parquet")
    _parquet_copy(sf_dir, path2)
    tables._read_parquet(spark, path2)  # a miss over the bound evicts
    assert theirs not in tables._RELATION_CACHE
    assert mine in tables._RELATION_CACHE and (id(spark), path2) in tables._RELATION_CACHE
    assert len(tables._RELATION_CACHE) == 257


def test_relation_cache_concurrent_readers(spark, sf_dir, tmp_path):
    """8 threads reading one path at once all get its rows."""
    from gordo_components_spark.sources import tables

    path = str(tmp_path / "region.parquet")
    n = _parquet_copy(sf_dir, path)
    counts: list[int] = []
    _race(8, lambda: counts.append(tables._read_parquet(spark, path).count()))
    assert counts == [n] * 8
