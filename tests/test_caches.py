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
    rows (the serve path's client threads share ``_TRAIN_CACHE``)."""
    import threading
    import time

    from gordo_components_spark.ml import islands

    fits = []

    class _Fit:
        def collect(self):
            fits.append(1)
            time.sleep(0.2)  # hold the build open while the others arrive
            return [{"machine": 7, "model_pkl_b64": "blob", "status": "ok"}]

    monkeypatch.setattr(islands, "_TRAIN_CACHE", {})
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
