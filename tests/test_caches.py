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


def test_relation_cache_concurrent_eviction(tmp_path, monkeypatch):
    # several threads push the relation cache past its 256-entry bound at
    # once: eviction iterates the dict while the others insert, which
    # raises "dictionary changed size during iteration" without the lock
    import sys
    import threading

    from gordo_components_spark.sources import tables

    class _Reader:
        def parquet(self, path):
            return path

    class _Session:  # weakref-able stand-in: only ``read.parquet`` is used
        read = _Reader()

    paths = []
    for i in range(600):
        p = tmp_path / f"t{i}.parquet"
        p.write_bytes(b"")
        paths.append(str(p))
    monkeypatch.setattr(tables, "_RELATION_CACHE", {})
    session = _Session()
    errors = []
    n_threads = 6

    def worker(t):
        try:
            for _ in range(4):
                for p in paths[t::n_threads]:
                    assert tables._read_parquet(session, p) == p
        except Exception as e:  # noqa: BLE001 — collected and asserted below
            errors.append(e)

    prior = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)  # switch threads often: widen the race
    try:
        threads = [threading.Thread(target=worker, args=(t,)) for t in range(n_threads)]
        for th in threads:
            th.start()
        for th in threads:
            th.join()
    finally:
        sys.setswitchinterval(prior)
    assert not errors, errors[:3]
    assert len(tables._RELATION_CACHE) <= 257
