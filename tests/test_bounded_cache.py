"""The one bounded cache (catalog/cache.py): LRU order, entry and byte caps,
the app-id sweep, and the file signature its callers key on.  The policy
tests use fake values and fake app ids; only the ld() test starts Spark."""

import os

import pyarrow as pa
import pyarrow.parquet as pq

from linkedin_iceberg_spark.catalog import manifests as M
from linkedin_iceberg_spark.catalog.cache import BoundedCache, file_signature


def _table(n: int) -> pa.Table:
    return pa.table({"x": pa.array(range(n), pa.int64())})


def _fill(cache: BoundedCache, keys, app_id=None) -> None:
    for k in keys:
        cache.get(k, lambda k=k: f"v{k}", app_id)


def test_byte_cap_holds_and_keeps_most_recent():
    one = _table(1000).nbytes                      # 8000 bytes
    cache = BoundedCache(max_entries=100, max_bytes=3 * one + one // 2,
                         size=lambda t: t.nbytes)
    for i in range(10):                            # 10 tables, ~2.9x the cap
        assert cache.get(i, lambda: _table(1000)).num_rows == 1000
        assert cache.nbytes <= cache.max_bytes
    assert sorted(k for k in range(10) if k in cache) == [7, 8, 9]
    assert cache.nbytes == 3 * one


def test_entry_larger_than_byte_cap_is_returned_not_kept():
    cache = BoundedCache(max_entries=10, max_bytes=100,
                         size=lambda t: t.nbytes)
    assert cache.get("big", lambda: _table(1000)).num_rows == 1000
    assert "big" not in cache and cache.nbytes == 0


def test_entry_cap_evicts_one_at_a_time():
    cache = BoundedCache(max_entries=3)
    _fill(cache, "abcd")
    assert len(cache) == 3
    assert [k for k in "abcd" if k in cache] == ["b", "c", "d"]


def test_get_refreshes_recency():
    cache = BoundedCache(max_entries=2)
    _fill(cache, "ab")
    assert cache.get("a", lambda: "rebuilt") == "va"   # a hit, a is newest
    _fill(cache, "c")
    assert "a" in cache and "b" not in cache and "c" in cache


def test_contains_does_not_refresh_recency():
    cache = BoundedCache(max_entries=2)
    _fill(cache, "ab")
    assert "a" in cache
    _fill(cache, "c")
    assert "a" not in cache and "b" in cache and "c" in cache


def test_new_app_id_drops_entries_of_older_ids():
    cache = BoundedCache(max_entries=10)
    _fill(cache, ["k1", "k2"], app_id="app-1")
    _fill(cache, ["plain"])                   # untagged: outlives sessions
    _fill(cache, ["k3"], app_id="app-1")
    assert len(cache) == 4
    _fill(cache, ["k4"], app_id="app-2")
    assert [k for k in ["k1", "k2", "k3", "plain", "k4"] if k in cache] == \
        ["plain", "k4"]


def test_none_key_builds_without_caching():
    cache = BoundedCache(max_entries=2)
    calls = []
    for _ in range(2):
        assert cache.get(None, lambda: calls.append(1) or "v") == "v"
    assert len(calls) == 2 and len(cache) == 0


def test_drop_and_clear_keep_byte_count():
    cache = BoundedCache(max_entries=10, max_bytes=10 ** 9,
                         size=lambda t: t.nbytes)
    for k in [("a", 1), ("a", 2), ("b", 1)]:
        cache.get(k, lambda: _table(10))
    cache.drop(lambda k: k[0] == "a")
    assert len(cache) == 1 and cache.nbytes == _table(10).nbytes
    cache.clear()
    assert len(cache) == 0 and cache.nbytes == 0


def test_concurrent_gets_keep_caps_and_byte_count():
    """Manifest reads fill the cache from a thread pool: under contention
    the byte count must equal the sizes held and both caps must hold."""
    import random
    import sys
    import threading

    cache = BoundedCache(max_entries=20, max_bytes=200, size=len)
    errors = []

    def worker(seed):
        rng = random.Random(seed)
        try:
            for _ in range(2000):
                k = rng.randrange(60)
                assert len(cache.get(k, lambda: "x" * (k % 17))) == k % 17
                if rng.random() < 0.01:
                    cache.drop(lambda key: key % 7 == 0)
        except Exception as e:  # surfaced below
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(i,))
                   for i in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads) and not errors
    assert len(cache) <= 20 and cache.nbytes <= 200
    assert cache.nbytes == sum(len(k % 17 * "x") for k in range(60)
                               if k in cache)


def test_file_signature(tmp_path):
    d = tmp_path / "in.parquet"
    (d / "sub").mkdir(parents=True)
    for name in ["b.parquet", "a.parquet", "_SUCCESS", ".a.parquet.crc",
                 "sub/c.parquet"]:
        (d / name).write_bytes(b"x" * 3)
    sig = file_signature([str(d)])
    assert [os.path.relpath(p, d) for p, _, _ in sig] == \
        ["a.parquet", "b.parquet", "sub/c.parquet"]
    assert all(size == 3 for _, _, size in sig)
    one = str(d / "a.parquet")
    assert file_signature([one]) == (
        (one, os.stat(one).st_mtime_ns, 3),)
    assert file_signature([one, str(tmp_path / "missing")]) is None


def test_manifest_cache_is_byte_bounded(tmp_path, monkeypatch):
    """read_manifest_table keys on (abspath, mtime_ns) and respects the
    cache's byte cap (the module cache has the same policy at 256 MB)."""
    assert M._MANIFEST_TABLE_CACHE.max_bytes == 256 << 20
    paths = [str(tmp_path / f"m{i}.parquet") for i in range(5)]
    for p in paths:
        pq.write_table(_table(1000), p)
    one = pq.read_table(paths[0]).nbytes
    small = BoundedCache(max_entries=512, max_bytes=2 * one,
                         size=lambda t: t.nbytes)
    monkeypatch.setattr(M, "_MANIFEST_TABLE_CACHE", small)
    for p in paths:
        assert M.read_manifest_table(p).num_rows == 1000
        assert small.nbytes <= 2 * one
    keys = [(os.path.abspath(p), os.stat(p).st_mtime_ns) for p in paths]
    assert [k in small for k in keys] == [False, False, False, True, True]


def test_ld_directory_input_sees_in_place_rewrite(spark, tmp_path):
    """A directory input is keyed on the signature of its data files, so a
    same-named part file rewritten in place (the directory's own mtime does
    not change) is a new key: ld() returns the new rows and schema."""
    import time

    from linkedin_iceberg_spark import queries as Q

    sf = str(tmp_path / "sfdir")
    part = os.path.join(sf, "orders.parquet", "part-00000.parquet")
    os.makedirs(os.path.dirname(part))
    pq.write_table(pa.table({"o_orderkey": list(range(10))}), part)
    first = Q.ld(spark, sf, "orders")
    assert first.count() == 10 and first.columns == ["o_orderkey"]

    dir_mtime = os.stat(os.path.dirname(part)).st_mtime_ns
    time.sleep(0.01)  # ensure a distinct mtime_ns
    pq.write_table(pa.table({"o_orderkey": list(range(25)),
                             "o_extra": [2 * i for i in range(25)]}), part)
    assert os.stat(os.path.dirname(part)).st_mtime_ns == dir_mtime
    second = Q.ld(spark, sf, "orders")
    assert second.columns == ["o_orderkey", "o_extra"]
    assert sorted(r["o_extra"] for r in second.collect()) == \
        [2 * i for i in range(25)]
