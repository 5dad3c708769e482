"""Bounded memo caches (caches.BoundedCache): every engine memo is one
LRU type with a name, a cap, an optional weight and eviction action,
and hit/miss/eviction counters; `caches.reset()` clears them all.

- `get` counts and refreshes recency; `in` only looks.
- A weighed cache bounds total weight; `on_evict` sees each value the
  cache drops, so cached DataFrames are unpersisted.
- 16 threads filling one cache at its cap raise nothing and keep it.
- The manifest caches hold a 300-manifest table whole, so its second
  AUTO plan reads no manifest.
"""

import sys
import threading

import pytest
from pyspark.sql import types as T

from iceberg_spark import caches
from iceberg_spark import manifests as M
from iceberg_spark import scan as S
from iceberg_spark.caches import BoundedCache
from iceberg_spark.expressions import col
from iceberg_spark.manifests import DataFile
from iceberg_spark.table import Catalog
from iceberg_spark.writes import FastAppend


def test_get_refreshes_lru_order():
    c = BoundedCache("t.lru", 3)
    for k in "abc":
        c.put(k, k.upper())
    assert c.get("a") == "A"          # a is now the newest
    c.put("d", "D")
    assert list(c) == ["c", "a", "d"]
    assert (c.hits, c.misses, c.evictions) == (1, 0, 1)
    assert c.get("b") is None and c.misses == 1


def test_put_refresh_and_on_evict():
    evicted = []
    c = BoundedCache("t.refresh", 3, on_evict=evicted.append)
    for k in "abc":
        c.put(k, k.upper())
    c.put("a", "A2")                  # re-put refreshes recency
    c.put("d", "D")
    assert c.items() == [("c", "C"), ("a", "A2"), ("d", "D")]
    assert evicted == ["B"]


def test_weight_cap():
    c = BoundedCache("t.weight", 10, weight=len)
    c.put("a", "xxxx")
    c.put("b", "xxxx")
    c.put("c", "xxx")                 # 11 > 10: a goes
    assert list(c) == ["b", "c"] and c.size == 7
    c.put("big", "x" * 11)            # heavier than the cap: not stored
    assert "big" not in c and list(c) == ["b", "c"]
    c.put("d", "x" * 10)              # fits alone: everything else goes
    assert list(c) == ["d"] and c.evictions == 3


def test_none_is_cached():
    c = BoundedCache("t.none", 2)
    assert c.get("k", False) is False
    c.put("k", None)
    assert "k" in c and c.get("k", False) is None
    assert (c.hits, c.misses) == (1, 1)


def test_in_neither_counts_nor_touches():
    c = BoundedCache("t.in", 2)
    c.put("a", 1)
    c.put("b", 2)
    assert "a" in c and "x" not in c
    assert (c.hits, c.misses) == (0, 0)
    c.put("c", 3)                     # a stayed the oldest: it goes
    assert list(c) == ["b", "c"]


def test_reset_clears_every_instance():
    a, b = BoundedCache("t.reset_a", 4), BoundedCache("t.reset_b", 4)
    a.put(1, 1)
    b.put(2, 2)
    b.get(2)
    assert {"t.reset_a", "t.reset_b"} <= set(caches.stats())
    caches.reset()
    assert len(a) == len(b) == 0 and b.hits == 0
    assert not any(len(c) for c in (M._ARROW_CACHE, S._POS_RUNS_CACHE))


def test_on_evict_unpersists_dataframes(spark):
    c = BoundedCache("t.frames", 1, on_evict=caches.unpersist)
    first = spark.range(3).cache()
    c.put("a", first)
    assert first.storageLevel.useMemory
    c.put("b", spark.range(4).cache())
    assert not first.storageLevel.useMemory
    c.clear()
    assert len(c) == 0


def test_threads_fill_one_cache_at_its_cap():
    """16 threads (as many as the planning pool) with a short switch
    interval: a lost update would break the size or counter sums."""
    c = BoundedCache("t.threads", 50, weight=lambda v: 1)
    errors = []

    def fill(t):
        try:
            for i in range(2000):
                k = (t * 7 + i) % 120
                if c.get(k) is None:
                    c.put(k, (t, i))
                assert len(c) <= 50
        except Exception as e:  # pragma: no cover - reported below
            errors.append(e)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=fill, args=(t,))
                   for t in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads) and errors == []
    assert len(c) == c.size == 50
    assert c.hits + c.misses == 16 * 2000
    assert c.misses - c.evictions >= 50  # racing misses re-put a key


@pytest.fixture()
def pos_table(catalog, spark):
    """Two data files; position deletes reach the second one only."""
    schema = T.StructType([T.StructField("id", T.LongType()),
                           T.StructField("v", T.DoubleType())])
    t = catalog.create_table("caches.pos", schema, properties={
        "write.delete.mode": "merge-on-read"})
    for ids in (range(10), range(100, 110)):
        t.append(spark.createDataFrame([(i, float(i)) for i in ids],
                                       schema).coalesce(1))
    t = t.refresh()
    t.delete_where((col("id") >= 104) & (col("id") <= 106),
                   mode="merge-on-read")
    return t.refresh()


def test_scan_cache_evicts_oldest_entry(pos_table, monkeypatch):
    """A capped scan cache evicts its oldest entry alone: cap + 1
    inserts leave cap entries, the first one gone."""
    t = pos_table
    for lo in (0, 2):
        t.delete_where(col("id") == lo, mode="merge-on-read")
        t = t.refresh()
    dels = t.scan().plan_files().pos_deletes
    assert len(dels) == 3
    monkeypatch.setattr(S, "_POS_RUNS_CACHE", BoundedCache("t.runs", 2))
    for d in dels:
        S._entry_runs(d)
    keys = [(d.file.file_path, d.file.content_offset or 0) for d in dels]
    assert list(S._POS_RUNS_CACHE) == keys[1:]


def test_second_auto_plan_of_300_manifests_reads_none(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "wh"))
    schema = T.StructType([T.StructField("p", T.IntegerType()),
                           T.StructField("id", T.LongType())])
    t = cat.create_table("db.many", schema, partition_by=["p"],
                         properties={"commit.manifest-merge.enabled": "false"})
    for p in range(300):
        FastAppend(t, [DataFile(
            file_path=f"{tmp_path}/synthetic/p={p}/f{i}.parquet",
            partition={"p": p}, record_count=10, file_size_in_bytes=100,
            stats={"id": (p * 100 + i * 10, p * 100 + i * 10 + 9, 0, None,
                          10)}) for i in range(5)]).commit()
    t = t.refresh()
    M._ARROW_CACHE.clear()
    M._MANIFEST_CACHE.clear()
    first = t.scan().plan_files()
    assert first.report.uncached_manifest_bytes > 0
    misses = (M._ARROW_CACHE.misses, M._MANIFEST_CACHE.misses)
    second = t.scan().plan_files()
    assert second.report.uncached_manifest_bytes == 0
    assert (M._ARROW_CACHE.misses, M._MANIFEST_CACHE.misses) == misses
    assert len(second.files) == 1500
