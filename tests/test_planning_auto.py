"""AUTO planning decides by the bytes of the manifests it would read, and
manifest-fed relations build their leaf files in one JVM call.

- AUTO plans locally while the surviving manifests that are not in the
  manifest cache add up to at most `scan.DISTRIBUTED_PLANNING_BYTES`
  recorded bytes, and as a Spark job above it; the scan report records
  the bytes that decided. Local, distributed and AUTO plans agree.
- `relations.files_df` builds the `FileStatus[]` with one call to the
  helper jar's `FileStatuses.of` when jvm_probe is available, and with
  the per-file py4j loop otherwise; both give the same relation.
"""

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from iceberg_spark import jvm_probe
from iceberg_spark import manifests as M
from iceberg_spark import relations as R
from iceberg_spark import scan as S
from iceberg_spark.expressions import col
from iceberg_spark.manifests import DataFile, read_manifest_list
from iceberg_spark.table import Catalog
from iceberg_spark.writes import FastAppend

MOR = {"write.delete.mode": "merge-on-read",
       "write.update.mode": "merge-on-read",
       "write.merge.mode": "merge-on-read"}


def _clear_manifest_caches():
    M._MANIFEST_CACHE.clear()
    M._ARROW_CACHE.clear()


def _many_manifests(spark, tmp_path, n=70):
    """Metadata-only table: one small manifest per partition, `n` of
    them (more than the old 64-manifest switch), no data files on disk."""
    from pyspark.sql import types as T

    cat = Catalog(spark, str(tmp_path / "wh"))
    schema = T.StructType([T.StructField("p", T.IntegerType()),
                           T.StructField("id", T.LongType())])
    t = cat.create_table("db.many", schema, partition_by=["p"],
                         properties={"commit.manifest-merge.enabled": "false"})
    for p in range(n):
        FastAppend(t, [DataFile(
            file_path=f"{tmp_path}/synthetic/p={p}/f{i}.parquet",
            partition={"p": p}, record_count=10, file_size_in_bytes=100,
            stats={"id": (p * 100 + i * 10, p * 100 + i * 10 + 9, 0, None,
                          10)}) for i in range(3)]).commit()
    return t.refresh()


def _report(t) -> dict:
    rep = (t.metadata_table("scan_reports")
           .orderBy(F.col("received_at_ms").desc()).limit(1)
           .select("report_json").collect()[0][0])
    return json.loads(rep)


def test_auto_plans_small_manifests_locally(spark, tmp_path, monkeypatch):
    t = _many_manifests(spark, tmp_path)
    ms = read_manifest_list(t.current_snapshot().manifest_list)
    assert len(ms) == 70
    total = sum(m.length for m in ms)
    assert total <= S.DISTRIBUTED_PLANNING_BYTES

    _clear_manifest_caches()
    plan = t.scan().plan_files()
    assert plan.report.planning_mode == "local"
    assert plan.report.uncached_manifest_bytes == total
    assert len(plan.files) == 210
    md = _report(t)["metadata"]
    assert md["planning-mode"] == "local"
    assert md["engine-planning-uncached-bytes"] == str(total)

    # the local plan filled the cache: with no byte allowance at all,
    # AUTO still plans locally, since nothing is left to read
    monkeypatch.setattr(S, "DISTRIBUTED_PLANNING_BYTES", 0)
    plan = t.scan().plan_files()
    assert plan.report.planning_mode == "local"
    assert plan.report.uncached_manifest_bytes == 0

    # a filter counts only the manifests that survive pruning
    _clear_manifest_caches()
    plan = t.scan(filter=col("p") == 7).plan_files()
    assert plan.report.uncached_manifest_bytes == \
        next(m.length for m in ms if m.partitions[0][2] == 7)
    assert plan.report.planning_mode == "distributed"
    assert len(plan.files) == 3


def test_auto_plans_distributed_above_the_bound(spark, tmp_path,
                                                monkeypatch):
    t = _many_manifests(spark, tmp_path)
    monkeypatch.setattr(S, "DISTRIBUTED_PLANNING_BYTES", 0)
    _clear_manifest_caches()
    sc = spark.sparkContext
    sc.setJobGroup("auto-planning", "caller description")
    try:
        plan = t.scan().plan_files()
        assert sc.getLocalProperty("spark.job.description") == \
            "caller description"
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        store = sc._jsc.sc().statusStore()
        descs = set()
        for jid in sc.statusTracker().getJobIdsForGroup("auto-planning"):
            d = store.job(jid).description()
            if d.isDefined():
                descs.add(d.get())
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert plan.report.planning_mode == "distributed"
    assert plan.report.uncached_manifest_bytes > 0
    assert len(plan.files) == 210
    assert descs == {"iceberg scan planning: 70 manifests"}
    # a distributed plan reads no manifest on the driver, so the next
    # AUTO plan decides on the same bytes
    assert t.scan().plan_files().report.planning_mode == "distributed"


def _plan_key(plan):
    return (sorted(e.file.file_path for e in plan.files),
            sorted(e.file.file_path for e in plan.pos_deletes),
            sorted(e.file.file_path for e in plan.eq_deletes),
            plan.report.total_manifests, plan.report.skipped_manifests,
            plan.report.result_data_files,
            plan.report.result_delete_files)


def test_modes_agree_on_merge_on_read_table(catalog, spark):
    df = spark.range(0, 200).select(
        "id", (F.col("id") % 4).cast("int").alias("grp"),
        (F.col("id") * 2.0).alias("v"))
    t = catalog.create_table("db.modes", df.schema, partition_by=["grp"],
                             properties=MOR)
    t.append(df)
    t.refresh().append(df.filter("id < 50").withColumn("id", F.col("id")
                                                       + 1000))
    t.refresh().delete_where(col("id") < 30, mode="merge-on-read")
    t.refresh().upsert(spark.createDataFrame(
        [Row(id=101, grp=1, v=-1.0)], df.schema), keys=["id"])
    t = t.refresh()
    # the upsert's equality delete is unpartitioned: a partition filter
    # must not prune it (distributed planning used to, and the replaced
    # row came back next to its replacement)
    for mode in ("local", "distributed"):
        rows = (t.scan(filter=col("grp") == 1, planning_mode=mode).df()
                .filter("id = 101").collect())
        assert [r.v for r in rows] == [-1.0], mode
    for filt in (None, col("grp") == 1, col("id") >= 1000):
        keys = {}
        for mode in ("local", "distributed", "auto"):
            _clear_manifest_caches()
            plan = t.scan(filter=filt, planning_mode=mode).plan_files()
            keys[mode] = _plan_key(plan)
            if filt is None:
                keys[mode] += (plan.report.total_data_files,)
        assert keys["local"] == keys["distributed"] == keys["auto"], filt
        if filt is None:
            assert keys["local"][1] and keys["local"][2]
    assert t.scan(planning_mode="distributed").df().count() == \
        t.scan(planning_mode="local").df().count() == 220


def _write(path, lo, n):
    path.parent.mkdir(parents=True, exist_ok=True)
    pq.write_table(pa.table({"id": pa.array(range(lo, lo + n),
                                            pa.int64())}), str(path))
    return str(path)


def _size_in_bytes(df) -> int:
    return int(df._jdf.queryExecution().optimizedPlan().stats()
               .sizeInBytes())


def test_one_call_relation_matches_loop(spark, tmp_path, monkeypatch):
    if not jvm_probe.available(spark):
        pytest.skip("the helper jar is unavailable (no javac)")
    files = [_write(tmp_path / "wh[x]" / "a" / "f0.parquet", 0, 10),
             _write(tmp_path / "wh[x]" / "b c" / "f1.parquet", 10, 5),
             _write(tmp_path / "d%41" / "f2.parquet", 15, 7),
             _write(tmp_path / "e" / "f 3%.parquet", 22, 3)]
    sizes = {p: os.path.getsize(p) for p in files}
    uri = "file://" + files[0]
    sizes[uri] = sizes[files[0]]
    paths = [uri] + files[1:]
    h = R._handles(spark)

    # with the jar: one call, no per-file FileStatus from Python
    monkeypatch.setitem(h, "FileStatus", None)
    one = R.files_df(spark, "parquet", "id long", paths, sizes)
    monkeypatch.undo()
    # without it: the loop, which never touches the jar method
    monkeypatch.setenv("ICEBERG_SPARK_JVM_PROBE", "0")
    monkeypatch.setitem(h, "of", None)
    loop = R.files_df(spark, "parquet", "id long", paths, sizes)

    assert sorted(one.inputFiles()) == sorted(loop.inputFiles())
    assert len(one.inputFiles()) == 4
    assert _size_in_bytes(one) == _size_in_bytes(loop) == \
        sum(sizes[p] for p in paths)
    assert sorted(r.id for r in one.collect()) == \
        sorted(r.id for r in loop.collect()) == list(range(25))


def test_newline_path_takes_the_loop(spark, monkeypatch):
    h = R._handles(spark)

    def refuse(*_a):
        raise AssertionError("a path holding the separator reached the jar")

    monkeypatch.setitem(h, "of", refuse)
    arr = R._statuses(h, spark, {"file:/tmp/a\nb.parquet": 5,
                                 "file:/tmp/c.parquet": 7})
    assert [arr[i].getLen() for i in range(len(arr))] == [5, 7]


def test_reads_without_the_jar_use_the_loop(catalog, spark, monkeypatch):
    df = spark.range(0, 120).select(
        "id", (F.col("id") % 6).cast("int").alias("grp"))
    t = catalog.create_table("db.noprobe", df.schema, partition_by=["grp"],
                             properties=MOR)
    t.append(df)
    t.refresh().delete_where(col("id") < 12, mode="merge-on-read")
    t = t.refresh()
    want = sorted(tuple(r) for r in t.to_df().collect())
    assert len(want) == 108
    monkeypatch.setenv("ICEBERG_SPARK_JVM_PROBE", "0")
    monkeypatch.setitem(R._handles(spark), "of", None)
    assert sorted(tuple(r) for r in t.to_df().collect()) == want
    assert sorted(tuple(r) for r in t.scan(filter=col("grp") == 2)
                  .df().collect()) == [r for r in want if r[1] == 2]
