"""Tiered position-delete application: the read path must pick its
strategy from the plan's summed delete-file bytes (DeleteFilter.java:188
analog) — literal codegen ranges for tiny sets, broadcast anti-join in the
middle, shuffled-hash anti-join when the set is too big to ship to every
executor. All three must return identical rows."""

import pytest
from pyspark.sql import functions as F

from iceberg_spark import scan as S
from iceberg_spark.expressions import col

DRIVER = "POS_DELETE_DRIVER_BYTES"
BCAST = "POS_DELETE_BROADCAST_BYTES"


@pytest.fixture()
def mor_table(catalog, spark):
    df = spark.range(0, 1000).select(
        F.col("id"), (F.col("id") % 7).alias("grp"))
    t = catalog.create_table(
        "mor_strat", df.schema,
        properties={"write.delete.mode": "merge-on-read"})
    t.append(df)
    # scattered deletes (every 10th id) -> many single-position runs
    t.delete_where(col("id").isin(list(range(0, 1000, 10))),
                   mode="merge-on-read")
    return t


def _plan_str(df):
    return df._jdf.queryExecution().executedPlan().toString()


def test_literal_range_path_no_join(mor_table, spark):
    df = mor_table.to_df()
    assert df.count() == 900
    plan = _plan_str(df)
    assert "Join" not in plan, f"tiny delete set must not join:\n{plan}"


def test_broadcast_path(mor_table, monkeypatch):
    monkeypatch.setattr(S, DRIVER, 0)  # force past the driver-read tier
    df = mor_table.to_df()
    plan = _plan_str(df)
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan
    assert df.count() == 900


def test_shuffled_path_above_threshold(mor_table, monkeypatch):
    monkeypatch.setattr(S, DRIVER, 0)
    monkeypatch.setattr(S, BCAST, 0)  # delete set "too big" to broadcast
    df = mor_table.to_df()
    plan = _plan_str(df)
    assert "BroadcastHashJoin" not in plan, plan
    assert ("ShuffledHashJoin" in plan) or ("SortMergeJoin" in plan), plan
    assert df.count() == 900


def test_all_tiers_agree(mor_table, monkeypatch):
    expected = sorted(r.id for r in mor_table.to_df().collect())
    monkeypatch.setattr(S, DRIVER, 0)
    bcast = sorted(r.id for r in mor_table.to_df().collect())
    monkeypatch.setattr(S, BCAST, 0)
    shuffled = sorted(r.id for r in mor_table.to_df().collect())
    assert expected == bcast == shuffled
    assert len(expected) == 900


def test_range_compression():
    from iceberg_spark.scan import _pos_delete_ranges  # noqa: F401 — api

    import numpy as np

    # runs split where positions are non-contiguous
    pos = np.array([0, 1, 2, 5, 6, 9])
    breaks = np.where(np.diff(pos) != 1)[0]
    starts = np.concatenate(([0], breaks + 1))
    ends = np.concatenate((breaks, [len(pos) - 1]))
    runs = [(int(pos[s]), int(pos[e])) for s, e in zip(starts, ends)]
    assert runs == [(0, 2), (5, 6), (9, 9)]


def test_partition_scoped_delete_pruning(catalog, spark):
    """Pos-delete files carry the target partition tuple; a scan pruned to
    a different partition must not attach them (DeleteFileIndex
    partition-bucketed lookup)."""
    df = spark.range(0, 400).select(
        F.col("id"), (F.col("id") % 4).alias("bucket"))
    t = catalog.create_table("mor_part_scope", df.schema,
                             partition_by=["bucket"])
    t.append(df)
    t.delete_where((col("bucket") == 0) & (col("id") < 100),
                   mode="merge-on-read")
    # delete files are partition-scoped on disk
    plan_all = t.scan().plan_files()
    assert plan_all.pos_deletes, "expected pos-delete files"
    assert all(d.file.partition.get("bucket") == 0
               for d in plan_all.pos_deletes)
    # a scan of another partition attaches no deletes at all
    plan_other = t.scan(filter=col("bucket") == 1).plan_files()
    assert plan_other.pos_deletes == []
    # and the deleted partition still reads correctly
    got = sorted(r.id for r in t.scan(filter=col("bucket") == 0).df().collect())
    assert got == [i for i in range(100, 400) if i % 4 == 0]


def test_delete_pruning_safe_across_spec_evolution(catalog, spark):
    """A delete file's partition tuple is derived under the writer's
    CURRENT spec; victims in older-spec data files must never be pruned
    away (DeleteFileIndex must not bucket across specs)."""
    df = spark.range(0, 200).select(
        F.col("id"), (F.col("id") % 4).alias("bucket"))
    t = catalog.create_table("mor_spec_evo", df.schema)  # unpartitioned
    t.append(df)                                         # spec 0 files
    t.update_spec().add_field("bucket").commit()
    t = catalog.load_table("mor_spec_evo")
    t.append(spark.range(200, 240).select(
        F.col("id"), (F.col("id") % 4).alias("bucket")))  # spec 1 files
    # delete rows living in the OLD-spec files; delete files carry spec-1
    # partition tuples
    t.delete_where(col("id") < 50, mode="merge-on-read")
    got = sorted(r.id for r in t.to_df().collect())
    assert got == list(range(50, 240))
    # filtered scan over one bucket also correct
    got0 = sorted(r.id for r in
                  t.scan(filter=col("bucket") == 0).df().collect())
    assert got0 == [i for i in range(50, 240) if i % 4 == 0]


def test_unrelated_delete_pruning_survives_manifest_roundtrip(spark,
                                                              tmp_path):
    """Parquet pos-delete file_path bounds persist in manifests via the
    reserved stats columns (min/max_f2147483546, format/spec.md:1388) —
    a scan over files a delete cannot touch attaches ZERO delete files,
    the DeleteFileIndex unrelated-delete shape
    (IcebergSourceParquetWithUnrelatedDeleteBenchmark). Before round 8
    the bounds died at serialization and every pos delete rode every
    scan."""
    from iceberg_spark import manifests as M
    from iceberg_spark.expressions import col
    from iceberg_spark.table import Catalog

    cat = Catalog(spark, str(tmp_path / "wh"))
    df = spark.range(0, 10_000).selectExpr("id", "id % 10 as g")
    t = cat.create_table("db.u", df.schema, properties={
        "write.delete.mode": "merge-on-read"})
    for lo in range(0, 10_000, 2_000):
        t.append(df.filter((df.id >= lo) & (df.id < lo + 2_000)))
    t.delete_where((col("id") >= 100) & (col("id") < 150),
                   mode="merge-on-read")
    t = cat.load_table("db.u")
    M._MANIFEST_CACHE.clear()
    M._ARROW_CACHE.clear()
    full = t.scan().plan_files()
    assert full.pos_deletes
    assert all(d.file.stats.get("file_path") and
               d.file.stats["file_path"][0] is not None
               for d in full.pos_deletes)
    for mode in ("local", "distributed"):
        M._MANIFEST_CACHE.clear()
        M._ARROW_CACHE.clear()
        far = t.scan(filter=col("id") >= 8_000,
                     planning_mode=mode).plan_files()
        assert far.files and not far.pos_deletes, mode
        near = t.scan(filter=col("id") < 200,
                      planning_mode=mode).plan_files()
        assert near.pos_deletes, mode
    assert t.to_df().count() == 9_950


def test_pos_split_scan_clear_files_skip_join(catalog, spark, monkeypatch):
    """When the inline-ranges path is unavailable (driver cap forced to
    0), data files no pos delete references read on a plain union
    branch; only referenced files pay the anti-join. Rows stay exact."""
    from pyspark.sql import Row

    df1 = spark.createDataFrame([Row(id=i, v=float(i))
                                 for i in range(10)])
    t = catalog.create_table("mor.possplit", df1.schema, properties={
        "write.delete.mode": "merge-on-read"})
    t.append(df1)
    t.append(spark.createDataFrame([Row(id=i, v=float(i))
                                    for i in range(100, 110)]))
    t = t.refresh()
    from iceberg_spark.expressions import col

    t.delete_where((col("id") >= 104) & (col("id") <= 106),
                   mode="merge-on-read")
    t = t.refresh()
    with monkeypatch.context() as m:
        m.setattr(S, DRIVER, 0)
        df = t.to_df()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Union" in plan and "Join" in plan
        got = sorted(r.id for r in df.collect())
        assert got == list(range(10)) + [100, 101, 102, 103, 107, 108,
                                         109]
    assert t.to_df().count() == 17  # inline path agrees


