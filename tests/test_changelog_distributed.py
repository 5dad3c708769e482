"""Distributed changelog planning: one Spark job over the range's manifest
Parquet replaces per-snapshot driver manifest loops
(core/.../BaseIncrementalChangelogScan.java:36 analog)."""

from pyspark.sql import functions as F
from pyspark.sql import types as T

from iceberg_spark import col
from iceberg_spark import manifests


def _driver_manifest_reads():
    """Calls to manifests.read_manifest: lookups of its entry cache."""
    c = manifests._MANIFEST_CACHE
    return c.hits + c.misses


def _row_key(r):
    d = r.asDict()
    return tuple(sorted(d.items()))


def test_changelog_50_snapshots_no_driver_manifest_reads(catalog, spark):
    schema = T.StructType([
        T.StructField("id", T.LongType()), T.StructField("v", T.StringType())
    ])
    t = catalog.create_table("db.cdc50", schema,
                             properties={"write.delete.mode": "merge-on-read"})
    for i in range(50):
        t.append(spark.createDataFrame([(i, f"v{i}")], schema).coalesce(1))
    # a removal + a MoR delete + a re-append inside the range
    t.delete_where(col("id") == 3)                      # CoW-ish overwrite
    t.delete_where(col("id") == 7, mode="merge-on-read")  # pos-delete file
    t.append(spark.createDataFrame([(100, "x")], schema).coalesce(1))

    local = sorted(_row_key(r) for r in
                   t.changes(mode="local").collect())

    before = _driver_manifest_reads()
    dist_df = t.changes(mode="distributed")
    dist = sorted(_row_key(r) for r in dist_df.collect())
    delta = _driver_manifest_reads() - before
    assert delta == 0, (
        f"distributed changelog made {delta} driver manifest reads")

    assert local == dist
    # sanity on content: 51 inserts, 2 deletes
    by_type = {}
    for r in dist_df.groupBy("_change_type").count().collect():
        by_type[r["_change_type"]] = r["count"]
    assert by_type.get("INSERT") == 51
    assert by_type.get("DELETE") == 2


def test_changelog_distributed_replace_swallowed(catalog, spark):
    """Compaction (replace) commits emit no changelog rows in either mode."""
    schema = T.StructType([
        T.StructField("id", T.LongType()), T.StructField("v", T.StringType())
    ])
    t = catalog.create_table("db.cdc_replace", schema)
    for i in range(4):
        t.append(spark.createDataFrame([(i, f"v{i}")], schema).coalesce(1))
    t.rewrite_data_files(strategy="binpack")
    t = t.refresh()
    t.append(spark.createDataFrame([(99, "z")], schema).coalesce(1))

    for mode in ("local", "distributed"):
        ch = t.changes(mode=mode)
        types = [r["_change_type"] for r in ch.collect()]
        assert types.count("INSERT") == 5, (mode, types)
        assert types.count("DELETE") == 0, (mode, types)


def test_changelog_distributed_over_encrypted_manifests(spark, tmp_path):
    """Distributed changelog planning over an ENCRYPTED metadata tree:
    the data/delete manifest reads route through the decrypting RDD legs
    (_manifest_rows_dfs) since the JVM parquet source cannot open AES
    GCM Streams — local and distributed planners must agree row-for-row
    with zero driver manifest reads in distributed mode."""
    from iceberg_spark.table import Catalog

    schema = T.StructType([
        T.StructField("id", T.LongType()), T.StructField("v", T.StringType())
    ])
    cat = Catalog(spark, str(tmp_path / "wh"), metadata_key=bytes(range(16)))
    t = cat.create_table("db.cdcenc", schema,
                         properties={"write.delete.mode": "merge-on-read"})
    for i in range(12):
        t.append(spark.createDataFrame([(i, f"v{i}")], schema).coalesce(1))
    t.delete_where(col("id") == 3)
    t.delete_where(col("id") == 7, mode="merge-on-read")
    t.append(spark.createDataFrame([(100, "x")], schema).coalesce(1))
    t = cat.load_table("db.cdcenc")

    local = sorted(_row_key(r) for r in t.changes(mode="local").collect())
    before = _driver_manifest_reads()
    dist = sorted(_row_key(r) for r in
                  t.changes(mode="distributed").collect())
    assert _driver_manifest_reads() == before
    assert local == dist
    assert len(dist) == 13 + 2  # 13 inserts, 2 deletes


def test_changelog_eq_deletes_after_rename(catalog, spark):
    """An upsert's equality-delete keys are read by field id under the
    delete file's write schema: after `id` is renamed the changelog
    still pairs them with the rows they deleted, in both modes."""
    schema = T.StructType([
        T.StructField("id", T.LongType()), T.StructField("v", T.StringType())
    ])
    t = catalog.create_table("db.cdc_rename", schema)
    t.append(spark.createDataFrame([(i, f"v{i}") for i in range(5)], schema))
    t.refresh().upsert(
        spark.createDataFrame([(1, "new1"), (3, "new3")], schema),
        keys=["id"])
    t = t.refresh()
    t.update_schema().rename_column("id", "key").commit()
    t = t.refresh()
    for mode in ("local", "distributed"):
        rows = t.changes(mode=mode).collect()
        deleted = sorted((r["key"], r["v"]) for r in rows
                         if r["_change_type"] == "DELETE")
        assert deleted == [(1, "v1"), (3, "v3")], mode
        assert sum(r["_change_type"] == "INSERT" for r in rows) == 7, mode
