"""Manifest-fed file relations (relations.py): reads built from the paths
and sizes the manifests record, with no listing and no glob expansion.

- A table under a location holding glob characters reads back through
  local and distributed planning, after a merge-on-read DELETE, through
  the files, entries, all_files, all_entries and partitions metadata
  tables, and as ORC (`spark.read.load` expanded `[x]` as a glob:
  PATH_NOT_FOUND).
- The builder trusts recorded sizes, so every writer must record the
  size on disk: data files from append, add_files, compaction and
  merge-on-read position/equality-delete writes, and the manifests
  those commits write.
- Only files the builder can describe skip `spark.read`; scan reports
  name the path a scan took (`engine-relation-build`).
- A manifest-fed read launches no Spark job until an action runs.
"""

import json
import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from iceberg_spark import relations as R
from iceberg_spark.expressions import col
from iceberg_spark.manifests import DELETED, read_manifest, \
    read_manifest_list
from iceberg_spark.metadata import resolve_path
from iceberg_spark.table import Catalog

MOR = {"write.delete.mode": "merge-on-read",
       "write.update.mode": "merge-on-read",
       "write.merge.mode": "merge-on-read"}


def _rows(spark, lo, hi):
    return spark.range(lo, hi).select(
        "id", (F.col("id") % 5).cast("int").alias("grp"),
        (F.col("id") * 2.0).alias("v"))


def _latest_report(t) -> dict:
    rep = (t.metadata_table("scan_reports")
           .orderBy(F.col("received_at_ms").desc()).limit(1)
           .select("report_json").collect()[0][0])
    return json.loads(rep)


def test_glob_characters_in_table_location(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "wh[x]"))
    t = cat.create_table("db.globby", _rows(spark, 0, 1).schema,
                         partition_by=["grp"], properties=MOR)
    t.append(_rows(spark, 0, 100))
    t = t.refresh()
    assert "[x]" in t.location
    assert t.to_df().count() == 100
    # distributed planning reads the manifests through the same builder
    assert t.scan(planning_mode="distributed").df().count() == 100
    assert t.scan(filter=col("id") < 10,
                  planning_mode="distributed").df().count() == 10
    # merge-on-read DELETE writes position deletes under the same
    # location; the read applies them
    t.delete_where(col("id") < 30, mode="merge-on-read")
    t = t.refresh()
    assert t.scan().plan_files().pos_deletes
    assert t.to_df().count() == 70
    assert t.to_df().agg(F.min("id")).collect()[0][0] == 30
    # equality deletes (upsert) apply through the delete-file reader
    t.upsert(spark.createDataFrame([Row(id=50, grp=0, v=-1.0)],
                                   t.to_df().schema), keys=["id"])
    t = t.refresh()
    assert t.scan().plan_files().eq_deletes
    df = t.to_df()
    assert df.count() == 70
    assert df.filter(F.col("id") == 50).select("v").collect()[0][0] == -1.0
    # metadata tables read every manifest column under the same location
    plan = t.scan().plan_files()
    live = len(plan.files) + len(plan.pos_deletes) + len(plan.eq_deletes)
    assert t.metadata_table("files").count() == live
    entries = t.metadata_table("entries").count()
    assert entries >= live
    assert t.metadata_table("all_files").count() >= live
    assert t.metadata_table("all_entries").count() >= entries
    parts = t.metadata_table("partitions")
    assert parts.count() == 5
    # the upsert's equality delete is unpartitioned, so no partition
    # row counts it
    assert parts.agg(F.sum("delete_file_count")).collect()[0][0] \
        == len(plan.pos_deletes)
    # ORC: the write-side metrics pass reads the new files back too
    o = cat.create_table("db.globby_orc", _rows(spark, 0, 1).schema,
                         properties={"write.format.default": "orc"})
    o.append(_rows(spark, 0, 40))
    assert o.refresh().to_df().count() == 40


def test_metadata_tables_across_type_promotion(spark, tmp_path):
    """Manifests written before an int -> long promotion hold int32
    stats columns; the merged manifest schema widens them (Spark's
    mergeSchema refused to merge int with long)."""
    from pyspark.sql import types as T

    cat = Catalog(spark, str(tmp_path / "wh"))
    small = T.StructType([T.StructField("id", T.IntegerType())])
    t = cat.create_table("db.promo", small)
    t.append(spark.createDataFrame([(1,), (2,)], small))
    t.refresh().update_schema().update_column("id", "long").commit()
    t = t.refresh()
    t.append(spark.createDataFrame(
        [(3 << 40,)], T.StructType([T.StructField("id", T.LongType())])))
    t = t.refresh()
    n = len(t.scan().plan_files().files)
    assert t.metadata_table("files").count() == n
    assert t.metadata_table("all_entries").count() == n
    assert t.metadata_table("partitions").collect()[0]["record_count"] == 3


def _manifests(t):
    loc = t.location
    for s in t.metadata.snapshots:
        for m in read_manifest_list(resolve_path(s.manifest_list, loc), loc):
            yield m


def test_recorded_sizes_match_disk(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "wh"))
    t = cat.create_table("db.sizes", _rows(spark, 0, 1).schema,
                         partition_by=["grp"], properties=MOR)
    t.append(_rows(spark, 0, 200))
    src = str(tmp_path / "plain")
    _rows(spark, 200, 260).coalesce(1).write.partitionBy("grp").parquet(src)
    t.refresh().add_files(src)
    t = t.refresh()
    t.delete_where(col("id") < 20, mode="merge-on-read")
    t = t.refresh()
    t.upsert(spark.createDataFrame([Row(id=100, grp=0, v=1.0)],
                                   t.to_df().schema), keys=["id"])
    t = t.refresh()
    t.append(_rows(spark, 300, 340))
    t = t.refresh()
    t.rewrite_data_files()
    t = t.refresh()

    content_seen = set()
    checked = 0
    for m in _manifests(t):
        assert m.length == os.path.getsize(m.path), m.path
        spec = t.metadata.spec_by_id(m.spec_id)
        for e in read_manifest(m.path, t.schema, spec):
            if e.status == DELETED:
                continue
            f = e.file
            assert f.file_size_in_bytes == os.path.getsize(f.file_path), \
                f.file_path
            content_seen.add(f.content)
            checked += 1
    # data (0), position-delete (1) and equality-delete (2) files all
    # went through the size check
    assert content_seen == {0, 1, 2}
    assert checked > 0
    assert t.to_df().count() == 260 - 20 + 40


def test_builder_exact_file_set_and_fallback(spark, tmp_path):
    d = tmp_path / "files"
    _rows(spark, 0, 30).repartition(3).write.parquet(str(d))
    paths = sorted(str(p) for p in d.glob("*.parquet"))
    sizes = {p: os.path.getsize(p) for p in paths}
    schema = _rows(spark, 0, 1).schema
    # siblings on disk stay out: only the named files are read
    df = R.files_df(spark, "parquet", schema, paths[:2], sizes)
    assert df.count() == spark.read.parquet(*paths[:2]).count()
    got = {r[0] for r in df.select("_metadata.file_path").distinct()
           .collect()}
    assert {p.rsplit("/", 1)[1] for p in got} == \
        {p.rsplit("/", 1)[1] for p in paths[:2]}
    # the read schema is nullable, as spark.read makes it
    assert all(fl.nullable for fl in df.schema.fields)
    # DDL schema strings work like StructTypes
    assert R.files_df(spark, "parquet", "id long", paths, sizes) \
        .columns == ["id"]
    # files spread over name=value directories: every one read, no
    # partition column inferred from the directory names
    hd = tmp_path / "hive"
    _rows(spark, 0, 30).write.partitionBy("grp").parquet(str(hd))
    spread = sorted(str(p) for p in hd.glob("grp=*/*.parquet"))
    assert len({p.rsplit("/", 2)[1] for p in spread}) == 5
    sdf = R.files_df(spark, "parquet", "id long, v double", spread,
                     {p: os.path.getsize(p) for p in spread})
    assert sdf.columns == ["id", "v"]
    assert sorted(r[0] for r in sdf.select("id").collect()) == \
        list(range(30))
    # no recorded size: spark.read, same rows
    assert R.files_df(spark, "parquet", schema, paths,
                      {**sizes, paths[0]: None}).count() == 30
    assert not R.manifest_fed("parquet", None)
    assert not R.manifest_fed("parquet", 0)
    assert not R.manifest_fed("avro", 10)
    assert R.manifest_fed("ORC", 10)


def test_manifest_fed_read_launches_no_listing_job(spark, tmp_path):
    d = tmp_path / "many"
    # above Spark's 32-path parallel listing threshold
    _rows(spark, 0, 400).repartition(40).write.parquet(str(d))
    paths = sorted(str(p) for p in d.glob("*.parquet"))
    assert len(paths) == 40
    sizes = {p: os.path.getsize(p) for p in paths}
    tracker = spark.sparkContext.statusTracker()
    spark.sparkContext.setJobGroup("relations-build", "relation build")
    try:
        df = R.files_df(spark, "parquet", _rows(spark, 0, 1).schema,
                        paths, sizes)
        assert tracker.getJobIdsForGroup("relations-build") == []
        assert df.count() == 400
    finally:
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        spark.sparkContext.setLocalProperty("spark.job.description", None)


def test_one_file_position_runs_read_as_one_relation(spark, tmp_path):
    """Inline position runs that touch one of two files are applied by
    the compiled probe on one relation, not by a clean/hit union."""
    from iceberg_spark import jvm_probe

    if not jvm_probe.available(spark):
        pytest.skip("no JDK for the probe helper jar")
    cat = Catalog(spark, str(tmp_path / "wh"))
    t = cat.create_table("db.pos1", _rows(spark, 0, 1).schema,
                         properties=MOR)
    t.append(_rows(spark, 0, 10).coalesce(1))
    t.append(_rows(spark, 100, 110).coalesce(1))
    t.refresh().delete_where((col("id") >= 104) & (col("id") <= 106))
    df = t.refresh().to_df()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan parquet") == 1 and "Union" not in plan
    assert sorted(r.id for r in df.collect()) == \
        list(range(10)) + [100, 101, 102, 103, 107, 108, 109]


def test_scan_report_names_relation_build(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "wh"))
    t = cat.create_table("db.rep", _rows(spark, 0, 1).schema)
    t.append(_rows(spark, 0, 10))
    t = t.refresh()
    assert t.to_df().count() == 10
    assert _latest_report(t)["metadata"]["engine-relation-build"] == \
        R.MANIFEST_FED


def test_scan_report_names_spark_read_when_encrypted(spark, tmp_path,
                                                    monkeypatch):
    """Encrypted files are manifest-fed when the JVM decrypts them and
    read by the pyarrow decoder (reported as spark.read) when it does
    not."""
    from iceberg_spark import jvm_crypto
    from iceberg_spark import parquet_crypto as PC

    PC.register_key("relations-key", bytes(range(16)))
    try:
        cat = Catalog(spark, str(tmp_path / "wh"))
        t = cat.create_table("db.enc", _rows(spark, 0, 1).schema,
                             properties={PC.KEY_ID_PROP: "relations-key"})
        t.append(_rows(spark, 0, 10))
        t = t.refresh()
        assert t.to_df().count() == 10
        assert _latest_report(t)["metadata"]["engine-relation-build"] == \
            (R.MANIFEST_FED if jvm_crypto.available(spark) else R.SPARK_READ)
        monkeypatch.setenv("ICEBERG_SPARK_JVM_CRYPTO", "0")
        assert t.to_df().count() == 10
        assert _latest_report(t)["metadata"]["engine-relation-build"] == \
            R.SPARK_READ
    finally:
        PC.unregister_key("relations-key")


def test_encrypted_table_under_glob_location(spark, tmp_path):
    """A KMS-encrypted table of 40 files (above Spark's 32-path listing
    threshold) under `wh[x]`: append, merge-on-read DELETE and upsert
    read back through the opener (the JVM crypto path read through
    `spark.read` and failed with PATH_NOT_FOUND)."""
    from iceberg_spark import jvm_crypto
    from iceberg_spark import parquet_crypto as PC

    PC.register_key("globby-key", bytes(range(16)))
    try:
        cat = Catalog(spark, str(tmp_path / "wh[x]"))
        t = cat.create_table("db.enc_globby", _rows(spark, 0, 1).schema,
                             properties={**MOR,
                                         PC.KEY_ID_PROP: "globby-key"})
        t.append(_rows(spark, 0, 400).repartition(40))
        t = t.refresh()
        files = t.scan().plan_files().files
        assert len(files) == 40
        assert all(e.file.key_metadata for e in files)
        assert t.to_df().count() == 400
        if jvm_crypto.available(spark):
            assert _latest_report(t)["metadata"][
                "engine-relation-build"] == R.MANIFEST_FED
        t.delete_where(col("id") < 30, mode="merge-on-read")
        t = t.refresh()
        assert all(d.file.key_metadata
                   for d in t.scan().plan_files().pos_deletes)
        assert t.to_df().count() == 370
        t.upsert(spark.createDataFrame([Row(id=50, grp=0, v=-1.0)],
                                       t.to_df().schema), keys=["id"])
        t = t.refresh()
        assert t.scan().plan_files().eq_deletes
        df = t.to_df()
        assert df.count() == 370
        assert df.agg(F.min("id")).collect()[0][0] == 30
        assert df.filter(F.col("id") == 50).select("v").collect()[0][0] \
            == -1.0
    finally:
        PC.unregister_key("globby-key")
