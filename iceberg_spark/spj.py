"""Storage-partitioned join (SPJ): shuffle-free fact-fact joins over
bucket-clustered layouts.

Reference: spark/v4.0/spark/src/main/java/org/apache/iceberg/spark/source/
SparkPartitioningAwareScan.java:107-120 — the DSv2 connector reports the
table's bucket partitioning so Catalyst skips the Exchange when both join
sides share it. PySpark cannot implement DSv2, so the engine gets the same
plan through Spark's native bucketed-table metadata: bucketed engine tables
write their data files via bucketBy(N, key) into the session catalog (the
bucket ids live in file names + catalog metadata), and the SAME files are
ingested into the engine's manifests for scans, time travel, and
maintenance. bucketed_join() joins through the bucket-aware catalog
relation when the layout guarantees still hold, and falls back to the
ordinary engine-scan shuffle join when they don't (SPJ's enablement rule).

At 100 TB this is the single biggest shuffle eliminator for repeated
fact-fact joins: both sides are written bucket[N] once, every subsequent
join on the bucket key runs exchange-free.
"""

from __future__ import annotations

import os
from typing import Optional

from pyspark.sql import DataFrame, SparkSession

from .caches import BoundedCache

BUCKET_N_PROP = "write.spj.bucket-n"
BUCKET_KEY_PROP = "write.spj.bucket-key"
SPARK_TABLE_PROP = "write.spj.spark-table"


def _mirror_name(identifier: str) -> str:
    return "spj__" + identifier.replace(".", "__")


def create_bucketed_table(catalog, identifier: str, df: DataFrame,
                          n_buckets: int, key: str):
    """Create an engine table whose physical layout is Spark-bucketed.

    Files are written once via bucketBy(n, key).sortBy(key) (bucket id is
    encoded in file names + session-catalog metadata) and ingested into the
    engine's manifest tree with footer stats, so every engine feature —
    pruning, time travel, MoR deletes, maintenance — sees ordinary parquet
    data files. The bucket metadata is recorded as table properties."""
    from .manifests import collect_data_files
    from .writes import FastAppend

    spark = catalog.spark
    t = catalog.create_table(identifier, df.schema, properties={
        BUCKET_N_PROP: str(n_buckets),
        BUCKET_KEY_PROP: key,
        SPARK_TABLE_PROP: _mirror_name(identifier),
    })
    data_dir = os.path.join(t.location, "data", "bucketed")
    name = _mirror_name(identifier)
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    from pyspark.sql import functions as F

    # ONE file per bucket: repartition by the key with n_buckets
    # partitions (HashPartitioning and bucketBy share the murmur3 hash,
    # so each task holds exactly one bucket's rows). With a single
    # sorted file per bucket Spark's bucketed read reports both
    # outputPartitioning AND outputOrdering — the join runs with no
    # Exchange and NO per-query Sort; multiple files per bucket keep
    # the partitioning but force a 2x-cost sort of both sides on every
    # join (measured: q5_spj at sf10 3.4s -> sortless is the gap to
    # the shuffle join's sort anyway).
    (df.repartition(n_buckets, F.col(key))
       .write.format("parquet").option("path", data_dir)
       .bucketBy(n_buckets, key).sortBy(key).mode("overwrite")
       .saveAsTable(name))
    from .io import resolve_io, strip_scheme

    paths = [strip_scheme(p)
             for p in resolve_io(data_dir, spark).walk_files(data_dir)
             if p.endswith(".parquet")]
    files = collect_data_files(paths, t.schema, t.spec, spark=t.spark)
    from dataclasses import replace as _replace

    files = [_replace(f, write_schema_id=t.schema.schema_id)
             for f in files if f.record_count > 0]
    FastAppend(t, files).commit()
    return t


def _bucket_meta(table):
    p = table.properties
    if BUCKET_N_PROP in p and BUCKET_KEY_PROP in p and SPARK_TABLE_PROP in p:
        return int(p[BUCKET_N_PROP]), p[BUCKET_KEY_PROP], p[SPARK_TABLE_PROP]
    return None


# SPJ-enablement verdicts by (app id, table uuid, snapshot, mirror): the
# check re-plans the table and round-trips DESCRIBE TABLE (~110 ms per
# join at sf0.1). Every engine mutation commits a new snapshot id, so a
# verdict cannot outlive the files it judged; out-of-band changes under
# the mirror location are outside the engine's consistency contract.
_LAYOUT_CACHE = BoundedCache("spj.layout", 64)


def _layout_holds(table, spark: SparkSession, mirror: str) -> bool:
    """SPJ enablement: the bucket-aware relation reads the catalog table's
    current files — valid only while the engine plan's live file set is
    exactly the bucketed write (no compaction/deletes since)."""
    key = (spark.sparkContext.applicationId, table.metadata.table_uuid,
           table.metadata.current_snapshot_id, mirror)
    verdict = _LAYOUT_CACHE.get(key)
    if verdict is None:
        verdict = _LAYOUT_CACHE.put(
            key, _layout_holds_uncached(table, spark, mirror))
    return verdict


def _layout_holds_uncached(table, spark: SparkSession, mirror: str) -> bool:
    try:
        plan = table.scan().plan_files()
    except Exception:
        return False
    if plan.pos_deletes or plan.eq_deletes:
        return False
    engine_files = {os.path.normpath(e.file.file_path) for e in plan.files}
    try:
        loc_df = spark.sql(f"DESCRIBE TABLE EXTENDED {mirror}")
        loc = {r["col_name"]: r["data_type"] for r in loc_df.collect()}.get(
            "Location")
    except Exception:
        return False
    if not loc:
        return False
    loc = loc.replace("file:", "")
    disk_files = {os.path.normpath(os.path.join(r, f))
                  for r, _d, fs in os.walk(loc)
                  for f in fs if f.endswith(".parquet")}
    return engine_files == disk_files and bool(engine_files)


def bucketed_join(left, right, on: Optional[str] = None,
                  how: str = "inner") -> DataFrame:
    """Join two bucketed engine tables on their bucket key without a
    shuffle. When the layouts are compatible (same N, same key, file sets
    unchanged since the bucketed write), the join runs through the
    bucket-aware catalog relations — no Exchange in the physical plan.
    Otherwise it degrades to the ordinary engine-scan join (SURVEY's
    accept-shuffle fallback)."""
    spark = left.spark
    ma, mb = _bucket_meta(left), _bucket_meta(right)
    if ma and mb:
        na, ka, mirror_a = ma
        nb, kb, mirror_b = mb
        key = on or ka
        if (na == nb and ka == kb == key
                and _layout_holds(left, spark, mirror_a)
                and _layout_holds(right, spark, mirror_b)):
            return spark.table(mirror_a).join(spark.table(mirror_b),
                                              key, how)
    key = on or (ma[1] if ma else (mb[1] if mb else None))
    if key is None:
        raise ValueError("no join key: neither table is bucketed")
    return left.to_df().join(right.to_df(), key, how)
