"""Distributed metadata reads: the manifest tree as Spark DataFrames.

Manifests and manifest lists are stored as Parquet (SURVEY §7 design
stance), so metadata-scale computations — reachability for
expire/reachable-purge, valid-file sets for orphan cleanup, the
files/entries metadata tables, changelog planning — run as plain
Spark Parquet jobs over the manifest files with anti-joins. This is
the shape of the reference's Spark actions
(spark/v4.0/spark/src/main/java/org/apache/iceberg/spark/actions/
ExpireSnapshotsSparkAction.java, DeleteOrphanFilesSparkAction.java:257-358)
and metadata tables (core/.../BaseFilesTable.java). Only manifest LISTS
(one small Parquet per snapshot) are read driver-side, as in the reference.

Mode selection mirrors scan planning (BaseDistributedDataScan LOCAL /
DISTRIBUTED / AUTO): below `DISTRIBUTED_ENTRY_THRESHOLD` total entries the
driver-side Python set math is faster than a Spark job; above it, the
DataFrame path keeps driver memory flat no matter how many snapshots or
files the table has.
"""

from __future__ import annotations

import os
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .caches import BoundedCache
from .manifests import entry_from_spark_row, read_manifest_list
from .relations import files_df

# total manifest entries below which driver-side set math beats a Spark job
DISTRIBUTED_ENTRY_THRESHOLD = 200_000

# columns present in EVERY manifest parquet regardless of schema/spec
# (manifest_arrow_schema core prefix)
CORE_ENTRY_SCHEMA = T.StructType([
    T.StructField("status", T.IntegerType()),
    T.StructField("snapshot_id", T.LongType()),
    T.StructField("sequence_number", T.LongType()),
    T.StructField("content", T.IntegerType()),
    T.StructField("file_path", T.StringType()),
    T.StructField("file_format", T.StringType()),
    T.StructField("spec_id", T.IntegerType()),
    T.StructField("record_count", T.LongType()),
    T.StructField("file_size_in_bytes", T.LongType()),
    T.StructField("equality_ids", T.ArrayType(T.IntegerType())),
    T.StructField("referenced_data_file", T.StringType()),
])


def unique_manifests(snapshots) -> list:
    """Deduped manifest-list rows across snapshots (driver-side: manifest
    lists are the smallest metadata tier; the reference reads them on the
    driver too)."""
    out, seen = [], set()
    for s in snapshots:
        for mf in read_manifest_list(s.manifest_list):
            if mf.path not in seen:
                seen.add(mf.path)
                out.append(mf)
    return out


def entry_count(manifests) -> int:
    """Total entries across manifests, from manifest-list counts alone (no
    manifest reads) — drives the AUTO local/distributed decision."""
    return sum(m.added_files_count + m.existing_files_count +
               m.deleted_files_count for m in manifests)


def resolve_path_col(c, location: Optional[str]):
    """Column twin of metadata.resolve_path (v4 relative paths)."""
    if location is None:
        return c
    prefix = location.rstrip("/") + "/"
    return F.when(
        c.isNull() | c.startswith("/") | c.contains("://"), c
    ).otherwise(F.concat(F.lit(prefix), c))


def manifest_path_col(paths=None):
    """Normalized source-manifest path of each entry row (decodes the
    percent-escaped URI — a warehouse directory with a space would
    otherwise never match; pass the manifest path list to license the
    cheap scheme-strip when nothing needs escaping)."""
    from .io import decode_spark_path_col

    return decode_spark_path_col(F.col("_metadata.file_path"), paths=paths)


def _decrypt_core_rows(path: str, key: bytes, aad: bytes,
                       fields: tuple, with_path: bool) -> list:
    """Executor-side core-column read of one ENCRYPTED manifest (AES GCM
    Stream — the JVM parquet source cannot open it). Module-level so the
    Spark closure pickles by reference."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from . import io as _eio
    from .encryption import decrypt_stream

    raw = _eio.resolve_io(path).read_bytes(path)
    pt = pa.BufferReader(decrypt_stream(raw, key, aad))
    names = pq.read_schema(pt).names
    pt.seek(0)
    t = pq.read_table(pt, columns=[f for f in fields if f in names])
    n = t.num_rows
    cols = [t[f].to_pylist() if f in t.column_names else [None] * n
            for f in fields]
    tail = (path,) if with_path else ()
    return [tuple(c[i] for c in cols) + tail for i in range(n)]


# Entry-DataFrame plans by (app id, manifest paths, location, flag):
# manifests are immutable, so a plan never goes stale, and maintenance
# planning reads the same manifest set many times per session. A hit
# saves the driver's plan build (maintenance_plan_10k: 0.206 s with the
# cache, 0.229 s without, 4 cores).
_ENTRIES_PLAN_CACHE = BoundedCache("metadata_df.entries_plan", 64)


def core_entries_df(spark: SparkSession, manifests, location: Optional[str],
                    with_manifest_path: bool = False) -> Optional[DataFrame]:
    """One distributed read of the core entry columns across ALL manifests
    (every spec/schema shares them). `file_path`/`referenced_data_file` are
    resolved against the table location. Returns None when there are no
    manifests. Encrypted manifests read through a decrypting RDD leg and
    union with the plain JVM-parquet leg (mixed trees happen when a table
    gains encryption mid-life)."""
    if not manifests:
        return None
    key = (spark.sparkContext.applicationId,
           tuple(sorted(m.path for m in manifests)), location,
           with_manifest_path)
    df = _ENTRIES_PLAN_CACHE.get(key)
    if df is None:
        df = _ENTRIES_PLAN_CACHE.put(key, _core_entries_df_uncached(
            spark, manifests, location, with_manifest_path))
    return df


def _core_entries_df_uncached(spark: SparkSession, manifests,
                              location: Optional[str],
                              with_manifest_path: bool) -> DataFrame:
    from .manifests import file_key
    enc = [m for m in manifests if file_key(m.path) is not None]
    plain = [m for m in manifests if file_key(m.path) is None]
    fields = tuple(CORE_ENTRY_SCHEMA.fieldNames())
    legs = []
    if plain:
        paths = [m.path for m in plain]
        df = files_df(spark, "parquet", CORE_ENTRY_SCHEMA, paths,
                      {m.path: m.length for m in plain})
        if with_manifest_path:
            df = df.select("*", manifest_path_col(paths)
                           .alias("manifest_path"))
        legs.append(df)
    if enc:
        payload = [(m.path, *file_key(m.path)) for m in enc]
        sc = spark.sparkContext
        rdd = sc.parallelize(payload, min(len(payload),
                                          sc.defaultParallelism * 2)) \
            .flatMap(lambda a: _decrypt_core_rows(*a, fields,
                                                  with_manifest_path))
        schema = CORE_ENTRY_SCHEMA
        if with_manifest_path:
            schema = T.StructType(
                list(CORE_ENTRY_SCHEMA.fields)
                + [T.StructField("manifest_path", T.StringType())])
        legs.append(spark.createDataFrame(rdd, schema))
    df = legs[0]
    for leg in legs[1:]:
        df = df.unionByName(leg)
    cols = [
        resolve_path_col(F.col("file_path"), location).alias("file_path"),
        resolve_path_col(F.col("referenced_data_file"),
                         location).alias("referenced_data_file"),
        *[F.col(n) for n in CORE_ENTRY_SCHEMA.fieldNames()
          if n not in ("file_path", "referenced_data_file")],
    ]
    if with_manifest_path:
        cols.append(F.col("manifest_path"))
    return df.select(*cols)


def reachable_data_paths_df(spark: SparkSession, manifests,
                            location: Optional[str]) -> Optional[DataFrame]:
    """Distinct file paths (data + delete content) reachable through the
    given manifests — the DataFrame leg of reachability."""
    df = core_entries_df(spark, manifests, location)
    if df is None:
        return None
    return df.select("file_path").distinct()


def distinct_write_schema_ids(spark: SparkSession, manifests) -> set:
    """Distinct engine `write_schema_id` values across ALL entries of the
    given manifests, as one single-column distributed parquet read (plus a
    decrypting RDD leg for encrypted manifests). Feeds
    `expire_snapshots(clean_expired_metadata=True)`: the engine resolves a
    file's columns through its write-schema snapshot rather than parquet
    field IDs, so any schema still named by a live (or changelog-readable
    deleted) entry must survive schema pruning."""
    from .manifests import file_key

    if not manifests:
        return set()
    enc = [m for m in manifests if file_key(m.path) is not None]
    plain = [m for m in manifests if file_key(m.path) is None]
    schema = T.StructType([T.StructField("write_schema_id", T.IntegerType())])
    legs = []
    if plain:
        legs.append(files_df(spark, "parquet", schema,
                             [m.path for m in plain],
                             {m.path: m.length for m in plain}))
    if enc:
        payload = [(m.path, *file_key(m.path)) for m in enc]
        sc = spark.sparkContext
        rdd = sc.parallelize(payload, min(len(payload),
                                          sc.defaultParallelism * 2)) \
            .flatMap(lambda a: _decrypt_core_rows(
                *a, ("write_schema_id",), False))
        legs.append(spark.createDataFrame(rdd, schema))
    df = legs[0]
    for leg in legs[1:]:
        df = df.unionByName(leg)
    # pre-write_schema_id manifests (imported trees) read the column as
    # null → schema 0, matching read_manifest's decode default
    return {r[0] or 0
            for r in df.select("write_schema_id").distinct().collect()}


def plain_manifests_df(spark, manifests) -> DataFrame:
    """Every column of the given plaintext manifests, read as one
    manifest-fed relation. The schema is the union of the manifests'
    footers, read through FileIO before the Spark read: columns a newer
    manifest added read as null from older ones, and promoted stats
    columns widen. Unlike `spark.read.option("mergeSchema", ...)`, no
    footer job, no listing job and no glob expansion of the paths."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import from_arrow_schema

    from .io import read_parquet_schema

    paths = [mf.path for mf in manifests]
    merged = pa.unify_schemas([read_parquet_schema(p) for p in paths],
                              promote_options="permissive")
    return files_df(spark, "parquet", from_arrow_schema(merged), paths,
                    {mf.path: mf.length for mf in manifests})


def collect_entries_spark(table, manifests, row_filter=None,
                          statuses=None) -> list:
    """Collect full ManifestEntry objects through a Spark read of the given
    manifests (per-spec groups so partition/stats columns line up). Used by
    surfaces that need plan-sized entry lists without per-manifest driver
    reads. `row_filter` is an optional Column over the manifest columns."""
    from .manifests import file_key, read_manifest

    m = table.metadata
    schema = m.schema
    enc = [mf for mf in manifests if file_key(mf.path) is not None]
    out = []
    if enc:
        # encrypted manifests: the JVM parquet source can't open GCM
        # streams and `row_filter` is a Column — read driver-side through
        # the registered keys (entry lists are plan-sized) and apply the
        # status filter; callers re-filter entries themselves
        manifests = [mf for mf in manifests if file_key(mf.path) is None]
        if row_filter is not None:
            raise ValueError(
                "collect_entries_spark: Column row_filter is not "
                "supported over encrypted manifests")
        for mf in enc:
            for e in read_manifest(mf.path, schema,
                                   m.spec_by_id(mf.spec_id)):
                if statuses is None or e.status in statuses:
                    out.append(e)
    by_spec: dict = {}
    for mf in manifests:
        by_spec.setdefault(mf.spec_id, []).append(mf)
    for spec_id, group in by_spec.items():
        spec = m.spec_by_id(spec_id)
        df = plain_manifests_df(table.spark, group)
        if statuses is not None:
            df = df.filter(F.col("status").isin(list(statuses)))
        if row_filter is not None:
            df = df.filter(row_filter)
        for r in df.collect():
            out.append(entry_from_spark_row(r.asDict(), schema, spec,
                                            m.location))
    return out


# ---------------------------------------------------------------------------
# distributed file-system listing (DeleteOrphanFilesSparkAction.listDirRecursively)
# ---------------------------------------------------------------------------


def _walk_with_mtime(d: str) -> list:
    from .io import resolve_io

    return [(p, m) for p, m in resolve_io(d).walk_file_status(d)
            if m is not None]


_LISTING_SCHEMA = T.StructType([
    T.StructField("actual_path", T.StringType()),
    T.StructField("mtime", T.DoubleType()),
])


def listing_df(spark: SparkSession, base: str) -> DataFrame:
    """Recursive file listing under `base` as a DataFrame: first-level
    directories are parallelized across executors (the reference lists
    orphan candidates the same way), files at the root are appended
    driver-side."""
    top_files, dirs = [], []
    if os.path.isdir(base):
        for de in os.scandir(base):
            if de.is_dir(follow_symlinks=False):
                dirs.append(de.path)
            else:
                try:
                    top_files.append((os.path.normpath(de.path),
                                      de.stat().st_mtime))
                except OSError:
                    pass
    pieces = []
    if dirs:
        rdd = spark.sparkContext.parallelize(
            dirs, min(len(dirs), 64)).flatMap(_walk_with_mtime)
        pieces.append(spark.createDataFrame(rdd, _LISTING_SCHEMA))
    pieces.append(spark.createDataFrame(top_files, _LISTING_SCHEMA))
    out = pieces[0]
    for p in pieces[1:]:
        out = out.unionByName(p)
    return out


# ---------------------------------------------------------------------------
# files/entries metadata-table builders (BaseFilesTable.java as a Spark scan)
# ---------------------------------------------------------------------------


def _json_value_col(c, typ: str):
    """Column twin of manifests.value_to_json: tagged struct for types whose
    JSON form is a wrapper, raw column otherwise."""
    if not isinstance(typ, str):
        return c
    if typ == "date":
        tagged = F.struct(F.lit("d").alias("t"), c.cast("string").alias("v"))
    elif typ in ("timestamp", "timestamp_ntz"):
        base = F.date_format(c, "yyyy-MM-dd'T'HH:mm:ss")
        frac = F.date_format(c, "SSSSSS")
        iso = F.when(frac != F.lit("000000"),
                     F.concat(base, F.lit("."), frac)).otherwise(base)
        tagged = F.struct(F.lit("ts").alias("t"), iso.alias("v"))
    elif typ.startswith("decimal"):
        tagged = F.struct(F.lit("dec").alias("t"), c.cast("string").alias("v"))
    elif typ in ("binary",) or typ.startswith("fixed"):
        tagged = F.struct(F.lit("b").alias("t"), F.lower(F.hex(c)).alias("v"))
    else:
        return c
    return F.when(c.isNull(), F.lit(None)).otherwise(tagged)


def entries_table_df(table, snapshots, statuses=None,
                     contents=None) -> DataFrame:
    """The files/entries metadata tables as a distributed scan of the
    manifest Parquet (core/.../BaseFilesTable.java analog). Output schema
    matches metadata_tables._FILES_SCHEMA: partition and column_stats are
    JSON strings ({"col": {"min":..,"max":..,"nulls":..,"nans":..,
    "values":..}} for stats — the readable_metrics shape)."""
    m = table.metadata
    spark = table.spark
    schema = m.schema
    manifests = unique_manifests(snapshots)
    out_schema = T.StructType([
        T.StructField("status", T.IntegerType()),
        T.StructField("snapshot_id", T.LongType()),
        T.StructField("sequence_number", T.LongType()),
        T.StructField("content", T.IntegerType()),
        T.StructField("file_path", T.StringType()),
        T.StructField("file_format", T.StringType()),
        T.StructField("spec_id", T.IntegerType()),
        T.StructField("partition", T.StringType()),
        T.StructField("record_count", T.LongType()),
        T.StructField("file_size_in_bytes", T.LongType()),
        T.StructField("column_stats", T.StringType()),
        T.StructField("readable_metrics", T.StringType()),
        T.StructField("equality_ids", T.ArrayType(T.IntegerType())),
        T.StructField("referenced_data_file", T.StringType()),
        # spec data_file.key_metadata (opaque; non-null = encrypted file)
        T.StructField("key_metadata", T.BinaryType()),
    ])
    if not manifests:
        return spark.createDataFrame([], out_schema)

    by_spec: dict = {}
    for mf in manifests:
        by_spec.setdefault(mf.spec_id, []).append(mf)

    pieces = []
    json_opts = {"ignoreNullFields": "false"}
    for spec_id, group in by_spec.items():
        spec = m.spec_by_id(spec_id)
        dfs = _manifest_rows_dfs(spark, group, schema, spec)
        for df in dfs:
            pieces.append(_entries_select(df, m, schema, spec, json_opts))
    out = pieces[0]
    for p in pieces[1:]:
        out = out.unionByName(p)
    if statuses is not None:
        out = out.filter(F.col("status").isin(list(statuses)))
    if contents is not None:
        out = out.filter(F.col("content").isin(list(contents)))
    return out


def _manifest_rows_dfs(spark, group, schema, spec,
                       with_path: bool = False) -> list:
    """Raw manifest rows of one spec group as DataFrames: plaintext
    manifests through `plain_manifests_df`, encrypted
    ones through a decrypting RDD leg with the CURRENT manifest schema
    (the JVM reader cannot open AES GCM Streams). `with_path` adds a
    `__manifest_path` column naming each row's source manifest on both
    legs."""
    from .manifests import file_key, manifest_arrow_schema

    plain = [mf for mf in group if file_key(mf.path) is None]
    enc = [mf.path for mf in group if file_key(mf.path) is not None]
    dfs = []
    if plain:
        df = plain_manifests_df(spark, plain)
        if with_path:
            df = df.withColumn("__manifest_path", manifest_path_col(
                [mf.path for mf in plain]))
        dfs.append(df)
    if enc:
        from pyspark.sql.pandas.types import from_arrow_schema

        read_schema = from_arrow_schema(manifest_arrow_schema(schema, spec))
        fields = tuple(read_schema.fieldNames())
        if with_path:
            read_schema = T.StructType(
                list(read_schema.fields)
                + [T.StructField("__manifest_path", T.StringType())])
        payload = [(p, *file_key(p)) for p in enc]
        sc = spark.sparkContext
        rdd = sc.parallelize(payload, min(len(payload),
                                          sc.defaultParallelism * 2)) \
            .flatMap(lambda a: _decrypt_manifest_rows(
                *a, fields, path_col=with_path))
        dfs.append(spark.createDataFrame(rdd, read_schema))
    return dfs


def _decrypt_manifest_rows(path: str, key: bytes, aad: bytes,
                           fields: tuple, path_col: bool = False) -> list:
    """Executor-side full-row read of one encrypted manifest, aligned to
    `fields` (absent columns -> None). Module-level for pickling."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from . import io as _eio
    from .encryption import decrypt_stream

    raw = _eio.resolve_io(path).read_bytes(path)
    t = pq.read_table(pa.BufferReader(decrypt_stream(raw, key, aad)))
    n = t.num_rows
    cols = [t[f].to_pylist() if f in t.column_names else [None] * n
            for f in fields]
    tail = (_eio.strip_scheme(path),) if path_col else ()
    return [tuple(c[i] for c in cols) + tail for i in range(n)]


def _entries_select(df, m, schema, spec, json_opts):
    names = set(df.columns)
    ptypes = spec.partition_type(schema)
    pcols = [_json_value_col(F.col(f"p_{n}"), t).alias(n)
             for n, t in ptypes if f"p_{n}" in names]
    part = (F.to_json(F.struct(*pcols), json_opts) if pcols
            else F.lit("{}"))
    scols = []
    for fld in schema.fields:
        fid = fld.field_id
        if isinstance(fld.type, str) and f"min_f{fid}" in names:
            scols.append(F.struct(
                _json_value_col(F.col(f"min_f{fid}"), fld.type).alias("min"),
                _json_value_col(F.col(f"max_f{fid}"), fld.type).alias("max"),
                F.col(f"nulls_f{fid}").alias("nulls"),
                F.col(f"nans_f{fid}").alias("nans"),
                F.col(f"values_f{fid}").alias("values"),
            ).alias(fld.name))
    stats = (F.to_json(F.struct(*scols), json_opts) if scols
             else F.lit("{}"))
    # readable_metrics (core/.../MetricsUtil.java READABLE_METRICS): the
    # reference's per-column struct with its exact key names, bounds
    # already converted to the column's type. column_size null for files
    # written before size tracking landed (manifest lacks the column).
    rcols = []
    for fld in schema.fields:
        fid = fld.field_id
        if isinstance(fld.type, str) and f"min_f{fid}" in names:
            rcols.append(F.struct(
                (F.col(f"sizes_f{fid}") if f"sizes_f{fid}" in names
                 else F.lit(None).cast("long")).alias("column_size"),
                F.col(f"values_f{fid}").alias("value_count"),
                F.col(f"nulls_f{fid}").alias("null_value_count"),
                F.col(f"nans_f{fid}").alias("nan_value_count"),
                _json_value_col(F.col(f"min_f{fid}"),
                                fld.type).alias("lower_bound"),
                _json_value_col(F.col(f"max_f{fid}"),
                                fld.type).alias("upper_bound"),
            ).alias(fld.name))
    readable = (F.to_json(F.struct(*rcols), json_opts) if rcols
                else F.lit("{}"))
    return df.select(
        F.col("status").cast("int"),
        F.col("snapshot_id").cast("long"),
        F.col("sequence_number").cast("long"),
        F.col("content").cast("int"),
        resolve_path_col(F.col("file_path"), m.location).alias("file_path"),
        "file_format",
        F.col("spec_id").cast("int"),
        part.alias("partition"),
        F.col("record_count").cast("long"),
        F.col("file_size_in_bytes").cast("long"),
        stats.alias("column_stats"),
        readable.alias("readable_metrics"),
        "equality_ids",
        resolve_path_col(F.col("referenced_data_file"),
                         m.location).alias("referenced_data_file"),
        (F.col("key_metadata") if "key_metadata" in names
         else F.lit(None).cast("binary")).alias("key_metadata"),
    )
