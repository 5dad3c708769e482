"""Manifest-fed file relations: read files the engine already knows.

Iceberg never lists data files: each manifest entry carries its file's
path and size, and the reference Spark scan builds its tasks from those
entries. `spark.read...load(paths)` instead stats every path again, and
above `spark.sql.sources.parallelPartitionDiscovery.threshold` (32)
paths it launches a listing job with one task per file. It also expands
every path as a glob, so a table under a location holding `[`, `*` or
`?` could not be read back.

`files_df` builds the relation Spark's reader would build (an
`InMemoryFileIndex` wrapped in a `HadoopFsRelation`) from the paths and
sizes alone:

1. One `FileStatus(size, ...)` per file goes into a private
   `FileStatusCache`, all under one key, with one `putLeafFiles`.
2. The index has that key as its only root path and
   `recursiveFileLookup` on. The root is a cache hit, so the index lists
   nothing; it takes every file put there as a leaf, whatever directory
   the file sits in, sees no sibling on disk, and infers no partition
   columns from `name=value` directories.
3. `HadoopFsRelation(index, ..., ParquetFileFormat|OrcFileFormat, ...)`
   goes through `baseRelationToDataFrame`.

No filesystem call, no Spark job and no compiled helper: three py4j
calls per file plus about a dozen per relation, however the files
spread over directories. The JVM schema, format objects and options
maps are made once per context, so a one-file relation costs no more
than `spark.read` of one file.

A file with no recorded size or a format other than parquet/orc reads
through `spark.read`; `manifest_fed` is that test, and `scan_reports`
names the path a scan took from it.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame

MANIFEST_FED = "manifest-fed"
SPARK_READ = "spark.read"

_FORMATS = ("parquet", "orc")
_SCHEMA_CACHE_CAP = 256
_NO_SIZE_LIMIT = (1 << 63) - 1  # the private FileStatusCache never evicts

# JVM handles made once per SparkContext (a new context, or a restarted
# JVM, brings handles that replace these wholesale)
_HANDLES: dict = {"context": None}
_LOCK = threading.Lock()


def manifest_fed(file_format: str, size) -> bool:
    """True when `files_df` can build the file's relation itself."""
    return (str(file_format).lower() in _FORMATS
            and size is not None and size > 0)


def _handles(spark) -> dict:
    global _HANDLES
    sc = spark.sparkContext
    h = _HANDLES
    if h["context"] is not sc._jsc:
        jvm = spark._jvm
        ds = jvm.org.apache.spark.sql.execution.datasources
        uri = jvm.org.apache.hadoop.fs.FileSystem.getDefaultUri(
            sc._jsc.hadoopConfiguration())
        auth = uri.getAuthority()
        h = _HANDLES = dict(
            context=sc._jsc,
            gateway=sc._gateway,
            # qualifies a scheme-less absolute path against the default
            # filesystem as Hadoop's makeQualified does: 'file:' locally,
            # 'hdfs://nn:8020' on a cluster
            qualifier=uri.getScheme() + ":" + ("//" + auth if auth else ""),
            Path=jvm.org.apache.hadoop.fs.Path,
            FileStatus=jvm.org.apache.hadoop.fs.FileStatus,
            SharedCache=ds.SharedInMemoryCache,
            Index=ds.InMemoryFileIndex,
            Relation=ds.HadoopFsRelation,
            to_seq=jvm.org.apache.spark.api.python.PythonUtils.toSeq,
            no_options=jvm.org.apache.spark.api.python.PythonUtils
            .toScalaMap({}),
            recursive=jvm.org.apache.spark.api.python.PythonUtils
            .toScalaMap({"recursiveFileLookup": "true"}),
            none=jvm.scala.Option.empty(),
            no_partitions=jvm.org.apache.spark.sql.types.StructType(),
            formats={"parquet": ds.parquet.ParquetFileFormat(),
                     "orc": ds.orc.OrcFileFormat()},
            schemas={},
        )
    return h


def _schema(h, spark, read_schema):
    """(nullable data schema, Some(it)), made once per schema. Nullable
    as `spark.read` makes it: a required column a file lacks reads as
    null, which a non-nullable schema would let Catalyst assume away."""
    key = read_schema if isinstance(read_schema, str) \
        else read_schema.json()
    hit = h["schemas"].get(key)
    if hit is None:
        jss = spark._jsparkSession
        js = (spark._jvm.org.apache.spark.sql.types.StructType
              .fromDDL(read_schema) if isinstance(read_schema, str)
              else jss.parseDataType(key)).asNullable()
        hit = (js, spark._jvm.scala.Option.apply(js))
        with _LOCK:
            while len(h["schemas"]) >= _SCHEMA_CACHE_CAP:
                h["schemas"].pop(next(iter(h["schemas"])))
            h["schemas"][key] = hit
    return hit


def _qualified(p: str, q: str):
    """Hadoop's qualified spelling of `p`, or None when this module
    does not know it (a relative path, a file: URI with an authority)."""
    if p.startswith("/"):
        return q + p
    if p.startswith("file:/") and not p.startswith("file://") \
            or p.startswith("file:///"):
        return "file:/" + p[5:].lstrip("/")
    return p if "://" in p and not p.startswith("file:") else None


def files_df(spark, ffmt: str, read_schema, paths, sizes) -> DataFrame:
    """DataFrame over exactly `paths`, read as `ffmt` with `read_schema`
    (a StructType or DDL string). `sizes` maps each path to its recorded
    byte size. Manifest-fed when every file passes `manifest_fed`;
    otherwise, or for a path spelling this module does not qualify, or
    if the index does not account for every recorded byte, through
    `spark.read`."""
    ffmt = str(ffmt).lower()
    paths = list(paths)
    if paths and all(manifest_fed(ffmt, sizes.get(p)) for p in paths):
        df = _build(spark, ffmt, read_schema, paths, sizes)
        if df is not None:
            return df
    return spark.read.schema(read_schema).format(ffmt).load(paths)


def _build(spark, ffmt, read_schema, paths, sizes):
    h = _handles(spark)
    jss = spark._jsparkSession
    files = {}
    for p in paths:
        qp = _qualified(p, h["qualifier"])
        if qp is None:
            return None
        files[qp] = int(sizes[p])
    P, FS = h["Path"], h["FileStatus"]
    arr = h["gateway"].new_array(FS, len(files))
    for i, (qp, size) in enumerate(files.items()):
        arr[i] = FS(size, False, 1, 128 << 20, 0, P(qp))
    # the one key the index looks up: any path serves; a file's own
    # directory reads best in a plan
    root = P(qp.rpartition("/")[0])
    cache = h["SharedCache"](_NO_SIZE_LIMIT, -1).createForNewClient()
    cache.putLeafFiles(root, arr)
    jschema, some_schema = _schema(h, spark, read_schema)
    index = h["Index"](jss, h["to_seq"]([root]), h["recursive"],
                       some_schema, cache, h["none"], h["none"])
    if index.sizeInBytes() != sum(files.values()):
        return None
    rel = h["Relation"](index, h["no_partitions"], jschema, h["none"],
                        h["formats"][ffmt], h["no_options"], jss)
    return DataFrame(jss.baseRelationToDataFrame(rel), spark)
