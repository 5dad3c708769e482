"""File relations: read files the engine already knows, whatever their
key.

Iceberg never lists data files: each manifest entry carries its file's
path, size and key (`data_file.key_metadata`), and the reference opens
every data and delete file through one encryption manager. This module
is that one place here.

`parquet_df` is the opener for parquet data and delete files. It groups
the files by key kind (plaintext; engine KMS, one group per key id;
reference raw DEK, in batches with unique base names), reads each group
as one relation, applies the caller's `select` to it, and unions the
projected groups, so Spark's hidden `_metadata` struct only has to
resolve inside a group. Plaintext groups, and encrypted groups when the
JVM crypto path (jvm_crypto) is available, are `files_df` relations
whose options carry the crypto reader options. Without it, KMS groups
decrypt on executors with pyarrow (`_encrypted_parquet_df`) and raw-DEK
groups raise NotImplementedError. `read_columns` is its driver-side
twin for small delete sets. `manifest_fed` says which of these paths a
file takes, and `scan_reports` names it.

`files_df` builds the relation Spark's reader would build (an
`InMemoryFileIndex` wrapped in a `HadoopFsRelation`) from the paths and
sizes alone. `spark.read...load(paths)` instead stats every path again,
above `spark.sql.sources.parallelPartitionDiscovery.threshold` (32)
paths launches a listing job with one task per file, and expands every
path as a glob, so a table under a location holding `[`, `*` or `?`
could not be read back.

1. One `FileStatus(size, ...)` per file goes into a private
   `FileStatusCache`, all under one key, with one `putLeafFiles`. One
   call to the helper jar's `FileStatuses.of` (java/, loaded by
   jvm_probe) builds the array; without the jar, or for a path holding
   a newline, three py4j calls per file do.
2. The index has that key as its only root path and
   `recursiveFileLookup` on. The root is a cache hit, so the index lists
   nothing; it takes every file put there as a leaf, whatever directory
   the file sits in, sees no sibling on disk, and infers no partition
   columns from `name=value` directories.
3. `HadoopFsRelation(index, ..., ParquetFileFormat|OrcFileFormat,
   options)` goes through `baseRelationToDataFrame`.

No filesystem call and no Spark job: about a dozen py4j calls per
relation, however many files it has and however they spread over
directories. The JVM schema, format objects and the empty options map
are made once per context, so a one-file relation costs no more than
`spark.read` of one file. A file with no recorded size or a format
other than parquet/orc reads through `spark.read`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from .caches import BoundedCache

MANIFEST_FED = "manifest-fed"
SPARK_READ = "spark.read"

_FORMATS = ("parquet", "orc")
_NO_SIZE_LIMIT = (1 << 63) - 1  # the private FileStatusCache never evicts

# JVM handles made once per SparkContext (a new context, or a restarted
# JVM, brings handles that replace these wholesale, and empties the
# schema cache, whose JVM schemas belong to the old context)
_HANDLES: dict = {"context": None}
_SCHEMAS = BoundedCache("relations.schemas", 256)


def manifest_fed(file_format: str, size, key_metadata=None,
                 spark=None) -> bool:
    """True when the file's relation is built here, not by `spark.read`
    or the pyarrow decoder: a sized parquet or orc file that is plaintext
    or that this session's JVM decrypts."""
    if not (str(file_format).lower() in _FORMATS
            and size is not None and size > 0):
        return False
    if not key_metadata:
        return True
    from . import jvm_crypto

    return jvm_crypto.available(spark)


def _handles(spark) -> dict:
    global _HANDLES
    sc = spark.sparkContext
    h = _HANDLES
    if h["context"] is not sc._jsc:
        jvm = spark._jvm
        _SCHEMAS.clear()
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
            to_map=jvm.org.apache.spark.api.python.PythonUtils.toScalaMap,
            no_options=jvm.org.apache.spark.api.python.PythonUtils
            .toScalaMap({}),
            recursive=jvm.org.apache.spark.api.python.PythonUtils
            .toScalaMap({"recursiveFileLookup": "true"}),
            none=jvm.scala.Option.empty(),
            no_partitions=jvm.org.apache.spark.sql.types.StructType(),
            formats={"parquet": ds.parquet.ParquetFileFormat(),
                     "orc": ds.orc.OrcFileFormat()},
        )
    return h


def _schema(spark, read_schema):
    """(nullable data schema, Some(it)), made once per schema. Nullable
    as `spark.read` makes it: a required column a file lacks reads as
    null, which a non-nullable schema would let Catalyst assume away."""
    key = read_schema if isinstance(read_schema, str) \
        else read_schema.json()
    hit = _SCHEMAS.get(key)
    if hit is None:
        jss = spark._jsparkSession
        js = (spark._jvm.org.apache.spark.sql.types.StructType
              .fromDDL(read_schema) if isinstance(read_schema, str)
              else jss.parseDataType(key)).asNullable()
        hit = _SCHEMAS.put(key, (js, spark._jvm.scala.Option.apply(js)))
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


def files_df(spark, ffmt: str, read_schema, paths, sizes,
             options=None) -> DataFrame:
    """DataFrame over exactly `paths`, read as `ffmt` with `read_schema`
    (a StructType or DDL string). `sizes` maps each path to its recorded
    byte size; `options` become the relation's options (the JVM crypto
    reader options of an encrypted group). Manifest-fed when every file
    passes `manifest_fed`; otherwise, or for a path spelling this module
    does not qualify, or if the index does not account for every
    recorded byte, through `spark.read`."""
    ffmt = str(ffmt).lower()
    paths = list(paths)
    if paths and all(manifest_fed(ffmt, sizes.get(p)) for p in paths):
        df = _build(spark, ffmt, read_schema, paths, sizes, options)
        if df is not None:
            return df
    return (spark.read.options(**(options or {})).schema(read_schema)
            .format(ffmt).load(paths))


def _build(spark, ffmt, read_schema, paths, sizes, options):
    h = _handles(spark)
    jss = spark._jsparkSession
    files = {}
    for p in paths:
        qp = _qualified(p, h["qualifier"])
        if qp is None:
            return None
        files[qp] = int(sizes[p])
    arr = _statuses(h, spark, files)
    # the one key the index looks up: any path serves; a file's own
    # directory reads best in a plan
    root = h["Path"](next(reversed(files)).rpartition("/")[0])
    cache = h["SharedCache"](_NO_SIZE_LIMIT, -1).createForNewClient()
    cache.putLeafFiles(root, arr)
    jschema, some_schema = _schema(spark, read_schema)
    index = h["Index"](jss, h["to_seq"]([root]), h["recursive"],
                       some_schema, cache, h["none"], h["none"])
    if index.sizeInBytes() != sum(files.values()):
        return None
    rel = h["Relation"](index, h["no_partitions"], jschema, h["none"],
                        h["formats"][ffmt],
                        h["to_map"](options) if options
                        else h["no_options"], jss)
    return DataFrame(jss.baseRelationToDataFrame(rel), spark)


def _statuses(h, spark, files: dict):
    """The `FileStatus[]` of `files` (qualified path -> size)."""
    from . import jvm_probe

    joined = "\n".join(files)
    if joined.count("\n") == len(files) - 1 and jvm_probe.available(spark):
        if "of" not in h:
            h["of"] = spark._jvm.org.iceberg_spark.util.FileStatuses.of
        return h["of"](joined, ",".join(map(str, files.values())))
    P, FS = h["Path"], h["FileStatus"]
    arr = h["gateway"].new_array(FS, len(files))
    for i, (qp, size) in enumerate(files.items()):
        arr[i] = FS(size, False, 1, 128 << 20, 0, P(qp))
    return arr


def parquet_df(spark, files, read_schema, select, arrow_filter=None,
               with_meta: bool = False) -> DataFrame:
    """One DataFrame over the parquet DataFiles `files`, whatever key
    each one carries (`data_file.key_metadata`, read by
    parquet_crypto.file_crypto). The files split into groups, one
    relation each: the plaintext files; the engine-KMS files of each
    key id; reference raw-DEK files in batches with unique base names
    (the JVM factory finds a file's key by its name). `select(df)`
    projects each group's relation, so Spark's hidden `_metadata`
    struct resolves inside the group; the projected groups then union
    by name.

    - Plaintext, and encrypted when the JVM crypto path is available:
      `files_df`, the crypto reader options as the relation's options.
    - KMS without it: `_encrypted_parquet_df`, which decrypts with
      pyarrow one task per file, pushes `arrow_filter` into its reads
      and, with `with_meta`, synthesizes `_metadata` (file_path,
      row_index) for `select` to read.
    - Raw-DEK without it: NotImplementedError; pyarrow cannot open a
      raw footer key."""
    from . import jvm_crypto
    from .parquet_crypto import file_crypto, resolve_key

    plain: dict = {}
    kms: dict = {}
    raw: dict = {}
    for f in files:
        fc = file_crypto(f.key_metadata)
        if fc is None:
            plain[f.file_path] = f
        elif fc[0] == "raw":
            raw[f.file_path] = f
        else:
            kms.setdefault(fc[1], {})[f.file_path] = f
    jvm = bool(kms or raw) and jvm_crypto.available(spark)
    groups = [(plain, None)] if plain else []
    decode = []  # (files, master key) the pyarrow decoder reads
    for kid, fs in kms.items():
        mkey = resolve_key(kid)
        if jvm:
            groups.append((fs, jvm_crypto.reader_options(kid, mkey)))
        else:
            decode.append((fs, mkey))
    if raw and not jvm:
        raise NotImplementedError(
            "natively-encrypted parquet files (raw footer DEK, reference "
            "StandardKeyMetadata) require the JVM crypto path; it is "
            "unavailable in this session (no JDK or jar not attached) "
            "and pyarrow cannot open raw-footer-key parquet")
    for batch in _unique_name_batches(list(raw.values())):
        groups.append(({f.file_path: f for f in batch},
                       jvm_crypto.raw_reader_options(
                           {f.file_path: file_crypto(f.key_metadata)[1:]
                            for f in batch})))
    parts = [select(files_df(
        spark, "parquet", read_schema, list(fs),
        {p: f.file_size_in_bytes for p, f in fs.items()}, opts))
        for fs, opts in groups]
    for fs, mkey in decode:
        df = select(_encrypted_parquet_df(spark, list(fs), read_schema,
                                          mkey, with_meta, arrow_filter))
        # a synthesized `_metadata` is a real column: never let it out
        parts.append(df.drop("_metadata") if with_meta else df)
    out = parts[0]
    for d in parts[1:]:
        out = out.unionByName(d)
    return out


def read_columns(f, columns):
    """Driver-side twin of `parquet_df` for one small file: `columns` of
    parquet DataFile `f` as a pyarrow Table, or None for a raw-DEK file,
    which only the JVM opens."""
    from . import io as _io
    from .parquet_crypto import file_crypto, read_encrypted, resolve_key

    fc = file_crypto(f.key_metadata)
    if fc is None:
        return _io.read_parquet(f.file_path, columns=columns)
    if fc[0] == "raw":
        return None
    return read_encrypted(f.file_path, resolve_key(fc[1]), columns=columns)


def _encrypted_parquet_df(spark, paths: list, read_schema, master_key: bytes,
                          with_meta: bool, arrow_filter=None):
    """Engine-encrypted parquet files -> DataFrame: one task per file,
    each decrypting through pyarrow modular encryption (parquet_crypto)
    and streaming Arrow batches out — the imported-Avro decode shape, so
    the read parallelizes exactly like a native format reader at any
    file count. Column pruning pushes into the decrypting reader
    (iter_batches(columns=...)); requested columns the file lacks
    (e.g. lineage) surface as nulls.

    `with_meta=True` additionally emits a `_metadata` struct
    (file_path in Spark's "file:<plain>" URI spelling, running
    row_index) so the MoR position-delete machinery downstream applies
    unchanged."""
    from pyspark.sql import types as _T

    if isinstance(read_schema, str):
        read_schema = _T._parse_datatype_string(read_schema)
    cols = [f.name for f in read_schema.fields]
    out_schema = read_schema
    if with_meta:
        out_schema = _T.StructType(list(read_schema.fields) + [
            _T.StructField("_metadata", _T.StructType([
                _T.StructField("file_path", _T.StringType()),
                _T.StructField("row_index", _T.LongType())]))])

    def decode(batches):
        from urllib.parse import quote

        from . import io as _eio
        from .parquet_crypto import open_encrypted

        def read_batches(p):
            """Arrow batches of the requested columns. Local files
            without metadata needs scan through a pyarrow DATASET with
            the decryption config — pushing `arrow_filter` down skips
            whole row groups on their (decrypted) stats before any
            pandas conversion. Positional reads and remote paths use the
            plain decrypting reader (filtering would break row_index)."""
            pf = open_encrypted(p, master_key)
            have = [c for c in cols if c in pf.schema_arrow.names]
            if (not with_meta and arrow_filter is not None
                    and _eio.resolve_io(p) is _eio._LOCAL):
                import pyarrow.dataset as ds
                import pyarrow.parquet.encryption as pe

                from .parquet_crypto import _factory

                factory, kc = _factory(master_key)
                fmt = ds.ParquetFileFormat(
                    default_fragment_scan_options=ds.ParquetFragmentScanOptions(
                        decryption_config=ds.ParquetDecryptionConfig(
                            factory, kc, pe.DecryptionConfiguration())))
                sc_ = ds.dataset([_eio.strip_scheme(p)],
                                 format=fmt).scanner(
                    columns=have, filter=arrow_filter)
                return have, sc_.to_batches()
            return have, pf.iter_batches(columns=have)

        for b in batches:
            for p in b["p"]:
                have, rbs = read_batches(p)
                # percent-encoded URI, the same spelling Spark's native
                # reader reports — every consumer decodes uniformly
                enc = quote(p, safe="/:")
                uri = "file:" + enc if p.startswith("/") else enc
                idx = 0
                for rb in rbs:
                    out = rb.to_pandas()
                    for c in cols:
                        if c not in out.columns:
                            out[c] = None
                    out = out[cols]
                    if with_meta:
                        n = len(out)
                        out["_metadata"] = [
                            {"file_path": uri, "row_index": i}
                            for i in range(idx, idx + n)]
                        idx += n
                    yield out

    pdf = spark.createDataFrame([(p,) for p in sorted(paths)], "p string")
    return (pdf.repartition(max(1, len(paths)))
            .mapInPandas(decode, out_schema))


def _unique_name_batches(files, max_batch: int = 4096):
    """Split DataFiles into batches whose BASENAMES are unique — the JVM
    raw-DEK factory resolves per-file keys by file name (the only
    identity parquet-mr hands it that survives scheme/URI respelling).
    Iceberg data file names are UUID-based so collisions are rare; a
    collision costs one extra relation, never a wrong key. `max_batch`
    caps per-relation key-option count: every file adds a Hadoop conf
    entry to its relation, and an unbounded group would push a
    million-entry conf through the driver on a big imported table."""
    batches: list = []
    for f in files:
        name = f.file_path.rstrip("/").rsplit("/", 1)[-1]
        for b in batches:
            if name not in b[0] and len(b[1]) < max_batch:
                b[0].add(name)
                b[1].append(f)
                break
        else:
            batches.append(({name}, [f]))
    return [b[1] for b in batches]
