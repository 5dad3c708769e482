"""Write path: data-file materialization + snapshot producers (commit algebra).

Reference: SnapshotProducer.commit() retry loop
(core/.../SnapshotProducer.java:480-542), FastAppend.java,
MergingSnapshotProducer.java (manifest merging), BaseOverwriteFiles.java,
BaseRowDelta.java, BaseRewriteFiles.java, StreamingDelete.java; write
distribution SparkWriteUtil.java:76 and DistributionMode.java:39; rolling /
clustered / fanout writers (core/.../io/*Writer.java) are realized by
Spark's own writer: `repartition(partition cols)` routes rows (clustered),
`partitionBy` fans out files, `maxRecordsPerFile` rolls them.

Commits are optimistic: build new metadata against a refreshed base, CAS
via TableOperations.commit, retry on CommitFailedException.
"""

from __future__ import annotations

import datetime as _dt
import os
import random
import time
import uuid as _uuid
from dataclasses import replace
from decimal import Decimal
from typing import Callable, Optional
from urllib.parse import unquote

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import expressions as E
from . import io as _io
from .manifests import (
    ADDED,
    DATA,
    DELETED,
    EQUALITY_DELETES,
    EXISTING,
    POSITION_DELETES,
    DataFile,
    ManifestEntry,
    collect_data_files,
    read_manifest,
    read_manifest_list,
    write_manifest,
    write_manifest_list,
)
from .metadata import (
    MAIN_BRANCH,
    OP_APPEND,
    OP_DELETE,
    OP_OVERWRITE,
    OP_REPLACE,
    CommitFailedException,
    Snapshot,
    SnapshotRef,
    TableMetadata,
)
from .schema import Schema, type_to_spark

MANIFEST_MERGE_MIN = 32  # merge small manifests when count exceeds this
COMMIT_RETRIES = 4  # TableProperties.COMMIT_NUM_RETRIES_DEFAULT (1+4 attempts)


class ValidationException(Exception):
    """Concurrent-conflict detected during commit re-validation."""


# ---------------------------------------------------------------------------
# partition path encoding (Spark partitionBy writes hive-style dirs)
# ---------------------------------------------------------------------------

HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"


def parse_partition_value(raw: str, ptype: str):
    v = unquote(raw)
    if v == HIVE_NULL:
        return None
    if ptype == "int" or ptype == "long":
        return int(v)
    if ptype in ("double", "float"):
        return float(v)
    if ptype == "date":
        return _dt.date.fromisoformat(v)
    if ptype in ("timestamp", "timestamp_ntz"):
        return _dt.datetime.fromisoformat(v.replace(" ", "T"))
    if ptype.startswith("decimal"):
        return Decimal(v)
    if ptype == "boolean":
        return v.lower() == "true"
    return v


def partition_values_from_path(path: str, pnames: list, ptypes: dict) -> dict:
    out = {}
    for seg in path.split(os.sep):
        if "=" in seg:
            k, _, raw = seg.partition("=")
            if k.startswith("_p_"):
                name = k[3:]
                if name in ptypes:
                    out[name] = parse_partition_value(raw, ptypes[name])
    return out


def hive_partition_values_from_path(path: str, ptypes: dict) -> dict:
    """Partition tuple from an EXTERNAL hive-layout path: `name=value`
    directory segments (the engine's own `_p_name=` form also accepted) —
    the TableMigrationUtil path-parsing analog for add_files/migrate."""
    out = {}
    for seg in path.split(os.sep):
        if "=" not in seg:
            continue
        k, _, raw = seg.partition("=")
        if k.startswith("_p_"):
            k = k[3:]
        if k in ptypes:
            out[k] = parse_partition_value(raw, ptypes[k])
    return out


# ---------------------------------------------------------------------------
# data-file writing
# ---------------------------------------------------------------------------


# row-lineage column names (scan.ROW_ID_COL / LAST_UPDATED_SEQ_COL; string
# literals here to keep writes import-free of scan)
_LINEAGE_COLS = ("_row_id", "_last_updated_sequence_number")


def _align_to_schema(df: DataFrame, schema: Schema, extras=()) -> DataFrame:
    sel = []
    for f in schema.fields:
        if f.name not in df.columns:
            # v3 write-default: writers omitting the column get the default
            fill = F.lit(f.write_default) if f.write_default is not None else F.lit(None)
            sel.append(fill.cast(type_to_spark(f.type)).alias(f.name))
        else:
            sel.append(F.col(f.name).cast(type_to_spark(f.type)).alias(f.name))
    sel += [F.col(c).cast("long").alias(c) for c in extras]
    return df.select(*sel)


def write_data_files(
    table, df: DataFrame, content: int = DATA, align: bool = True,
    distribution: Optional[str] = None, preserve_lineage: bool = False,
) -> list:
    """Write df as Parquet into the table layout; return DataFiles w/ stats.

    Partitioned tables: derive `_p_<name>` transform columns, hash-route rows
    (`repartition` on partition cols = clustered writer), `partitionBy` fans
    out one directory per partition, stats come from the written footers.
    """
    metadata: TableMetadata = table.metadata
    schema, spec = metadata.schema, metadata.spec
    props = metadata.properties
    if align:
        # row-lineage materialization (format/spec.md:460): row-level ops
        # pass preserve_lineage=True so rewritten rows keep their _row_id /
        # _last_updated_sequence_number as physical columns; readers
        # coalesce them against the inheritance values
        extras = tuple(c for c in _LINEAGE_COLS
                       if preserve_lineage and c in df.columns)
        df = _align_to_schema(df, schema, extras)

    fmt = props.get("write.format.default", "parquet").lower()
    # native data-file encryption (parquet modular encryption; see
    # parquet_crypto.py — reference StandardEncryptionManager +
    # parquet/.../Parquet.java encryption hooks)
    from .parquet_crypto import KEY_ID_PROP, table_encryption

    enc = None
    if props.get(KEY_ID_PROP):
        if fmt != "parquet":
            raise ValueError(
                f"{KEY_ID_PROP} requires parquet data files; "
                f"write.format.default is {fmt} (only parquet has modular "
                f"encryption)")
        enc = table_encryption(props)
    # v3 variant columns: parquet defaults to Spark's NATIVE binary
    # variant encoding (format/spec.md:243 metadata/value group — what the
    # reference writes, so engine-written files are consumable by any
    # spec reader). `write.variant.encoding=json` keeps the canonical
    # JSON-text fallback (pyarrow/duckdb-readable); non-parquet formats
    # always take it (no variant logical type there). The scan layer
    # detects the physical encoding per file, so mixed tables read fine.
    var_enc = props.get("write.variant.encoding", "binary").lower()
    # declared shredded paths (schema.ShreddedPath via
    # write.variant.shred.<col>; reference VariantShreddingFunction.java)
    # materialize under one of two layouts:
    #   companion (default): typed companion columns BEFORE any JSON
    #     cast — variant_get lowers JVM-side, stays in whole-stage
    #     codegen, and the companion's footer min/max land in the
    #     manifest under the path's synthetic field id.
    #   typed_value (`write.variant.shred.layout`): the SPEC-PHYSICAL
    #     parquet shredding the reference writes (typed_value group
    #     inside the variant column, ParquetVariantVisitor.java shape) —
    #     files are reference-consumable from birth, exports go
    #     by-reference with zero transcode, and Spark's native shredded
    #     reader serves scans. Companion STATS still land in manifests
    #     (variant_get aggregation in the metrics pass), so extract()
    #     file pruning is identical either way.
    shred_layout = str(props.get("write.variant.shred.layout",
                                 "companion")).lower()
    if shred_layout not in ("companion", "typed_value"):
        raise ValueError(
            f"invalid write.variant.shred.layout: {shred_layout!r} "
            "(expected 'companion' or 'typed_value')")
    spec_shred_ddl = None
    if (shred_layout == "typed_value" and fmt == "parquet"
            and var_enc != "json" and getattr(schema, "shredded", ())):
        from .variant_shred import shredding_ddl

        spec_shred_ddl = shredding_ddl(schema.shredded)
    if spec_shred_ddl is None:
        for sp in getattr(schema, "shredded", ()):
            if sp.column in df.columns and fmt == "parquet":
                from .transforms import VariantExtract

                df = df.withColumn(
                    sp.stats_name,
                    VariantExtract(sp.path, sp.type).spark_col(
                        F.col(sp.column), "variant"))
    for f in schema.fields:
        if f.type == "variant" and f.name in df.columns:
            if fmt != "parquet" or var_enc == "json":
                df = df.withColumn(f.name, F.col(f.name).cast("string"))
    from .locations import new_data_dir

    out_dir = new_data_dir(table)
    writer_opts = {}
    max_records = props.get("write.max-records-per-file")
    if max_records:
        writer_opts["maxRecordsPerFile"] = str(max_records)
    if fmt == "parquet":
        # reference TableProperties.java write.parquet.* -> parquet writer
        # options (Spark forwards unknown options to the Hadoop conf, incl.
        # per-column `parquet.bloom.filter.enabled#col`)
        codec = props.get("write.parquet.compression-codec")
        if codec:
            writer_opts["compression"] = codec.lower()
        rg = props.get("write.parquet.row-group-size-bytes")
        if rg:
            writer_opts["parquet.block.size"] = str(rg)
        pg = props.get("write.parquet.page-size-bytes")
        if pg:
            writer_opts["parquet.page.size"] = str(pg)
        mb = props.get("write.parquet.bloom-filter-max-bytes")
        if mb:
            writer_opts["parquet.bloom.filter.max.bytes"] = str(mb)
        # per-column knobs (TableProperties.java:184-199 -> parquet-mr
        # writer option names)
        for pref, opt in (
                ("write.parquet.bloom-filter-enabled.column.",
                 "parquet.bloom.filter.enabled"),
                ("write.parquet.bloom-filter-ndv.column.",
                 "parquet.bloom.filter.expected.ndv"),
                ("write.parquet.bloom-filter-fpp.column.",
                 "parquet.bloom.filter.fpp")):
            for k, v in props.items():
                if k.startswith(pref):
                    writer_opts[f"{opt}#{k[len(pref):]}"] = str(v)

    pnames = [f.name for f in spec.fields]
    ptypes = dict(spec.partition_type(schema))
    dist = distribution or props.get("write.distribution-mode", "hash")

    # encrypted writes prefer Spark's NATIVE parquet writer with
    # parquet-mr modular encryption (jvm_crypto) — identical write plan
    # to plaintext, whole-stage codegen, no Arrow transfer; the
    # mapInPandas pyarrow writer below is the fallback
    jvm_enc = False
    if enc is not None:
        from . import jvm_crypto

        if jvm_crypto.available(table.spark):
            writer_opts.update(jvm_crypto.writer_options(
                enc[0], enc[1], enc[2]))
            jvm_enc = True
    py_enc = enc is not None and not jvm_enc
    if spec_shred_ddl is not None and py_enc:
        raise NotImplementedError(
            "write.variant.shred.layout=typed_value needs Spark's native "
            "parquet writer; the pyarrow encrypted-write fallback cannot "
            "produce the shredding layout — enable the JVM crypto path "
            "or keep the companion layout")
    if py_enc and var_enc != "json" and any(
            f.type == "variant" for f in schema.fields):
        # Spark's NATIVE writer handles variant + modular encryption
        # together (the jvm_enc path above); the pyarrow fallback has no
        # native-variant encoder. JSON-text encoding casts the column to
        # string before the write, so it stays pyarrow-writable.
        raise NotImplementedError(
            "encrypted tables with native-variant columns need the JVM "
            "crypto path (unavailable in this session); set "
            "write.variant.encoding=json for the pyarrow fallback")
    from .variant_shred import shredding_write_conf

    if spec.fields:
        pcols = []
        for pf in spec.fields:
            src = schema.field_by_id(pf.source_id)
            pcols.append(pf.transform.spark_col(F.col(src.name), src.type).alias(f"_p_{pf.name}"))
        df2 = df.select("*", *pcols)
        pby = [f"_p_{n}" for n in pnames]
        # explicit shuffle width: a column-only repartition lets AQE
        # coalesce the exchange to ONE task on a small batch, and that task
        # then writes every dynamic partition directory serially (observed:
        # 2294 day-dirs, 30s). Pinning N keeps the fanout parallel while
        # hash routing still yields one file per partition value.
        try:
            nparts = int(table.spark.conf.get("spark.sql.shuffle.partitions",
                                              "200"))
        except (TypeError, ValueError):
            nparts = 200
        nparts = max(nparts, 1)
        if dist == "hash":
            df2 = df2.repartition(nparts, *[F.col(c) for c in pby])
        elif dist == "range":
            df2 = df2.repartitionByRange(nparts, *[F.col(c) for c in pby])
        df2 = _apply_sort_order(df2, metadata)
        if py_enc:
            paths, partitions = _write_encrypted_files(
                df2, out_dir, pnames, enc, writer_opts, max_records)
        else:
            w = df2.write.mode("append")
            for k, v in writer_opts.items():
                w = w.option(k, v)
            with shredding_write_conf(table.spark, spec_shred_ddl):
                w.partitionBy(*pby).format(fmt).save(out_dir)
    else:
        dfw = _apply_sort_order(df, metadata)
        if py_enc:
            paths, partitions = _write_encrypted_files(
                dfw, out_dir, [], enc, writer_opts, max_records)
        else:
            w = dfw.write.mode("append")
            for k, v in writer_opts.items():
                w = w.option(k, v)
            with shredding_write_conf(table.spark, spec_shred_ddl):
                w.format(fmt).save(out_dir)

    if not py_enc:
        suffixes = (".parquet",) if fmt == "parquet" else (f".{fmt}",)
        paths, partitions = [], {}
        # manifests record file:-family paths in PLAIN form (one spelling
        # per file, whatever the warehouse URI style); genuinely remote
        # schemes keep their scheme
        out_plain = _io.strip_scheme(out_dir)
        for p in _io.resolve_io(out_dir, table.spark).walk_files(out_dir):
            if p.endswith(suffixes):
                p = _io.strip_scheme(p)
                paths.append(p)
                if pnames:
                    partitions[p] = partition_values_from_path(
                        os.path.relpath(p, out_plain), pnames, ptypes
                    )
    from .manifests import metrics_config

    mcfg = metrics_config(props, schema)
    if fmt == "parquet":
        ropts = None
        if enc is not None and jvm_enc:
            from . import jvm_crypto

            ropts = jvm_crypto.reader_options(enc[0], enc[1])
        files = collect_data_files(paths, schema, spec, partitions, content,
                                   spark=table.spark,
                                   decryption=enc[1] if enc else None,
                                   metrics=mcfg, engine_written=True,
                                   reader_options=ropts)
    else:
        files = _collect_files_spark(table.spark, paths, fmt, schema, spec,
                                     partitions, content, metrics=mcfg)
    if enc is not None:
        from .parquet_crypto import encode_key_metadata

        km = encode_key_metadata(enc[0])
        files = [replace(f, key_metadata=km) for f in files]
    # files written through _apply_sort_order carry the order they were
    # clustered by (spec manifest field 140); unsorted tables stay None
    soid = (metadata.default_sort_order_id
            if metadata.sort_order.is_sorted else None)
    files = [replace(f, write_schema_id=schema.schema_id,
                     sort_order_id=soid)
             for f in files if f.record_count > 0]
    return files


def _collect_files_spark(spark, paths: list, fmt: str, schema, spec,
                         partitions: dict, content: int,
                         metrics: Optional[dict] = None) -> list:
    """Per-file metrics for non-parquet formats (ORC/Avro lack cheap
    footer access from Python) as ONE Spark aggregation grouped by
    `_metadata.file_path` — the distributed twin of the footer pass
    (reference collects ORC metrics in OrcMetrics.java the same way)."""
    from .manifests import DataFile
    from .relations import files_df

    sizes = {p: _io.file_size(p) for p in paths}
    sdf = files_df(spark, fmt, schema.to_spark(), paths, sizes)
    prim = [f for f in schema.fields
            if isinstance(f.type, str) and f.type != "binary"
            and not f.type.startswith("fixed")]
    aggs = [F.count(F.lit(1)).alias("__cnt")]
    for f in prim:
        aggs.append(F.min(f.name).alias(f"__mn_{f.name}"))
        aggs.append(F.max(f.name).alias(f"__mx_{f.name}"))
        aggs.append(F.sum(F.col(f.name).isNull().cast("long")).alias(f"__nu_{f.name}"))
        if f.type in ("float", "double"):
            aggs.append(F.sum(F.isnan(F.col(f.name)).cast("long")).alias(f"__na_{f.name}"))
    rows = (sdf.groupBy(
        _io.decode_spark_path_col(F.col("_metadata.file_path"), paths=paths)
        .alias("__fp"))
        .agg(*aggs).collect())
    from .manifests import apply_metrics_config

    ntype = {f.name: f.type for f in prim}
    out = []
    for r in rows:
        d = r.asDict()
        path = d["__fp"]
        stats = {}
        for f in prim:
            stats[f.name] = (d.get(f"__mn_{f.name}"), d.get(f"__mx_{f.name}"),
                             d.get(f"__nu_{f.name}"), d.get(f"__na_{f.name}"),
                             d["__cnt"])
        stats = apply_metrics_config(stats, ntype, metrics)
        out.append(DataFile(
            file_path=path,
            file_format=fmt,
            content=content,
            spec_id=spec.spec_id,
            partition=dict(partitions.get(path) or {}),
            record_count=d["__cnt"],
            file_size_in_bytes=sizes.get(path) or _io.file_size(path),
            stats=stats,
        ))
    return out


def _write_encrypted_files(df: DataFrame, out_dir: str, pnames: list,
                           enc: tuple, writer_opts: dict,
                           max_records) -> tuple:
    """Executor-side encrypted parquet writer (parquet modular
    encryption): one mapInPandas pass writes rolling files per partition
    value per task — the clustered-writer shape — with every leaf column
    and footer encrypted under per-file data keys wrapped by the table
    master key (parquet_crypto). Returns (paths, partitions) exactly
    like the native-writer walk; the driver only ever sees one row per
    WRITTEN FILE, so the path scales like the plain writer.

    Spark's native parquet writer has no modular-encryption hook from
    Python, which is why this path exists; row-group sizing options are
    approximated by pyarrow defaults (documented)."""
    from pyspark.sql import types as T

    key_id, key, dek_bits = enc
    pby = [f"_p_{n}" for n in pnames]
    data_cols = [c for c in df.columns if c not in pby]

    # exact arrow schema Spark would hand a pandas UDF for the data
    # columns; timestamps go tz-naive so write-side (session-local naive
    # pandas) and decode-side round-trip without wall-clock shifts
    from pyspark.sql.pandas.types import to_arrow_schema

    import pyarrow as pa

    arrow_schema = to_arrow_schema(
        T.StructType([df.schema[c] for c in data_cols]))
    arrow_schema = pa.schema([
        pa.field(f.name, pa.timestamp(f.type.unit))
        if pa.types.is_timestamp(f.type) and f.type.tz is not None else f
        for f in arrow_schema])

    out_schema = T.StructType(
        [T.StructField("file_path", T.StringType())]
        + [df.schema[c] for c in pby])
    compression = writer_opts.get("compression", "snappy")
    roll_at = int(max_records) if max_records else None

    def task(batches):
        import os as _os
        import uuid as _u
        from io import BytesIO

        import pandas as pd
        import pyarrow.parquet as pq

        from . import io as _eio
        from . import parquet_crypto as PC

        writers = {}  # partition tuple -> [writer, upload, path, rows, sink, ptup]

        def new_writer(ptup):
            name = f"part-{_u.uuid4().hex}.parquet"
            path = _os.path.join(_eio.strip_scheme(out_dir), name)
            full = out_dir.rstrip("/") + "/" + name
            io_ = _eio.resolve_io(full)
            fep = PC.encryption_properties(key, key_id, arrow_schema,
                                           dek_bits)
            if io_ is _eio._LOCAL:
                _os.makedirs(_os.path.dirname(path), exist_ok=True)
                sink, upload = path, None
            else:
                sink, upload = BytesIO(), (io_, full)
            w = pq.ParquetWriter(sink, arrow_schema,
                                 compression=compression,
                                 encryption_properties=fep)
            return [w, upload, path, 0, sink, ptup]

        def close_writer(st):
            w, upload, path, _rows, sink, ptup = st
            w.close()
            if upload is not None:
                io_, full = upload
                io_.write_bytes(full, sink.getvalue())
            results.append((path, ptup))

        results = []

        def write_group(ptup, g):
            st = writers.get(ptup)
            if st is None:
                st = writers[ptup] = new_writer(ptup)
            tbl = pa.Table.from_pandas(g[data_cols], schema=arrow_schema,
                                       preserve_index=False)
            w = st[0]
            if roll_at:
                off = 0
                while off < tbl.num_rows:
                    room = roll_at - st[3]
                    if room <= 0:  # writer filled by an earlier group
                        close_writer(st)
                        st = writers[ptup] = new_writer(ptup)
                        w = st[0]
                        room = roll_at
                    piece = tbl.slice(off, room)
                    w.write_table(piece)
                    st[3] += piece.num_rows
                    off += piece.num_rows
                    if st[3] >= roll_at and off < tbl.num_rows:
                        close_writer(st)
                        st = writers[ptup] = new_writer(ptup)
                        w = st[0]
            else:
                w.write_table(tbl)
                st[3] += tbl.num_rows

        for pdf in batches:
            if len(pdf) == 0:
                continue
            if pby:
                for ptup, g in pdf.groupby(pby, dropna=False, sort=False):
                    if not isinstance(ptup, tuple):
                        ptup = (ptup,)
                    write_group(ptup, g)
            else:
                write_group((), pdf)
        for st in list(writers.values()):
            close_writer(st)
        rows = [(path, *ptup) for path, ptup in results]
        yield pd.DataFrame(rows, columns=["file_path"] + pby)

    res = df.mapInPandas(task, out_schema).collect()
    paths = [r["file_path"] for r in res]
    partitions = {r["file_path"]: {n: r[f"_p_{n}"] for n in pnames}
                  for r in res}
    return paths, partitions


def _apply_sort_order(df: DataFrame, metadata: TableMetadata) -> DataFrame:
    order = metadata.sort_order
    if not order.is_sorted:
        return df
    cols = []
    schema = metadata.schema
    for sf in order.fields:
        src = schema.field_by_id(sf.source_id)
        c = sf.transform.spark_col(F.col(src.name), src.type)
        c = c.asc_nulls_last() if sf.direction == "asc" and sf.null_order == "nulls-last" else (
            c.asc_nulls_first() if sf.direction == "asc" else (
                c.desc_nulls_last() if sf.null_order == "nulls-last" else c.desc_nulls_first()
            )
        )
        cols.append(c)
    return df.sortWithinPartitions(*cols)


# ---------------------------------------------------------------------------
# snapshot producers
# ---------------------------------------------------------------------------


def _new_snapshot_id() -> int:
    return random.getrandbits(62)


class SnapshotProducer:
    """Optimistic-commit base. Subclasses implement `_apply(base) -> (manifests,
    operation, summary)` returning the FULL new manifest list."""

    operation = OP_APPEND

    def __init__(self, table, branch: str = MAIN_BRANCH, stage_only: bool = False):
        self.table = table
        self.branch = branch
        # write-audit-publish: commit the snapshot into the log without
        # advancing any ref; publish_changes cherry-picks it later
        self.stage_only = stage_only
        self.snapshot_id = _new_snapshot_id()

    def _apply(self, base: TableMetadata, seq: int):
        raise NotImplementedError

    def commit(self) -> Snapshot:
        last_err = None
        props = self.table.metadata.properties
        retries = int(props.get("commit.retry.num-retries", COMMIT_RETRIES))
        min_wait = int(props.get("commit.retry.min-wait-ms", 100))
        max_wait = int(props.get("commit.retry.max-wait-ms", 60_000))
        for attempt in range(1 + retries):
            base = self.table.ops.refresh() or self.table.metadata
            base_version = self.table.ops.current_version()
            seq = base.last_sequence_number + 1
            # table-import producers carry entries with preserved source
            # sequence numbers up to `sequence_override`; the snapshot and
            # the table's last_sequence_number jump to that high-water mark
            ov = getattr(self, "sequence_override", None)
            if ov is not None and ov > seq:
                seq = ov
            next_row_id = self._assign_first_row_ids(base.next_row_id)
            # catalog-level metadata_key => the whole metadata tree
            # encrypts: metadata.json via EncryptedFileIO, and every
            # manifest/list this commit writes as AES GCM Streams under
            # per-file keys chained through `encryption-keys`
            # (StandardEncryptionManager shape; see encryption.py)
            mc = None
            mkey = getattr(self.table.ops, "metadata_key", None)
            if mkey is not None:
                from .encryption import ManifestCrypto
                from .manifests import manifest_encryption_ctx

                mc = ManifestCrypto(mkey, base.encryption_keys)
                with manifest_encryption_ctx(mc):
                    manifests, operation, summary = self._apply(base, seq)
                    ml_path = write_manifest_list(
                        self.table.location, self.snapshot_id, manifests,
                        relative=base.relative_paths)
            else:
                manifests, operation, summary = self._apply(base, seq)
                ml_path = write_manifest_list(
                    self.table.location, self.snapshot_id, manifests,
                    relative=base.relative_paths)
            # exact totals from the FINAL manifest list's live counts
            # (SnapshotSummary.java:34-55) — list rows carry added/existing
            # per-manifest, so this is O(manifests), no entry reads; the
            # delta-accounted total-records stays (MoR deletes must not
            # reduce it), and the manifest-list number wins when both exist
            summary = dict(summary)
            summary["total-data-files"] = str(sum(
                mf.added_files_count + mf.existing_files_count
                for mf in manifests if mf.content == 0))
            summary["total-delete-files"] = str(sum(
                mf.added_files_count + mf.existing_files_count
                for mf in manifests if mf.content == 1))
            summary["total-records"] = str(sum(
                mf.added_rows_count + mf.existing_rows_count
                for mf in manifests if mf.content == 0))
            parent = base.snapshot_for_ref(self.branch)
            # history-replaying importers preserve source commit times so
            # time travel by timestamp matches the source table
            now = (getattr(self, "timestamp_override", None)
                   or int(time.time() * 1000))
            snap = Snapshot(
                snapshot_id=self.snapshot_id,
                parent_snapshot_id=parent.snapshot_id if parent else None,
                sequence_number=seq,
                timestamp_ms=now,
                operation=operation,
                manifest_list=ml_path,
                summary=summary,
                schema_id=base.current_schema_id,
                key_id=getattr(mc, "last_list_key_id", None),
            )
            refs = dict(base.refs)
            if not self.stage_only:
                refs[self.branch] = SnapshotRef(self.snapshot_id, "branch")
            new_meta = replace(
                base,
                last_sequence_number=seq,
                snapshots=base.snapshots + (snap,),
                refs=refs,
                snapshot_log=base.snapshot_log + ((now, self.snapshot_id),)
                if (self.branch == MAIN_BRANCH and not self.stage_only)
                else base.snapshot_log,
                next_row_id=next_row_id,
                encryption_keys=base.encryption_keys
                + tuple(mc.added_entries) if mc else base.encryption_keys,
            )
            try:
                self.table.ops.commit(base_version, new_meta)
                self.table.metadata = new_meta
                self._maybe_export_reference(props)
                # MetricsReporter loop, write side (reference
                # CommitReport.java / CommitMetricsResult): every commit
                # lands in the bounded in-memory sink next to the scan
                # reports; loss-tolerant — never fails the commit
                try:
                    from .metrics_reporting import SINK

                    ident = getattr(self.table, "identifier", None)
                    if ident:
                        SINK.report(ident, "commit-report", {
                            "table-name": ident,
                            "snapshot-id": snap.snapshot_id,
                            "sequence-number": snap.sequence_number,
                            "operation": operation,
                            "metrics": {
                                "attempts": {"unit": "count",
                                             "value": attempt + 1},
                                "added-data-files": {
                                    "unit": "count", "value": int(
                                        summary.get("added-data-files",
                                                    "0"))},
                                "total-data-files": {
                                    "unit": "count", "value": int(
                                        summary.get("total-data-files",
                                                    "0"))},
                                "total-records": {
                                    "unit": "count", "value": int(
                                        summary.get("total-records",
                                                    "0"))},
                            },
                        })
                except Exception:
                    pass
                return snap
            except CommitFailedException as e:
                last_err = e
                if attempt < retries:  # no dead sleep before the final raise
                    # jittered exponential backoff, capped at max-wait,
                    # before re-validating against the new base
                    # (SnapshotProducer retry via Tasks.retry;
                    # commit.retry.* from TableProperties.java)
                    wait = min(min_wait * (2 ** attempt), max_wait)
                    time.sleep(wait / 1000.0 * random.uniform(0.5, 1.0))
                continue
        raise CommitFailedException(
            f"commit failed after {1 + retries} attempts "
            f"({retries} retries): {last_err}")

    # -- isolation-level conflict validation ---------------------------------
    # reference MergingSnapshotProducer.validateAddedDataFiles /
    # validateNoNewDeleteFiles + SparkWriteConf isolation levels
    # (write.{delete,update,merge}.isolation-level, default serializable):
    # re-run on EVERY commit retry against the refreshed base, so a CAS
    # loser re-checks the snapshots that beat it.
    validate_from_snapshot_id: Optional[int] = None
    isolation: Optional[str] = None  # "serializable" | "snapshot" | None
    conflict_filter = None  # unbound Expr the operation planned with
    validate_new_deletes_for: frozenset = frozenset()  # rewritten/read files

    def _concurrent_snapshots(self, base: TableMetadata) -> list:
        """Branch ancestry from the refreshed head back (exclusive) to the
        snapshot the operation planned against; empty when nothing
        committed in between (the single-writer fast path)."""
        head = base.snapshot_for_ref(self.branch)
        if head is None or head.snapshot_id == self.validate_from_snapshot_id:
            return []
        snaps = {s.snapshot_id: s for s in base.snapshots}
        chain, sid = [], head.snapshot_id
        while sid is not None and sid != self.validate_from_snapshot_id:
            s = snaps.get(sid)
            if s is None:
                raise ValidationException(
                    "cannot validate concurrent operations: history between "
                    "the planned snapshot and the current head was expired")
            chain.append(s)
            sid = s.parent_snapshot_id
        if sid is None and self.validate_from_snapshot_id not in (None, -1):
            raise ValidationException(
                "cannot validate concurrent operations: the planned "
                f"snapshot {self.validate_from_snapshot_id} is no longer an "
                "ancestor of the branch head (rollback or cherry-pick "
                "committed concurrently)")
        return chain

    def _validate_concurrent(self, base: TableMetadata):
        # validate_from_snapshot_id -1 = the operation planned against an
        # EMPTY table: every snapshot on the branch is concurrent
        if self.isolation is None or self.validate_from_snapshot_id is None:
            return
        chain = self._concurrent_snapshots(base)
        if not chain:
            return
        bound = None
        if self.conflict_filter is not None and not isinstance(
                self.conflict_filter, E.AlwaysTrue):
            bound = E.bind(E.rewrite_not(self.conflict_filter),
                           base.schema)
        proj_cache: dict = {}

        def might_match(f):
            """Conservative could-this-file-hold-matching-rows (inclusive
            partition projection + inclusive metrics eval — the reference's
            InclusiveMetricsEvaluator use)."""
            if bound is None:
                return True
            spec_id = f.spec_id
            if spec_id not in proj_cache:
                proj_cache[spec_id] = E.project(
                    bound, base.spec_by_id(spec_id), inclusive=True)
            if not E.evaluate(proj_cache[spec_id], f.partition):
                return False
            return E.inclusive_metrics_eval(
                bound, E.FileStats(f.record_count, f.stats))

        serializable = self.isolation == "serializable"
        for s in chain:
            for mf in read_manifest_list(s.manifest_list,
                                         self.table.location):
                if mf.added_snapshot_id != s.snapshot_id:
                    continue
                spec = base.spec_by_id(mf.spec_id)
                for e in read_manifest(mf.path, base.schema, spec):
                    if e.status != ADDED or e.snapshot_id != s.snapshot_id:
                        continue
                    f = e.file
                    if mf.content == 0:
                        # concurrently ADDED data: only serializable cares
                        # (snapshot isolation permits new matching rows)
                        if serializable and might_match(f):
                            raise ValidationException(
                                f"serializable isolation violation: "
                                f"snapshot {s.snapshot_id} added data file "
                                f"{f.file_path} that may match the "
                                f"operation's filter")
                    elif self.validate_new_deletes_for:
                        # concurrently ADDED delete files that may target
                        # rows this operation read/rewrites: committing
                        # would lose the concurrent delete (CoW rewrite
                        # resurrects rows; MoR update re-inserts them)
                        if f.content == EQUALITY_DELETES:
                            hit = True  # key sets are opaque to the filter
                        elif f.referenced_data_file is not None:
                            hit = (f.referenced_data_file
                                   in self.validate_new_deletes_for)
                        else:
                            st = f.stats.get("file_path")
                            if st and st[0] is not None and st[1] is not None:
                                hit = any(st[0] <= p <= st[1] for p in
                                          self.validate_new_deletes_for)
                            else:
                                hit = True  # no bounds -> conservative
                        if hit:
                            raise ValidationException(
                                f"concurrent delete conflict: snapshot "
                                f"{s.snapshot_id} added delete file "
                                f"{f.file_path} that may target rows this "
                                f"operation rewrites")

    def _maybe_export_reference(self, props: dict):
        """Opt-in continuous interop: with
        `write.metadata.reference-layout.enabled=true`, every successful
        commit refreshes `<table>/metadata-export/current/` with
        reference-shaped metadata (Avro manifest list/manifests) for the
        new snapshot, so an external apache/iceberg reader can always
        open the engine table directly from disk — the file-based twin
        of the REST adapter's loadTable export. Export failures never
        unwind the commit (it already stands); they surface as a loud
        warning."""
        if str(props.get("write.metadata.reference-layout.enabled",
                         "false")).lower() != "true":
            return
        import shutil as _sh
        import sys as _sys
        import uuid as _uuid2

        from .sources.iceberg import export_reference_metadata

        root = os.path.join(self.table.location, "metadata-export")
        cur = os.path.join(root, "current")
        try:
            # exported metadata embeds ABSOLUTE paths, so each export
            # gets its own immutable dir and `current` is a symlink
            # swapped atomically (rename over the link)
            dest = os.path.join(root, f"exp-{_uuid2.uuid4().hex}")
            export_reference_metadata(self.table, dest)
            link_tmp = os.path.join(root, f".lnk-{_uuid2.uuid4().hex}")
            os.symlink(dest, link_tmp)
            prev = os.path.realpath(cur) if os.path.islink(cur) else None
            os.replace(link_tmp, cur)
            if prev and os.path.isdir(prev):  # retire the old export
                _sh.rmtree(prev, ignore_errors=True)
        except Exception as e:  # noqa: BLE001 — commit already stands
            print(f"WARNING: reference-layout export failed for "
                  f"{self.table.location}: {e}", file=_sys.stderr)

    # -- helpers ------------------------------------------------------------
    # attributes that may hold this producer's pending *added* data files
    _ADDED_ATTRS = ("files", "added", "added_data")

    def _assign_first_row_ids(self, start: int) -> int:
        """Row lineage (format/spec.md:460-546): added data files inherit
        `first_row_id` from the table's `next_row_id` at commit time; rows
        get `_row_id = first_row_id + position` at read. Idempotent across
        commit retries (re-derived from the pristine file list each
        attempt, since a new base may carry a different next_row_id).
        Files that already carry a first_row_id (compaction rewrites
        preserving lineage) keep it and do not consume new ids.
        """
        if not hasattr(self, "_lineage_orig"):
            self._lineage_orig = {}
        nri = start
        for attr in self._ADDED_ATTRS:
            lst = getattr(self, attr, None)
            if not lst:
                continue
            orig = self._lineage_orig.setdefault(attr, list(lst))
            out = []
            for f in orig:
                if f.content == DATA and f.first_row_id is None:
                    f = replace(f, first_row_id=nri)
                    nri += f.record_count
                elif f.content == DATA and f.first_row_id is not None:
                    # files arriving WITH lineage (imports, compaction):
                    # next_row_id must clear their range or a later
                    # commit would double-assign row ids
                    nri = max(nri, f.first_row_id + f.record_count)
                out.append(f)
            setattr(self, attr, out)
        return nri

    def _base_manifests(self, base: TableMetadata):
        snap = base.snapshot_for_ref(self.branch)
        if snap is None:
            return []
        return read_manifest_list(snap.manifest_list)

    def _summary(self, base: TableMetadata, added=(), removed=(), added_deletes=()):
        s = {
            "added-data-files": str(len([f for f in added if f.content == DATA])),
            "added-delete-files": str(len(list(added_deletes))),
            "deleted-data-files": str(len(list(removed))),
            "added-records": str(sum(f.record_count for f in added)),
            "deleted-records": str(sum(f.record_count for f in removed)),
        }
        prev = base.snapshot_for_ref(self.branch)
        prev_total = int(prev.summary.get("total-records", "0")) if prev else 0
        s["total-records"] = str(
            prev_total
            + sum(f.record_count for f in added if f.content == DATA)
            - sum(f.record_count for f in removed)
        )
        self._partition_summaries(base, s, added, removed, added_deletes)
        return s

    @staticmethod
    def _partition_summaries(base, s, added, removed, added_deletes):
        """Per-partition change metrics in the snapshot summary
        (SnapshotSummary.java:58-59,203: `changed-partition-count` always;
        `partitions.<k=v/...>` rows + `partition-summaries-included=true`
        only when the changed-partition count stays within
        `write.summary.partition-limit` — the cap exists so a 100k-
        partition commit doesn't bloat every metadata.json)."""
        changed: dict = {}

        def bump(f, files_key, records_key):
            p = "/".join(f"{k}={v}" for k, v in (f.partition or {}).items())
            if not p:
                return
            m = changed.setdefault(p, {})
            m[files_key] = m.get(files_key, 0) + 1
            if records_key:
                m[records_key] = m.get(records_key, 0) + f.record_count

        for f in added:
            if f.content == DATA:
                bump(f, "added-data-files", "added-records")
        for f in removed:
            bump(f, "deleted-data-files", "deleted-records")
        for f in added_deletes:
            bump(f, "added-delete-files", "added-position-deletes")
        if not changed:
            return
        s["changed-partition-count"] = str(len(changed))
        limit = int(base.properties.get("write.summary.partition-limit", 0))
        if 0 < len(changed) <= limit:
            s["partition-summaries-included"] = "true"
            for p, m in changed.items():
                s["partitions." + p] = ",".join(
                    f"{k}={v}" for k, v in sorted(m.items()))


class FastAppend(SnapshotProducer):
    """core/.../FastAppend.java — new manifest only, no rewrites."""

    def __init__(self, table, files: list, branch: str = MAIN_BRANCH,
                 summary_extra: Optional[dict] = None, stage_only: bool = False):
        super().__init__(table, branch, stage_only=stage_only)
        self.files = files
        self.summary_extra = summary_extra or {}

    def _apply(self, base: TableMetadata, seq: int):
        schema, spec = base.schema, base.spec
        manifests = self._base_manifests(base)
        if self.files:
            entries = [
                ManifestEntry(ADDED, self.snapshot_id, seq, f) for f in self.files
            ]
            m = write_manifest(self.table.location, entries, schema, spec, DATA,
                               relative=base.relative_paths)
            manifests = manifests + [m]
        manifests = maybe_merge_manifests(self.table, base, manifests, self.snapshot_id)
        summary = {**self._summary(base, added=self.files), **self.summary_extra}
        return manifests, OP_APPEND, summary


class Overwrite(SnapshotProducer):
    """Remove files (by path set or strict filter) and add replacements in one
    commit. BaseOverwriteFiles.java / BaseReplacePartitions.java."""

    def __init__(self, table, added: list, removed_paths: Optional[set] = None,
                 operation: str = OP_OVERWRITE, preserve_seq_for_added: Optional[int] = None,
                 branch: str = MAIN_BRANCH, validate_removed_exist: bool = True,
                 added_deletes: Optional[list] = None,
                 summary_extra: Optional[dict] = None,
                 removed_delete_refs: Optional[set] = None,
                 isolation: Optional[str] = None,
                 conflict_filter=None,
                 validate_from_snapshot_id: Optional[int] = None,
                 validate_new_deletes_for=()):
        super().__init__(table, branch)
        self.added = added
        self.added_deletes = added_deletes or []
        self.removed_paths = set(removed_paths or ())
        self.op = operation
        self.preserve_seq = preserve_seq_for_added
        self.validate_removed_exist = validate_removed_exist
        self.summary_extra = summary_extra or {}
        self.removed_delete_refs = set(removed_delete_refs or ())
        self.isolation = isolation
        self.conflict_filter = conflict_filter
        self.validate_from_snapshot_id = validate_from_snapshot_id
        self.validate_new_deletes_for = frozenset(validate_new_deletes_for)

    def _apply(self, base: TableMetadata, seq: int):
        self._validate_concurrent(base)
        location = self.table.location
        manifests = self._base_manifests(base)
        if self.removed_delete_refs:
            manifests = _remove_delete_entries(
                base, manifests, self.removed_delete_refs, location)
        removed_files = []
        new_list = []
        seen = set()
        for m in manifests:
            spec = base.spec_by_id(m.spec_id)
            # read with the schema the manifest tracks stats for
            entries = read_manifest(m.path, base.schema, spec)
            hit = [e for e in entries if e.file.file_path in self.removed_paths]
            if not hit:
                new_list.append(m)
                continue
            removed_files.extend(e.file for e in hit)
            seen.update(e.file.file_path for e in hit)
            survivors = [
                ManifestEntry(EXISTING, e.snapshot_id, e.sequence_number, e.file)
                for e in entries
                if e.file.file_path not in self.removed_paths and e.status != DELETED
            ]
            if survivors:
                content = DATA if m.content == 0 else POSITION_DELETES
                nm = write_manifest(location, survivors, base.schema, spec, content,
                                    relative=base.relative_paths)
                new_list.append(nm)
        if self.validate_removed_exist and self.removed_paths - seen:
            raise ValidationException(
                f"files to replace no longer exist: {sorted(self.removed_paths - seen)[:3]}"
            )
        add_seq = self.preserve_seq if self.preserve_seq is not None else seq
        if self.added:
            entries = [ManifestEntry(ADDED, self.snapshot_id, add_seq, f) for f in self.added]
            new_list.append(write_manifest(location, entries, base.schema, base.spec, DATA,
                                           relative=base.relative_paths))
        if self.added_deletes:
            entries = [
                ManifestEntry(ADDED, self.snapshot_id, seq, f) for f in self.added_deletes
            ]
            new_list.append(
                write_manifest(location, entries, base.schema, base.spec, POSITION_DELETES,
                               relative=base.relative_paths)
            )
        summary = {**self._summary(base, added=self.added, removed=removed_files,
                                   added_deletes=self.added_deletes),
                   **self.summary_extra}
        return new_list, self.op, summary


def _remove_delete_entries(base: TableMetadata, manifests: list, refs: set,
                           location: str) -> list:
    """Drop delete entries matching (file_path, referenced_data_file)
    pairs, rewriting only the delete manifests that contain them. Raises
    when a requested pair no longer exists (concurrent replacement)."""
    seen = set()
    out = []
    for mf in manifests:
        if mf.content != 1:
            out.append(mf)
            continue
        mspec = base.spec_by_id(mf.spec_id)
        entries = read_manifest(mf.path, base.schema, mspec)
        hit = [e for e in entries
               if (e.file.file_path, e.file.referenced_data_file) in refs]
        if not hit:
            out.append(mf)
            continue
        seen.update((e.file.file_path, e.file.referenced_data_file)
                    for e in hit)
        survivors = [
            ManifestEntry(EXISTING, e.snapshot_id, e.sequence_number, e.file)
            for e in entries
            if (e.file.file_path, e.file.referenced_data_file) not in refs
            and e.status != DELETED]
        if survivors:
            out.append(write_manifest(location, survivors, base.schema,
                                      mspec, POSITION_DELETES,
                                      relative=base.relative_paths))
    missing = refs - seen
    if missing:
        raise ValidationException(
            f"delete entries to replace no longer exist: {sorted(missing)[:3]}")
    return out


class RowDelta(SnapshotProducer):
    """Merge-on-read commit: new data files + delete files in one snapshot.
    api/.../RowDelta.java, core/.../BaseRowDelta.java.

    `removed_delete_refs` removes SUPERSEDED delete entries by
    (file_path, referenced_data_file) pair in the same commit — the
    rowDelta.removeDeletes path a DV writer needs: a new deletion vector
    must replace the previous file-scoped deletes of its data file
    (format/spec.md:1384), and pair-level matching leaves other vectors
    in a shared Puffin container untouched."""

    def __init__(self, table, added_data: list, added_deletes: list,
                 branch: str = MAIN_BRANCH, referenced_files: Optional[set] = None,
                 removed_delete_refs: Optional[set] = None,
                 isolation: Optional[str] = None,
                 conflict_filter=None,
                 validate_from_snapshot_id: Optional[int] = None,
                 validate_new_deletes_for=()):
        super().__init__(table, branch)
        self.added_data = added_data
        self.added_deletes = added_deletes
        self.referenced_files = referenced_files or set()
        self.removed_delete_refs = set(removed_delete_refs or ())
        self.isolation = isolation
        self.conflict_filter = conflict_filter
        self.validate_from_snapshot_id = validate_from_snapshot_id
        self.validate_new_deletes_for = frozenset(validate_new_deletes_for)

    def _apply(self, base: TableMetadata, seq: int):
        self._validate_concurrent(base)
        location = self.table.location
        schema, spec = base.schema, base.spec
        manifests = list(self._base_manifests(base))
        if self.removed_delete_refs:
            manifests = _remove_delete_entries(
                base, manifests, self.removed_delete_refs, location)
        # validateDataFilesExist: referenced data files must still be live
        if self.referenced_files:
            live = set()
            for m in manifests:
                if m.content == 0:
                    for e in read_manifest(m.path, schema, base.spec_by_id(m.spec_id)):
                        if e.status != DELETED:
                            live.add(e.file.file_path)
            missing = self.referenced_files - live
            if missing:
                raise ValidationException(
                    f"position deletes reference missing data files: {sorted(missing)[:3]}"
                )
        if self.added_data:
            entries = [ManifestEntry(ADDED, self.snapshot_id, seq, f) for f in self.added_data]
            manifests.append(write_manifest(location, entries, schema, spec, DATA,
                                            relative=base.relative_paths))
        pos = [f for f in self.added_deletes if f.content == POSITION_DELETES]
        eq = [f for f in self.added_deletes if f.content == EQUALITY_DELETES]
        if pos:
            entries = [ManifestEntry(ADDED, self.snapshot_id, seq, f) for f in pos]
            manifests.append(write_manifest(location, entries, schema, spec, POSITION_DELETES,
                                            relative=base.relative_paths))
        if eq:
            entries = [ManifestEntry(ADDED, self.snapshot_id, seq, f) for f in eq]
            manifests.append(write_manifest(location, entries, schema, spec, EQUALITY_DELETES,
                                            relative=base.relative_paths))
        summary = self._summary(base, added=self.added_data, added_deletes=self.added_deletes)
        return manifests, OP_OVERWRITE, summary


def maybe_merge_manifests(table, base: TableMetadata, manifests: list, snapshot_id: int,
                          force: bool = False) -> list:
    """Merge small data manifests when there are too many
    (MergingSnapshotProducer/MergeAppend behavior; honors the
    commit.manifest-merge.enabled / commit.manifest.min-count-to-merge
    table properties like core/.../TableProperties.java)."""
    data_manifests = [m for m in manifests if m.content == 0]
    other = [m for m in manifests if m.content != 0]
    props = base.properties or {}
    enabled = str(props.get("commit.manifest-merge.enabled", "true")).lower() == "true"
    min_count = int(props.get("commit.manifest.min-count-to-merge", MANIFEST_MERGE_MIN))
    if not force and (not enabled or len(data_manifests) <= min_count):
        return manifests
    by_spec: dict = {}
    for m in data_manifests:
        by_spec.setdefault(m.spec_id, []).append(m)
    merged = []
    for spec_id, ms in by_spec.items():
        spec = base.spec_by_id(spec_id)
        entries = []
        for m in ms:
            for e in read_manifest(m.path, base.schema, spec):
                if e.status != DELETED:
                    entries.append(ManifestEntry(EXISTING, e.snapshot_id, e.sequence_number, e.file))
        # cluster by partition tuple before chunking so each merged manifest
        # covers a tight partition range — keeps manifest-list summaries
        # selective, so partition predicates skip whole manifests
        # (RewriteManifestsSparkAction clusters the same way)
        pnames = [n for n, _ in spec.partition_type(base.schema)]
        if pnames:
            def pkey(e, _names=tuple(pnames)):
                return tuple(
                    (v is None, v) for v in
                    (e.file.partition.get(n) for n in _names)
                )

            entries.sort(key=pkey)
        # chunk into ~8k-entry manifests
        CHUNK = 8192
        for i in range(0, max(len(entries), 1), CHUNK):
            chunk = entries[i : i + CHUNK]
            if chunk:
                merged.append(write_manifest(table.location, chunk, base.schema, spec, DATA,
                                             relative=base.relative_paths))
    return merged + other
