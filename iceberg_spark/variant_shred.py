"""Spec-physical parquet variant shredding for export/import interop.

The engine's OWN shredding design stores typed companion columns
(`_shred_f<fid>`, writes.py) next to the variant column — fast to write,
pyarrow-stat-collectable, and driver-green for pruning/pushdown. The
reference instead writes the parquet variant-shredding physical layout
(reference parquet/.../ParquetVariantVisitor.java,
VariantShreddingFunction.java; Parquet VariantShredding.md):

    optional group v (VARIANT) {
      required binary metadata;
      optional binary value;            -- unshredded remainder
      optional group typed_value {      -- shredded object fields
        required group <field> {
          optional binary value;        -- per-field fallback
          optional <primitive> typed_value;
        }
      }
    }

Spark 4.1 writes exactly this shape natively
(`spark.sql.variant.writeShredding.enabled` +
`spark.sql.variant.forceShreddingSchemaForTest`, the shredding-schema
plumbing behind ParquetOutputWriterWithVariantShredding) and reads it
back transparently (`spark.sql.variant.allowReadingShredded`, default
on). This module turns the engine's declared `write.variant.shred.<col>`
paths into a Spark shredding schema and transcodes data files into the
spec-physical layout on export — so a reference reader of the exported
table gets real shredding, not a plain variant column.
"""

from __future__ import annotations

import os
import uuid as _uuid

from .schema import type_to_spark

WRITE_SHRED_CONF = "spark.sql.variant.writeShredding.enabled"
FORCE_SHRED_CONF = "spark.sql.variant.forceShreddingSchemaForTest"


def _path_segments(path: str):
    """'$.a.b' -> ['a', 'b']; None for shapes the object layout cannot
    express (array indexing, root scalars)."""
    if not path.startswith("$.") or "[" in path or "]" in path:
        return None
    segs = path[2:].split(".")
    if not segs or any(not s for s in segs):
        return None
    return segs


def shredding_ddl(shredded) -> str | None:
    """Merged Spark DDL struct for every declared ShreddedPath — the
    shredding schema of the typed_value group. Paths across ALL variant
    columns merge into one struct (Spark applies one shredding schema
    per write; a column lacking a field simply stores nulls for it,
    which is valid shredding). Returns None when nothing is expressible
    (array paths are companion-column-only)."""
    tree: dict = {}
    for sp in shredded:
        segs = _path_segments(sp.path)
        if segs is None:
            continue
        node = tree
        for s in segs[:-1]:
            node = node.setdefault(s, {})
            if not isinstance(node, dict):
                break  # leaf/struct conflict: keep first declaration
        else:
            leaf = segs[-1]
            if leaf not in node:
                node[leaf] = type_to_spark(sp.type).simpleString()
    if not tree:
        return None

    def render(node) -> str:
        parts = []
        for name in sorted(node):
            v = node[name]
            t = render(v) if isinstance(v, dict) else v
            parts.append(f"`{name}`:{t}")
        return "struct<" + ",".join(parts) + ">"

    return render(tree)


def jvm_parquet_schema(spark, path: str) -> str:
    """Physical parquet message schema string via the JVM footer reader
    — pyarrow refuses footers carrying the VARIANT logical type, the JVM
    parquet-mr reader does not."""
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    inf = jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        jvm.org.apache.hadoop.fs.Path(path), hconf)
    rdr = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(inf)
    try:
        return rdr.getFooter().getFileMetaData().getSchema().toString()
    finally:
        rdr.close()


def jvm_parquet_schemas(spark, paths, max_parallel: int = 16) -> dict:
    """Batched footer probes: {path: physical schema string} ('' on any
    per-file failure). py4j calls are thread-safe (each Python thread
    gets its own gateway connection), so a pool turns N driver round
    trips into ~N/max_parallel wall-clock."""
    from concurrent.futures import ThreadPoolExecutor

    paths = list(paths)
    if not paths:
        return {}

    def probe(p):
        try:
            return p, jvm_parquet_schema(spark, p)
        except Exception:  # noqa: BLE001 — caller treats '' as unknown
            return p, ""

    if len(paths) == 1:
        return dict([probe(paths[0])])
    with ThreadPoolExecutor(min(max_parallel, len(paths))) as pool:
        return dict(pool.map(probe, paths))


def jvm_top_level_columns(spark, path: str) -> tuple:
    """Top-level physical field names via the JVM footer reader (the
    pyarrow-refusal fallback for the scan layer's per-file probes)."""
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    inf = jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        jvm.org.apache.hadoop.fs.Path(path), hconf)
    rdr = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(inf)
    try:
        sch = rdr.getFooter().getFileMetaData().getSchema()
        return tuple(sch.getFields().get(i).getName()
                     for i in range(sch.getFieldCount()))
    finally:
        rdr.close()


class shredding_write_conf:
    """Context manager: enable Spark's spec-physical shredding writer
    for the enclosed write(s), restoring the session confs after. A
    None ddl is a no-op (plain writes)."""

    def __init__(self, spark, ddl):
        self.spark, self.ddl = spark, ddl

    def __enter__(self):
        if self.ddl is None:
            return self
        self.prev_w = self.spark.conf.get(WRITE_SHRED_CONF, None)
        self.prev_f = self.spark.conf.get(FORCE_SHRED_CONF, None)
        self.spark.conf.set(WRITE_SHRED_CONF, "true")
        self.spark.conf.set(FORCE_SHRED_CONF, self.ddl)
        return self

    def __exit__(self, *exc):
        if self.ddl is None:
            return False
        for k, v in ((WRITE_SHRED_CONF, self.prev_w),
                     (FORCE_SHRED_CONF, self.prev_f)):
            if v is None or v == "":
                try:
                    self.spark.conf.unset(k)
                except Exception:
                    pass
            else:
                self.spark.conf.set(k, v)
        return False


def _transcode_one(spark, src_path: str, dest_dir: str, drop_cols):
    """One file's read->order-preserving rewrite->move, assuming the
    shredding write confs are already set session-wide."""
    import glob as _g
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    df = (spark.read.parquet(src_path)
          .withColumn("__rid", F.col("_metadata.row_index")))
    drop = [c for c in drop_cols if c in df.columns]
    df = (df.coalesce(1).sortWithinPartitions("__rid")
            .drop("__rid", *drop))
    tmp = tempfile.mkdtemp(prefix="iceberg_spark_shred_")
    df.write.mode("overwrite").parquet(tmp)
    dest = os.path.join(dest_dir, f"{_uuid.uuid4().hex}.parquet")
    shutil.move(_g.glob(os.path.join(tmp, "*.parquet"))[0], dest)
    shutil.rmtree(tmp, ignore_errors=True)
    return dest


def transcode_shredded_files(spark, src_paths, dest_dir: str, ddl: str,
                             drop_cols=(), max_parallel: int = 16) -> dict:
    """Rewrite plaintext engine parquet data files as spec-physical
    shredded copies under `dest_dir`: variant columns gain the
    typed_value group per `ddl`, engine companion columns (`_shred_f…`)
    are dropped. Row ORDER is preserved per file (sort on
    _metadata.row_index) so position deletes referencing a file stay
    exact. Returns {src_path: new_path}.

    The per-file Spark jobs run from a thread pool (Spark job
    submission is driver-thread-safe; each coalesce(1) write occupies
    one task slot, so N small files pipeline instead of serializing on
    the driver). The session-wide shredding confs are set ONCE around
    the whole batch — every file in one export shreds under the same
    ddl, so concurrent writes cannot race each other's conf values."""
    from concurrent.futures import ThreadPoolExecutor

    src_paths = list(src_paths)
    if not src_paths:
        return {}
    os.makedirs(dest_dir, exist_ok=True)
    with shredding_write_conf(spark, ddl):
        if len(src_paths) == 1:
            return {src_paths[0]: _transcode_one(
                spark, src_paths[0], dest_dir, drop_cols)}
        with ThreadPoolExecutor(min(max_parallel, len(src_paths))) \
                as pool:
            futs = {p: pool.submit(_transcode_one, spark, p, dest_dir,
                                   drop_cols)
                    for p in src_paths}
            return {p: f.result() for p, f in futs.items()}
