"""Row-level operations: DELETE / UPDATE / MERGE, copy-on-write & merge-on-read.

Reference (SURVEY §2.F, §3.2):
  - mode selection by table property write.{delete,update,merge}.mode
    (core/.../RowLevelOperationMode.java, SparkRowLevelOperationBuilder.java:44)
  - CoW: SparkCopyOnWriteOperation.java:41 + SparkCopyOnWriteScan (plan the
    affected-file set, rewrite those files, OverwriteFiles commit)
  - MoR: SparkPositionDeltaOperation.java:39 + SparkPositionDeltaWrite.java:105
    (emit position deletes + new data rows in one RowDelta; update =
    delete + reinsert, :797-808)
  - metadata-only delete: StreamingDelete.java + StrictMetricsEvaluator.java:53
  - MERGE cardinality check: error when >1 source row matches a target row.

Spark realization: the affected-file set comes from our scan planning
(inclusive pruning), whole-file drops from strict evaluation; rewrites are
DataFrame jobs; `_file`/`_pos` come from Spark's `_metadata` struct.
"""

from __future__ import annotations

import os
import uuid as _uuid
from dataclasses import replace
from typing import Optional, Union

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from . import expressions as E
from . import io as _fio
from .manifests import POSITION_DELETES, collect_data_files
from .metadata import MAIN_BRANCH, OP_DELETE, OP_OVERWRITE
from .metrics_reporting import job_description
from .scan import (FILE_PATH_COL, LAST_UPDATED_SEQ_COL, POS_COL, ROW_ID_COL,
                   ScanPlan, TableScan, plan_to_df)
from .writes import (Overwrite, RowDelta, partition_values_from_path,
                     write_data_files)

COPY_ON_WRITE = "copy-on-write"
MERGE_ON_READ = "merge-on-read"


def _mode(table, op: str, override: Optional[str]) -> str:
    if override:
        return override
    return table.properties.get(f"write.{op}.mode", COPY_ON_WRITE)


def _isolation(table, op: str) -> str:
    """write.{delete,update,merge}.isolation-level — reference
    SparkWriteConf, default SERIALIZABLE: concurrent commits between plan
    and CAS are validated (added data matching the operation's filter
    aborts; concurrent deletes that the operation would lose abort under
    both levels)."""
    v = table.properties.get(f"write.{op}.isolation-level", "serializable")
    if v not in ("serializable", "snapshot"):
        raise ValueError(
            f"write.{op}.isolation-level must be serializable or "
            f"snapshot, got {v!r}")
    return v


def _from_id(plan: ScanPlan):
    """Snapshot the operation planned against; -1 = planned on an empty
    table (any concurrent commit is then newer than the plan)."""
    return plan.snapshot.snapshot_id if plan.snapshot is not None else -1


def _subplan_df(table, scan: TableScan, plan: ScanPlan, entries, with_meta=True,
                with_lineage=True) -> DataFrame:
    sub = ScanPlan(list(entries), plan.pos_deletes, plan.eq_deletes,
                   E.ALWAYS_TRUE, plan.snapshot, plan.report)
    return plan_to_df(scan, sub, with_metadata_columns=with_meta,
                      with_lineage=with_lineage)


def _split_strict(table, expr: E.Expr, plan: ScanPlan):
    """Partition candidates into (fully-matching -> droppable, partial)."""
    schema = table.schema
    bound = E.bind(E.rewrite_not(expr), schema)
    full, partial = [], []
    strict_by_spec = {}
    for e in plan.files:
        spec = table.metadata.spec_by_id(e.file.spec_id)
        if e.file.spec_id not in strict_by_spec:
            strict_by_spec[e.file.spec_id] = E.project(bound, spec, inclusive=False)
        sproj = strict_by_spec[e.file.spec_id]
        part_strict = not isinstance(sproj, E.AlwaysFalse) and E.evaluate(sproj, e.file.partition)
        fs = E.FileStats(e.file.record_count, e.file.stats)
        if part_strict or E.strict_metrics_eval(bound, fs):
            full.append(e)
        else:
            partial.append(e)
    # a file with pos/eq deletes attached cannot be dropped by metadata alone
    if plan.pos_deletes or plan.eq_deletes:
        partial = partial + full
        full = []
    return full, partial


def plan_cow_removal(table, expr: E.Expr):
    """For overwrite-by-filter: returns (removed_paths, rewritten_files) where
    rewritten_files hold the candidate rows NOT matching the filter."""
    scan = table.scan(filter=expr)
    plan = scan.plan_files()
    full, partial = _split_strict(table, expr, plan)
    removed = {e.file.file_path for e in plan.files}
    rewritten = []
    if partial:
        df = _subplan_df(table, scan, plan, partial, with_meta=False)
        # SQL DELETE semantics: a row whose predicate evaluates
        # NULL does NOT match and must SURVIVE — a bare ~pred is
        # NULL for those rows and the filter would drop them
        # (silent data loss on nullable predicate columns)
        keep = df.filter(~F.coalesce(
            E.to_spark(E.bind(expr, table.schema)), F.lit(False)))
        rewritten = write_data_files(table, keep, preserve_lineage=True)
    return removed, rewritten


# ---------------------------------------------------------------------------
# DELETE
# ---------------------------------------------------------------------------


def delete_where(table, expr: E.Expr, mode: Optional[str] = None,
                 branch: str = MAIN_BRANCH):
    """DELETE FROM t WHERE expr. Picks metadata-only > CoW/MoR."""
    scan = table.scan(filter=expr)
    plan = scan.plan_files()
    if not plan.files:
        return None
    full, partial = _split_strict(table, expr, plan)
    iso, fid = _isolation(table, "delete"), _from_id(plan)

    if not partial:
        # metadata-only delete (StreamingDelete + strict evaluator).
        # Concurrent deletes on the dropped files commute (both want the
        # rows gone), but a MoR UPDATE's delete half doesn't — its
        # re-inserted rows are caught as added data under serializable;
        # validate the dropped files' deletes too, like the reference's
        # overwrite validation (conservative).
        removed = {e.file.file_path for e in full}
        return Overwrite(table, [], removed, operation=OP_DELETE, branch=branch,
                         isolation=iso, conflict_filter=expr,
                         validate_from_snapshot_id=fid,
                         validate_new_deletes_for=removed).commit()

    m = _mode(table, "delete", mode)
    if m == COPY_ON_WRITE:
        removed = {e.file.file_path for e in plan.files}
        df = _subplan_df(table, scan, plan, partial, with_meta=False)
        # SQL DELETE semantics: a row whose predicate evaluates
        # NULL does NOT match and must SURVIVE — a bare ~pred is
        # NULL for those rows and the filter would drop them
        # (silent data loss on nullable predicate columns)
        keep = df.filter(~F.coalesce(
            E.to_spark(E.bind(expr, table.schema)), F.lit(False)))
        added = write_data_files(table, keep, preserve_lineage=True)
        return Overwrite(table, added, removed, operation=OP_DELETE, branch=branch,
                         isolation=iso, conflict_filter=expr,
                         validate_from_snapshot_id=fid,
                         validate_new_deletes_for=removed).commit()
    else:
        # MoR: write position deletes (or v3 DVs) for matching rows;
        # concurrent MoR deletes commute (both delete sets apply), so
        # only serializable's added-data check is needed
        df = _subplan_df(table, scan, plan, partial, with_meta=True)
        matches = df.filter(E.to_spark(E.bind(expr, table.schema)))
        pos_files, removed_refs = write_row_deletes(table, matches, plan)
        removed_full = {e.file.file_path for e in full}
        refd = {e.file.file_path for e in partial}
        if removed_full:
            # drop fully-matching files in the same commit via overwrite
            snap = Overwrite(table, [], removed_full, operation=OP_DELETE, branch=branch,
                             added_deletes=pos_files,
                             removed_delete_refs=removed_refs,
                             isolation=iso, conflict_filter=expr,
                             validate_from_snapshot_id=fid).commit()
            return snap
        return RowDelta(table, [], pos_files, branch=branch, referenced_files=refd,
                        removed_delete_refs=removed_refs,
                        isolation=iso, conflict_filter=expr,
                        validate_from_snapshot_id=fid).commit()


def write_row_deletes(table, matched_df: DataFrame, plan=None,
                      affected: Optional[set] = None):
    """Route row-level delete rows to the table's delete encoding.

    Default: v2 parquet position-delete files. With table property
    `write.delete.format=dv`, writes v3 deletion vectors instead
    (format/spec.md:1384): at most one DV per data file, so prior
    deletes that apply to the affected files merge INTO the new vector
    and the superseded file-scoped entries are replaced in the same
    commit (returned as `removed_delete_refs` (path, ref) pairs for
    RowDelta/Overwrite). A multi-file parquet delete file that touches
    any affected file is FULLY converted — all its rows, for every file
    it references, become DVs — and removed in the same commit, because
    v3 forbids position-delete files coexisting with deletion vectors on
    one data file (format/spec.md:1384).

    `affected`, when the caller already knows it, is the set of data
    files that receive delete rows (saves a pass over `matched_df`).

    Returns (delete_files, removed_delete_refs)."""
    fmt = (table.metadata.properties.get("write.delete.format", "")
           .lower())
    if fmt not in ("dv", "puffin", "deletion-vector"):
        return write_position_deletes(table, matched_df), set()

    from .maintenance import _write_dvs
    from .scan import _data_rel, _data_rel_col, pos_delete_rows_df

    rows = matched_df.select(F.col(FILE_PATH_COL).alias("file_path"),
                             F.col(POS_COL).alias("pos"))
    removed: set = set()
    if plan is not None and plan.pos_deletes:
        spark = table.spark
        # affected = files that get a new DV this commit (plan-sized)
        if affected is None:
            affected = {r["file_path"] for r in
                        rows.select("file_path").distinct().collect()}
        affected_rel = {_data_rel(p) for p in affected}
        # prior delete contents carry write-time paths; map them onto
        # the live paths via the plan's (suffix -> current) broadcast
        map_df = spark.createDataFrame(
            [(r, p) for r, p in
             ((_data_rel(p), p) for p in affected)],
            "rel string, cur string")
        file_scoped = [d for d in plan.pos_deletes
                       if d.file.referenced_data_file is not None
                       and _data_rel(d.file.referenced_data_file)
                       in affected_rel]
        if file_scoped:
            pr = (pos_delete_rows_df(spark, file_scoped)
                  .withColumn("__rel", _data_rel_col(F.col("file_path")))
                  .join(F.broadcast(map_df), F.col("__rel") == F.col("rel"),
                        "inner")
                  .select(F.col("cur").alias("file_path"), "pos"))
            rows = rows.unionByName(pr)
            removed |= {(d.file.file_path, d.file.referenced_data_file)
                        for d in file_scoped}
        multi = [d for d in plan.pos_deletes
                 if d.file.referenced_data_file is None]
        if multi:
            # v3 forbids parquet pos-deletes coexisting with a DV on one
            # data file: any multi-file delete that touches an affected
            # file converts wholesale (rows for non-affected files keep
            # their stored path — scan matching is _data_rel-based)
            src = (pos_delete_rows_df(spark, multi, with_source=True)
                   .withColumn("__rel", _data_rel_col(F.col("file_path"))))
            touching = sorted(
                r["delete_file_path"] for r in
                src.join(F.broadcast(map_df),
                         F.col("__rel") == F.col("rel"), "semi")
                .select("delete_file_path").distinct().collect())
            if touching:
                conv = (src.filter(
                            F.col("delete_file_path").isin(touching))
                        .join(F.broadcast(map_df),
                              F.col("__rel") == F.col("rel"), "left")
                        .select(F.coalesce("cur", "file_path")
                                .alias("file_path"), "pos"))
                rows = rows.unionByName(conv)
                removed |= {(p, None) for p in touching}
    return _write_dvs(table, rows), removed


def write_position_deletes(table, matched_df: DataFrame) -> list:
    """Write (file_path, pos) parquet sorted for locality
    (spec format/spec.md:1388: sorted by file_path then pos).

    Granularity follows table property `write.delete.granularity`
    (reference core/.../deletes/DeleteGranularity.java,
    TableProperties.java:439). Default `partition`: partitioned tables
    fan delete files out by the target data file's partition (each data
    file belongs to exactly one partition, so the fanout aligns with
    file_path ranges): delete files carry the partition tuple the spec
    requires, delete manifests get partition summaries to prune on, and
    the `delete_files` metadata table reports per-partition delete
    counts. Unpartitioned tables keep the contiguous file_path-range
    clustering so footer min/max stays tight. `file`: one delete file
    per referenced data file with `referenced_data_file` recorded —
    planning attaches deletes exactly, never by range heuristic."""
    gran = str(table.metadata.properties.get(
        "write.delete.granularity", "partition")).lower()
    if gran not in ("partition", "file"):
        # DeleteGranularity.fromString rejects unknown values — a typo
        # must fail loudly, not silently change the delete layout
        raise ValueError(
            f"invalid write.delete.granularity: {gran!r} "
            "(expected 'partition' or 'file')")
    if gran == "file":
        return _write_position_deletes_file_granularity(table, matched_df)
    from .locations import new_data_dir

    out_dir = new_data_dir(table, prefix="deletes-")
    spec, schema = table.metadata.spec, table.metadata.schema
    fp = F.col(FILE_PATH_COL).alias("file_path")
    pos = F.col(POS_COL).alias("pos")
    pby = [f"_p_{pf.name}" for pf in spec.fields]
    pcols = None
    if spec.fields:
        if all(c in matched_df.columns for c in pby):
            pcols = [F.col(c) for c in pby]  # caller pre-derived them
        elif all(schema.field_by_id(pf.source_id).name in matched_df.columns
                 for pf in spec.fields):
            pcols = []
            for pf in spec.fields:
                src = schema.field_by_id(pf.source_id)
                pcols.append(pf.transform.spark_col(F.col(src.name), src.type)
                             .alias(f"_p_{pf.name}"))
    # `encryption.key-id` tables: position-delete parquet encrypts like
    # data files (modular encryption) — a pos-delete file carries every
    # deleted row's data-file PATH and ordinal, plaintext the reference's
    # standard encryption does not leave on disk either
    from .parquet_crypto import encode_key_metadata, table_encryption

    enc = table_encryption(table.metadata.properties)
    pnames = [pf.name for pf in spec.fields]
    ptypes = dict(spec.partition_type(schema))
    if pcols is not None:
        df2 = (matched_df.select(fp, pos, *pcols)
               .repartition(*[F.col(c) for c in pby])
               .sortWithinPartitions("file_path", "pos"))
        if enc is not None:
            from .writes import _write_encrypted_files

            paths, partitions = _write_encrypted_files(
                df2, out_dir, pnames, enc, {}, None)
        else:
            df2.write.partitionBy(*pby).parquet(out_dir)
    else:
        # partition sources unavailable (e.g. a (file_path, pos)-only
        # rewrite input): path-scoped delete files, pruned by file_path
        # range instead of partition tuple
        df2 = (matched_df.select(fp, pos)
               .repartitionByRange(F.col("file_path"), F.col("pos"))
               .sortWithinPartitions("file_path", "pos"))
        if enc is not None:
            from .writes import _write_encrypted_files

            paths, partitions = _write_encrypted_files(
                df2, out_dir, [], enc, {}, None)
        else:
            df2.write.parquet(out_dir)
    if enc is None:
        paths, partitions = [], {}
        out_plain = _fio.strip_scheme(out_dir)
        for p in _fio.resolve_io(out_dir, table.spark).walk_files(out_dir):
            if p.endswith(".parquet"):
                p = _fio.strip_scheme(p)
                paths.append(p)
                if pnames:
                    partitions[p] = partition_values_from_path(
                        os.path.relpath(p, out_plain), pnames, ptypes)
    from .schema import NestedField, Schema

    del_schema = Schema((NestedField(2147483546, "file_path", "string", True),
                         NestedField(2147483545, "pos", "long", True)))
    files = collect_data_files(paths, del_schema, table.spec,
                               partitions, content=POSITION_DELETES,
                               spark=table.spark,
                               decryption=enc[1] if enc else None)
    if enc is not None:
        km = encode_key_metadata(enc[0])
        files = [replace(f, key_metadata=km) for f in files]
    return [replace(f, write_schema_id=table.schema.schema_id)
            for f in files if f.record_count > 0]


def _write_position_deletes_file_granularity(table, matched_df: DataFrame) -> list:
    """`write.delete.granularity=file` position deletes: ONE delete
    parquet per referenced data file, `referenced_data_file` recorded on
    every manifest entry (reference core/.../deletes/DeleteGranularity.java
    FILE semantics; SparkWrite picks this for MoR by default since 1.8).

    Why it matters at 100 TB: planning attaches these deletes EXACTLY —
    `referenced_data_file` short-circuits the file_path-range heuristic
    (scan.may_apply), so a task scanning one data file never reads
    another file's delete rows, and rewrite-position-deletes / DV
    conversion regroups without splitting files.

    Spark job shape (mirrors maintenance._write_dvs): repartition delete
    rows by target path so one task holds each file's complete position
    set, then a mapInPandas pass writes one pos-sorted parquet per
    target (pyarrow; parquet modular encryption under `encryption.key-id`
    tables) and returns ONE descriptor row per written file — stats
    (pos bounds, counts, partition tuple) come back in the descriptor,
    so the driver never re-reads footers and never sees row-level data."""
    import pyarrow as _pa
    from pyspark.sql import types as T

    from .locations import new_data_dir
    from .parquet_crypto import encode_key_metadata, table_encryption

    spec, schema = table.metadata.spec, table.metadata.schema
    enc = table_encryption(table.metadata.properties)
    out_dir = new_data_dir(table, prefix="deletes-")
    out_plain = _fio.strip_scheme(out_dir)

    # partition tuple per data file: pre-derived _p_* columns, else
    # derive from source columns; a (file_path, pos)-only rewrite input
    # gets empty partition tuples (entries still attach exactly by ref)
    pby = [f"_p_{pf.name}" for pf in spec.fields]
    fp = F.col(FILE_PATH_COL).alias("file_path")
    pos = F.col(POS_COL).alias("pos")
    pcols = []
    if spec.fields:
        if all(c in matched_df.columns for c in pby):
            pcols = [F.col(c) for c in pby]
        elif all(schema.field_by_id(pf.source_id).name in matched_df.columns
                 for pf in spec.fields):
            for pf in spec.fields:
                src = schema.field_by_id(pf.source_id)
                pcols.append(pf.transform.spark_col(F.col(src.name), src.type)
                             .alias(f"_p_{pf.name}"))
        else:
            pby = []
    else:
        pby = []
    sel = matched_df.select(fp, pos, *pcols)

    out_fields = [T.StructField("path", T.StringType()),
                  T.StructField("ref", T.StringType()),
                  T.StructField("record_count", T.LongType()),
                  T.StructField("file_size", T.LongType()),
                  T.StructField("min_pos", T.LongType()),
                  T.StructField("max_pos", T.LongType())]
    out_fields += [sel.schema[c] for c in pby]
    out_schema = T.StructType(out_fields)
    del_arrow = _pa.schema([_pa.field("file_path", _pa.string()),
                            _pa.field("pos", _pa.int64())])
    pby_local = list(pby)

    def task(batches):
        import os as _os
        import uuid as _u
        from io import BytesIO

        import numpy as _np
        import pandas as _pd
        import pyarrow.parquet as _pq

        from . import io as _eio
        from . import parquet_crypto as PC

        by_ref: dict = {}
        parts: dict = {}
        for b in batches:
            for ref, grp in b.groupby("file_path", sort=False):
                by_ref.setdefault(ref, []).append(
                    grp["pos"].to_numpy(dtype=_np.int64))
                if pby_local and ref not in parts:
                    parts[ref] = grp.iloc[0][pby_local]
        if not by_ref:
            return
        rows = []
        for ref, chunks in by_ref.items():
            arr = _np.sort(_np.concatenate(chunks))
            tbl = _pa.table({"file_path": _pa.array([ref] * len(arr),
                                                    _pa.string()),
                             "pos": _pa.array(arr)}, schema=del_arrow)
            name = f"fdel-{_u.uuid4().hex}.parquet"
            path = _os.path.join(out_plain, name)
            full = out_dir.rstrip("/") + "/" + name
            io_ = _eio.resolve_io(full)
            fep = None
            if enc is not None:
                key_id, key, dek_bits = enc
                fep = PC.encryption_properties(key, key_id, del_arrow,
                                               dek_bits)
            if io_ is _eio._LOCAL:
                _os.makedirs(_os.path.dirname(path), exist_ok=True)
                _pq.write_table(tbl, path, compression="snappy",
                                encryption_properties=fep)
                size = _os.path.getsize(path)
            else:
                buf = BytesIO()
                _pq.write_table(tbl, buf, compression="snappy",
                                encryption_properties=fep)
                data = buf.getvalue()
                io_.write_bytes(full, data)
                size = len(data)
            row = [path, ref, len(arr), size, int(arr[0]), int(arr[-1])]
            if pby_local:
                row += list(parts[ref])
            rows.append(row)
        yield _pd.DataFrame(rows, columns=["path", "ref", "record_count",
                                           "file_size", "min_pos",
                                           "max_pos"] + pby_local)

    descs = (sel.repartition(
        max(32, sel.sparkSession.sparkContext.defaultParallelism),
        "file_path")
             .mapInPandas(task, out_schema).collect())
    km = encode_key_metadata(enc[0]) if enc is not None else None
    files = []
    for r in descs:
        n = int(r["record_count"])
        if n == 0:
            continue
        partition = ({pf.name: r[f"_p_{pf.name}"] for pf in spec.fields}
                     if pby_local else {})
        files.append(_mk_pos_delete_file(
            r["path"], n, int(r["file_size"]), r["ref"],
            int(r["min_pos"]), int(r["max_pos"]), partition,
            spec.spec_id, table.schema.schema_id, km))
    return files


def _mk_pos_delete_file(path, n, size, ref, min_pos, max_pos, partition,
                        spec_id, schema_id, key_metadata):
    from .manifests import DataFile

    return DataFile(
        file_path=path, file_format="parquet", content=POSITION_DELETES,
        spec_id=spec_id, partition=partition, record_count=n,
        file_size_in_bytes=size,
        stats={"file_path": (ref, ref, 0, None, n),
               "pos": (min_pos, max_pos, 0, None, n)},
        referenced_data_file=ref, write_schema_id=schema_id,
        key_metadata=key_metadata)


def write_equality_deletes(table, keys_df: DataFrame, columns: list) -> list:
    """Write equality-delete files (format/spec.md:1415): rows of key
    columns; equality_ids carry the field ids. Range-clustered so the
    planner's key-range scoping can skip them.

    When every partition-spec source column is among the delete keys,
    files fan out PARTITION-SCOPED (the Flink equality writer's shape:
    one delete file per partition, partition tuple recorded), so
    partition-pruned scans skip unrelated equality deletes EXACTLY —
    at streaming-upsert scale the delete set a task reads is its own
    partition's, not the table's."""
    schema, spec = table.schema, table.metadata.spec
    ids = tuple(schema.find_field(c).field_id for c in columns)
    from .locations import new_data_dir

    out_dir = new_data_dir(table, prefix="eqdel-")
    pby, pcols = [], []
    if spec.fields and all(
            schema.field_by_id(pf.source_id).name in columns
            for pf in spec.fields):
        for pf in spec.fields:
            src = schema.field_by_id(pf.source_id)
            pby.append(f"_p_{pf.name}")
            pcols.append(pf.transform.spark_col(F.col(src.name), src.type)
                         .alias(f"_p_{pf.name}"))
    keys = keys_df.select(*columns).distinct()
    if pby:
        keys = (keys.select(*columns, *pcols)
                .repartition(*[F.col(c) for c in pby])
                .sortWithinPartitions(*columns))
    else:
        keys = (keys.repartitionByRange(*[F.col(c) for c in columns])
                .sortWithinPartitions(*columns))
    # equality-delete files carry real column VALUES — on an encrypted
    # table they encrypt like data files (position deletes stay
    # plaintext: the engine never writes the optional row payload, so
    # they hold only file paths and ordinals)
    from .parquet_crypto import table_encryption

    enc = table_encryption(table.metadata.properties)
    pnames = [pf.name for pf in spec.fields] if pby else []
    ptypes = dict(spec.partition_type(schema)) if pby else {}
    partitions: dict = {}
    if enc is not None:
        from .writes import _write_encrypted_files

        paths, partitions = _write_encrypted_files(keys, out_dir, pnames,
                                                   enc, {}, None)
    else:
        if pby:
            keys.write.partitionBy(*pby).parquet(out_dir)
        else:
            keys.write.parquet(out_dir)
        out_plain = _fio.strip_scheme(out_dir)
        paths = []
        for p in _fio.resolve_io(out_dir, table.spark).walk_files(out_dir):
            if p.endswith(".parquet"):
                p = _fio.strip_scheme(p)
                paths.append(p)
                if pby:
                    partitions[p] = partition_values_from_path(
                        os.path.relpath(p, out_plain), pnames, ptypes)
    from .manifests import EQUALITY_DELETES
    from .schema import Schema as S

    del_schema = S(tuple(schema.find_field(c) for c in columns))
    files = collect_data_files(paths, del_schema, table.spec,
                               partitions if pby else None,
                               content=EQUALITY_DELETES, spark=table.spark,
                               decryption=enc[1] if enc else None)
    if enc is not None:
        from .parquet_crypto import encode_key_metadata

        km = encode_key_metadata(enc[0])
        files = [replace(f, key_metadata=km) for f in files]
    return [replace(f, equality_ids=ids, write_schema_id=schema.schema_id,
                    **({} if pby else {"partition": {}}))
            for f in files if f.record_count > 0]


def equality_upsert(table, df: DataFrame, keys: list, branch: str = MAIN_BRANCH):
    """Upsert WITHOUT reading the target (Flink EqualityDeltaWriter /
    BaseDeltaTaskWriter semantics): one equality-delete file over the batch
    keys + the new rows, committed in a single RowDelta. Sequence scoping
    makes the deletes apply only to older data (data.seq < delete.seq), so
    the same commit's rows survive — upsert cost is O(batch), not
    O(table), the property that matters at 100 TB.

    Same-key rows within the batch are deduplicated (last wins, matching
    the streaming equality_upsert_sink): the equality delete only scopes
    to strictly older sequence numbers, so without this both in-batch
    duplicates would survive the commit."""
    from pyspark.sql import Window

    w = Window.partitionBy(*keys).orderBy(F.monotonically_increasing_id().desc())
    df = (df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1).drop("__rn"))
    del_files = write_equality_deletes(table, df, keys)
    data_files = write_data_files(table, df)
    return RowDelta(table, data_files, del_files, branch=branch).commit()


# ---------------------------------------------------------------------------
# UPDATE
# ---------------------------------------------------------------------------


def _assignment_col(v) -> Column:
    if isinstance(v, Column):
        return v
    if isinstance(v, str):
        return F.expr(v)
    return F.lit(v)


def update_where(table, condition: E.Expr, assignments: dict,
                 mode: Optional[str] = None, branch: str = MAIN_BRANCH):
    """UPDATE t SET ... WHERE condition."""
    scan = table.scan(filter=condition)
    plan = scan.plan_files()
    if not plan.files:
        return None
    m = _mode(table, "update", mode)
    iso, fid = _isolation(table, "update"), _from_id(plan)
    cond_col = E.to_spark(E.bind(condition, table.schema))
    cols = table.schema.column_names

    if m == COPY_ON_WRITE:
        removed = {e.file.file_path for e in plan.files}
        df = _subplan_df(table, scan, plan, plan.files, with_meta=False)
        # lineage: updated rows keep _row_id; their _last_updated_seq is
        # nulled so readers fall back to the new file's sequence number
        updated = df.select(*[
            (F.when(cond_col, _assignment_col(assignments[c])).otherwise(F.col(c))
             if c in assignments else F.col(c)).alias(c)
            for c in cols
        ], F.col(ROW_ID_COL),
            F.when(cond_col, F.lit(None).cast("long"))
            .otherwise(F.col(LAST_UPDATED_SEQ_COL)).alias(LAST_UPDATED_SEQ_COL))
        added = write_data_files(table, updated, preserve_lineage=True)
        return Overwrite(table, added, removed, operation=OP_OVERWRITE, branch=branch,
                         isolation=iso, conflict_filter=condition,
                         validate_from_snapshot_id=fid,
                         validate_new_deletes_for=removed).commit()
    else:
        df = _subplan_df(table, scan, plan, plan.files, with_meta=True)
        matches = df.filter(cond_col)
        pos_files, removed_refs = write_row_deletes(table, matches, plan)
        new_rows = matches.select(*[
            (_assignment_col(assignments[c]) if c in assignments else F.col(c)).alias(c)
            for c in cols
        ], F.col(ROW_ID_COL),
            F.lit(None).cast("long").alias(LAST_UPDATED_SEQ_COL))
        data_files = write_data_files(table, new_rows, preserve_lineage=True)
        refd = {e.file.file_path for e in plan.files}
        # a concurrent delete of a row this update re-inserts would be
        # silently resurrected -> validate new deletes on the read files
        return RowDelta(table, data_files, pos_files, branch=branch,
                        referenced_files=refd,
                        removed_delete_refs=removed_refs,
                        isolation=iso, conflict_filter=condition,
                        validate_from_snapshot_id=fid,
                        validate_new_deletes_for=refd).commit()


# ---------------------------------------------------------------------------
# MERGE
# ---------------------------------------------------------------------------


class MergeBuilder:
    """MERGE INTO target t USING source s ON <keys> WHEN ... (SURVEY §3.2).

    `on`: list of same-named key columns, or a SQL condition string using
    aliases `t` and `s`. Clause conditions / values are SQL strings over
    `t.*` / `s.*` (or Columns). update/insert value maps: {target_col: expr}.
    """

    def __init__(self, table, source: DataFrame, on: Union[list, str]):
        self.table = table
        self.source = source
        self.on = on
        self._matched = []      # ("update", cond, set) | ("delete", cond, None)
        self._not_matched = []  # ("insert", cond, values)
        self._not_matched_by_source = []  # ("update"/"delete", cond, set)

    def when_matched_update(self, set: Optional[dict] = None, condition: Optional[str] = None):
        self._matched.append(("update", condition, set))
        return self

    def when_matched_delete(self, condition: Optional[str] = None):
        self._matched.append(("delete", condition, None))
        return self

    def when_not_matched_insert(self, values: Optional[dict] = None,
                                condition: Optional[str] = None):
        self._not_matched.append(("insert", condition, values))
        return self

    def when_not_matched_by_source_update(self, set: dict, condition: Optional[str] = None):
        self._not_matched_by_source.append(("update", condition, set))
        return self

    def when_not_matched_by_source_delete(self, condition: Optional[str] = None):
        self._not_matched_by_source.append(("delete", condition, None))
        return self

    # -- execution ----------------------------------------------------------
    def _join_cond(self):
        if isinstance(self.on, str):
            return F.expr(self.on)
        c = None
        for k in self.on:
            e = F.col(f"t.{k}").eqNullSafe(F.col(f"s.{k}"))
            c = e if c is None else (c & e)
        return c

    def execute(self, mode: Optional[str] = None, check_cardinality: bool = True,
                branch: str = MAIN_BRANCH):
        table = self.table
        m = _mode(table, "merge", mode)
        cols = table.schema.column_names
        scan = table.scan()
        plan = scan.plan_files()

        src = self.source.withColumn("__s_present", F.lit(True)).alias("s")
        join_cond = self._join_cond()
        # the reference checks every matched target row, whatever the
        # clause conditions say, unless no matched clause exists
        check = check_cardinality and bool(self._matched)

        matched_any = F.col("__s_present").isNotNull()
        t_exists = F.col(f"t.{POS_COL}").isNotNull()

        def build_action(joined):
            chain = F.when(F.lit(False), F.lit(""))
            for i, (kind, cond, _setmap) in enumerate(self._matched):
                c = matched_any & t_exists
                if cond is not None:
                    c = c & (F.expr(cond) if isinstance(cond, str) else cond)
                chain = chain.when(c, F.lit(("U%d" if kind == "update" else "D%d") % i))
            for i, (kind, cond, _v) in enumerate(self._not_matched):
                c = ~t_exists
                if cond is not None:
                    c = c & (F.expr(cond) if isinstance(cond, str) else cond)
                chain = chain.when(c, F.lit("I%d" % i))
            for i, (kind, cond, _setmap) in enumerate(self._not_matched_by_source):
                c = t_exists & ~matched_any
                if cond is not None:
                    c = c & (F.expr(cond) if isinstance(cond, str) else cond)
                chain = chain.when(
                    c, F.lit(("NU%d" if kind == "update" else "ND%d") % i)
                )
            default = F.when(t_exists, F.lit("K")).otherwise(F.lit("X"))
            return joined.withColumn("__action", F.coalesce(chain, default))

        def out_col(c):
            e = F.col(f"t.{c}")
            for i, (kind, _cond, setmap) in enumerate(self._matched):
                if kind == "update":
                    expr = _merge_value(setmap, c, default=F.col(f"t.{c}"), source_alias="s")
                    e = F.when(F.col("__action") == f"U{i}", expr).otherwise(e)
            for i, (kind, _cond, setmap) in enumerate(self._not_matched_by_source):
                if kind == "update":
                    expr = _merge_value(setmap, c, default=F.col(f"t.{c}"), source_alias="s")
                    e = F.when(F.col("__action") == f"NU{i}", expr).otherwise(e)
            for i, (_kind, _cond, values) in enumerate(self._not_matched):
                expr = _merge_value(values, c, default=F.lit(None), source_alias="s",
                                    insert=True, source_cols=self.source.columns)
                e = F.when(F.col("__action") == f"I{i}", expr).otherwise(e)
            return e.alias(c)

        # lineage through the merge DataFrames (ExtractRowLineage analog):
        # inserts get fresh ids (null -> inheritance); updates keep _row_id
        # and null their seq so readers fall back to this commit's seq;
        # untouched rows carry both values through the rewrite
        lineage_out = [
            F.when(F.col("__action").startswith("I"), F.lit(None).cast("long"))
            .otherwise(F.col(f"t.{ROW_ID_COL}")).alias(ROW_ID_COL),
            F.when(F.col("__action") == "K", F.col(f"t.{LAST_UPDATED_SEQ_COL}"))
            .otherwise(F.lit(None).cast("long")).alias(LAST_UPDATED_SEQ_COL),
        ]
        iso, fid = _isolation(table, "merge"), _from_id(plan)

        if m == COPY_ON_WRITE:
            tgt = plan_to_df(scan, plan, with_metadata_columns=True).alias("t")
            # affected files: files holding at least one matched row; with
            # not-matched-by-source clauses every live file is affected
            affected_paths = {e.file.file_path for e in plan.files}
            if check or not self._not_matched_by_source:
                with job_description(table.spark, "iceberg MERGE: match"):
                    hit = _merge_target_files(
                        tgt.join(src, join_cond, "inner").select(
                            F.col(f"t.{FILE_PATH_COL}").alias(FILE_PATH_COL),
                            F.col(f"t.{POS_COL}").alias(POS_COL),
                            F.lit(True).alias("__matched"),
                            F.lit(True).alias("__hit")), check)
                if not self._not_matched_by_source:
                    affected_paths = hit
            affected_entries = [e for e in plan.files
                                if e.file.file_path in affected_paths]
            tgt = _subplan_df(table, scan, plan, affected_entries,
                              with_meta=True).alias("t")
            routed = build_action(tgt.join(src, join_cond, "full_outer"))
            routed = routed.filter(~F.col("__action").startswith("D")
                                   & ~F.col("__action").startswith("ND")
                                   & (F.col("__action") != "X"))
            result = routed.select(*[out_col(c) for c in cols], *lineage_out)
            with job_description(table.spark, "iceberg MERGE: write data"):
                added = write_data_files(table, result, preserve_lineage=True)
            # conflict filter = whole table (the reference's default MERGE
            # conflictDetectionFilter): serializable aborts on any
            # concurrent append, both levels abort on deletes that the
            # rewrite would lose
            return Overwrite(table, added, affected_paths, operation=OP_OVERWRITE,
                             branch=branch, isolation=iso,
                             validate_from_snapshot_id=fid,
                             validate_new_deletes_for=affected_paths).commit()

        # MoR: one join of the whole target with the source routes every
        # row; only the rows that change something (plus matched rows,
        # for the cardinality check) are kept, and both writes read them.
        # Matched update/delete rows -> position deletes (+ reinsert rows);
        # inserts -> data files.
        tgt = plan_to_df(scan, plan, with_metadata_columns=True,
                         with_lineage=True).alias("t")
        how = "full_outer" if self._not_matched_by_source else "right_outer"
        routed = build_action(tgt.join(src, join_cond, how))
        spec = table.metadata.spec
        psrc = [table.schema.field_by_id(pf.source_id).name
                for pf in spec.fields]
        act = F.col("__action")
        deletes = (act.startswith("U") | act.startswith("D")
                   | act.startswith("NU") | act.startswith("ND"))
        inserts = (act.startswith("U") | act.startswith("I")
                   | act.startswith("NU"))
        matched = matched_any & t_exists
        keep = deletes | inserts | matched if check else deletes | inserts
        rows = routed.filter(keep).select(
            act.alias("__action"), matched.alias("__matched"),
            deletes.alias("__hit"),
            F.col(f"t.{FILE_PATH_COL}").alias(FILE_PATH_COL),
            F.col(f"t.{POS_COL}").alias(POS_COL),
            # the target row's partition sources, so delete files fan out
            # by the target partition (spec partition tuple)
            *[F.col(f"t.{c}").alias(f"__t_{c}") for c in psrc],
            *[out_col(c) for c in cols], *lineage_out).persist()
        try:
            with job_description(table.spark, "iceberg MERGE: route"):
                affected = _merge_target_files(rows, check)
            pos_files, removed_refs = [], set()
            if affected:
                del_rows = rows.filter(F.col("__hit")).select(
                    FILE_PATH_COL, POS_COL,
                    *[F.col(f"__t_{c}").alias(c) for c in psrc])
                with job_description(table.spark, "iceberg MERGE: write deletes"):
                    pos_files, removed_refs = write_row_deletes(
                        table, del_rows, plan, affected=affected)
            new_rows = rows.filter(inserts).select(
                *cols, ROW_ID_COL, LAST_UPDATED_SEQ_COL)
            with job_description(table.spark, "iceberg MERGE: write data"):
                data_files = write_data_files(table, new_rows,
                                              preserve_lineage=True)
        finally:
            rows.unpersist(blocking=True)
        # the files that receive delete rows: a concurrent delete on one
        # of them could be resurrected by a reinserted row, and a
        # concurrent removal would leave the new deletes dangling
        return RowDelta(table, data_files, pos_files, branch=branch,
                        referenced_files=affected,
                        removed_delete_refs=removed_refs,
                        isolation=iso, validate_from_snapshot_id=fid,
                        validate_new_deletes_for=affected).commit()


def _merge_target_files(rows: DataFrame, check: bool) -> set:
    """One aggregate per target file over MERGE rows carrying
    `_file`, `_pos`, `__matched` and `__hit`: raises the cardinality
    error when one target row matched more than one source row (before
    anything is written), and returns the files with a `__hit` row."""
    aggs = [F.max(F.col("__hit").cast("int")).alias("hit")]
    if check:
        aggs += [F.count(F.when(F.col("__matched"), 1)).alias("n"),
                 F.countDistinct(F.when(F.col("__matched"), F.col(POS_COL)))
                 .alias("d")]
    stats = (rows.filter(F.col(FILE_PATH_COL).isNotNull())
             .groupBy(FILE_PATH_COL).agg(*aggs).collect())
    if check and any(r["n"] > r["d"] for r in stats):
        raise ValueError(
            "MERGE cardinality violation: a target row matches multiple source rows"
        )
    return {r[FILE_PATH_COL] for r in stats if r["hit"]}


def _merge_value(mapping, col, default, source_alias="s", insert=False, source_cols=None):
    if mapping is None:
        # "*": take same-named source column
        if insert:
            if source_cols is not None and col not in source_cols:
                return F.lit(None)
            return F.col(f"{source_alias}.{col}")
        return F.col(f"{source_alias}.{col}")
    if col in mapping:
        return _assignment_col(mapping[col])
    return default
