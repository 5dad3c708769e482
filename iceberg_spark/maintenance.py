"""Table-maintenance actions (Spark-job operators).

Reference (SURVEY §2.L): RewriteDataFilesSparkAction.java:69 (binpack via
BinPackRewriteFilePlanner / SizeBasedFileRewritePlanner), sort/zorder
runners (SparkSortFileRewriteRunner, SparkZOrderFileRewriteRunner,
SparkZOrderUDF.java:50, core/.../util/ZOrderByteUtils.java:43),
RewriteManifestsSparkAction.java, ExpireSnapshotsSparkAction.java /
core/.../RemoveSnapshots.java:61, DeleteOrphanFilesSparkAction.java:102
(URI-normalized anti-join), RemoveDanglingDeletesSparkAction.java,
RewritePositionDeleteFilesSparkAction.java, ComputeTableStatsSparkAction
(NDV sketches -> stats files) and ComputePartitionStatsSparkAction.

Scale note: group planning walks manifest entries (cached Parquet reads —
at huge metadata the same filters run as the Spark distributed-planning
path); every data movement is a Spark job; reachability diffs use Python
sets below a size threshold and Spark anti-joins above it.
"""

from __future__ import annotations

import json
import os
import time
import uuid as _uuid
from dataclasses import replace

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import expressions as E
from . import io as _io
from .manifests import (
    DATA,
    POSITION_DELETES,
    read_manifest,
    read_manifest_list,
)
from .metadata import OP_REPLACE, SnapshotRef, MAIN_BRANCH
from .metrics_reporting import job_description
from .scan import FILE_PATH_COL, POS_COL, ScanPlan, plan_to_df
from .writes import Overwrite, maybe_merge_manifests, write_data_files
from .row_ops import write_position_deletes

DEFAULT_TARGET_FILE_SIZE = 128 * 1024 * 1024  # write.target-file-size-bytes default


# ---------------------------------------------------------------------------
# rewrite_data_files: binpack / sort / zorder
# ---------------------------------------------------------------------------


def _delete_attachment_counts(table, plan) -> dict:
    """data file path -> number of delete files that apply to it — the
    reference's delete-file-threshold input
    (SizeBasedDataRewriter.DELETE_FILE_THRESHOLD). DV/pos deletes with
    referenced_data_file count from metadata alone; path-ranged pos
    delete files resolve EXACTLY through one Spark distinct over their
    (target, source) pairs (file_path bounds span sibling files in the
    same directory, which would mark everything); eq deletes count by
    sequence scoping."""
    from .scan import _data_rel, pos_delete_rows_df

    counts: dict = {}
    rel_live = {_data_rel(e.file.file_path): e.file.file_path
                for e in plan.files}
    ranged = []
    for d in plan.pos_deletes:
        f = d.file
        if f.referenced_data_file:
            tgt = rel_live.get(_data_rel(f.referenced_data_file))
            if tgt:
                counts[tgt] = counts.get(tgt, 0) + 1
        else:
            ranged.append(d)
    if ranged:
        pairs = (pos_delete_rows_df(table.spark, ranged, with_source=True)
                 .select("file_path", "delete_file_path").distinct()
                 .collect())
        for r in pairs:
            tgt = rel_live.get(_data_rel(r["file_path"]))
            if tgt:
                counts[tgt] = counts.get(tgt, 0) + 1
    for d in plan.eq_deletes:
        for e in plan.files:
            if e.sequence_number < d.sequence_number:
                p = e.file.file_path
                counts[p] = counts.get(p, 0) + 1
    return counts


def rewrite_data_files(table, strategy: str = "binpack", target_file_size: int = 0,
                       filter: E.Expr | None = None, min_input_files: int = 2,
                       sort_by: list | None = None, zorder_by: list | None = None,
                       delete_file_threshold: int | None = None,
                       partial_progress: bool = False,
                       partial_progress_max_commits: int = 10) -> dict:
    """Compact/recluster data files. Groups are planned per partition
    (greedy size packing), each group rewritten by a Spark job, committed
    as RewriteFiles (op=replace) preserving sequence numbers.

    `delete_file_threshold` (reference SizeBasedDataRewriter option):
    when set, binpack candidates are files with at least that many
    attached delete files PLUS the usual small-file packs — instead of
    the rewrite-every-group default whenever any delete exists, so a
    100 TB table compacts only where MoR debt actually accumulated.

    `partial_progress` (reference partial-progress.enabled): groups
    commit in up to `partial_progress_max_commits` independent
    RewriteFiles commits, bounding both the blast radius of a failure
    mid-compaction and the size of any single metadata swap."""
    strategy = strategy.lower()
    if strategy not in ("binpack", "sort", "zorder"):
        raise ValueError(f"unknown rewrite strategy {strategy!r} "
                         "(expected binpack, sort or zorder)")
    target = target_file_size or int(
        table.properties.get("write.target-file-size-bytes", DEFAULT_TARGET_FILE_SIZE))
    scan = table.scan(filter=filter) if filter is not None else table.scan()
    plan = scan.plan_files()
    if not plan.files:
        return {"rewritten_files": 0, "added_files": 0, "groups": 0}

    # group by partition tuple
    groups: dict = {}
    for e in plan.files:
        key = (e.file.spec_id, tuple(sorted(e.file.partition.items())))
        groups.setdefault(key, []).append(e)

    has_deletes = bool(plan.pos_deletes or plan.eq_deletes)
    del_counts = (_delete_attachment_counts(table, plan)
                  if delete_file_threshold is not None and has_deletes
                  else None)
    to_rewrite = []
    for key, entries in groups.items():
        small = [e for e in entries if e.file.file_size_in_bytes < target]
        if strategy != "binpack":
            if entries:
                to_rewrite.append(entries)
        elif del_counts is not None:
            hit = {e.file.file_path: e for e in entries
                   if del_counts.get(e.file.file_path, 0)
                   >= delete_file_threshold}
            if len(small) >= min_input_files:
                for e in small:
                    hit.setdefault(e.file.file_path, e)
            if hit:
                to_rewrite.append(list(hit.values()))
        elif has_deletes:
            if entries:
                to_rewrite.append(entries)
        elif len(small) >= min_input_files:
            to_rewrite.append(small)

    if not to_rewrite:
        return {"rewritten_files": 0, "added_files": 0, "groups": 0}

    if partial_progress and len(to_rewrite) > 1:
        k = min(max(1, partial_progress_max_commits), len(to_rewrite))
        batches = [to_rewrite[i::k] for i in range(k)]
    else:
        batches = [to_rewrite]

    tot_rewritten = tot_added = 0
    tot_bytes = 0
    for batch in batches:
        r, a, b = _rewrite_commit(table, scan, plan, batch, strategy,
                                  target, sort_by, zorder_by)
        tot_rewritten += r
        tot_added += a
        tot_bytes += b
    res = {"rewritten_files": tot_rewritten, "added_files": tot_added,
           "groups": len(to_rewrite),
           "commits": len(batches),
           # reference procedure output names (RewriteDataFilesProcedure.java)
           "rewritten_data_files": tot_rewritten,
           "added_data_files": tot_added,
           "rewritten_bytes": tot_bytes}
    if plan.pos_deletes or plan.eq_deletes:
        with job_description(table.spark, "iceberg rewrite_data_files: "
                             "remove dangling deletes"):
            res["dangling"] = remove_dangling_deletes(table)
    return res


def _rewrite_read(scan, plan, entries):
    """The live rows of `entries` with every delete of the plan applied,
    read with lineage so compacted rows keep _row_id /
    _last_updated_sequence_number through the rewrite (format/spec.md:
    compaction must not change row lineage)."""
    sub = ScanPlan(entries, plan.pos_deletes, plan.eq_deletes, E.ALWAYS_TRUE,
                   plan.snapshot, plan.report)
    return plan_to_df(scan, sub, with_metadata_columns=False, with_lineage=True)


def _n_out(entries, target) -> int:
    total = sum(e.file.file_size_in_bytes for e in entries)
    return max(1, (total + target - 1) // target)


def _rewrite_sorted_group(table, scan, plan, entries, strategy, target,
                          sort_by, zorder_by):
    """sort / zorder rewrite of one group: the group's rows range-
    partitioned into its byte-target file count."""
    df = _rewrite_read(scan, plan, entries)
    # explicit output-file count: sizing must come from the byte
    # target, not whatever spark.sql.shuffle.partitions happens to be
    n_out = _n_out(entries, target)
    if strategy == "sort" and sort_by:
        df = df.repartitionByRange(n_out, *[F.col(c) for c in sort_by]) \
               .sortWithinPartitions(*[F.col(c) for c in sort_by])
    elif strategy == "zorder" and zorder_by:
        # per-column ranges come free from the manifest stats — no
        # extra data pass even on a 100 TB table
        zbounds = {}
        for c in zorder_by:
            los = [e.file.stats[c][0] for e in entries
                   if e.file.stats.get(c) and e.file.stats[c][0] is not None]
            his = [e.file.stats[c][1] for e in entries
                   if e.file.stats.get(c) and e.file.stats[c][1] is not None]
            if los and his:
                zbounds[c] = (min(los), max(his))
        zkey = zorder_key_column(df, zorder_by, table.schema, zbounds)
        df = (df.withColumn("__zkey", zkey)
                .repartitionByRange(n_out, F.col("__zkey"))
                .sortWithinPartitions("__zkey")
                .drop("__zkey"))
    return write_data_files(table, df, distribution="none",
                            preserve_lineage=True)


def _rewrite_commit(table, scan, plan, to_rewrite, strategy, target,
                    sort_by, zorder_by):
    """Rewrite one batch of file groups and commit it as one
    RewriteFiles; returns (n_rewritten, n_added, bytes_rewritten).

    binpack reads the whole batch as one frame and writes it with one
    hash-distributed write: each partition value goes to one task, so
    the batch writes one file per partition value (an unpartitioned
    spec coalesces to the byte-target file count instead). sort and
    zorder range-partition each group on its own."""
    rewritten = [e for entries in to_rewrite for e in entries]
    desc = (f"iceberg rewrite_data_files: {len(to_rewrite)} groups, "
            f"{len(rewritten)} files")
    with job_description(table.spark, desc):
        if strategy == "binpack":
            df = _rewrite_read(scan, plan, rewritten)
            if not table.metadata.spec.fields:
                df = df.coalesce(sum(_n_out(entries, target)
                                     for entries in to_rewrite))
            added_all = write_data_files(table, df, distribution="hash",
                                         preserve_lineage=True)
        else:
            added_all = []
            for entries in to_rewrite:
                added_all += _rewrite_sorted_group(
                    table, scan, plan, entries, strategy, target,
                    sort_by, zorder_by)
    max_seq = max(e.sequence_number for e in rewritten)

    removed = {e.file.file_path for e in rewritten}
    # rewriting applied the deletes; delete files referencing removed data
    # files become dangling and are dropped by remove_dangling_deletes.
    # Concurrent-delete validation: a pos-delete committed between plan
    # and CAS on a rewritten file would be silently LOST (its rows were
    # re-added without it) — abort instead, like the reference's rewrite
    # commit validation (RewriteDataFilesCommitManager).
    Overwrite(table, added_all, removed, operation=OP_REPLACE,
              preserve_seq_for_added=max_seq,
              isolation="snapshot",
              validate_from_snapshot_id=(plan.snapshot.snapshot_id
                                         if plan.snapshot else -1),
              validate_new_deletes_for=removed).commit()
    return (len(rewritten), len(added_all),
            sum(e.file.file_size_in_bytes for e in rewritten))


# ---------------------------------------------------------------------------
# Z-order (ZOrderByteUtils.java:43 / SparkZOrderUDF.java:50 equivalent)
# ---------------------------------------------------------------------------


def _normalize_to_u64(s: pd.Series, typ: str) -> np.ndarray:
    """Map values to order-preserving uint64 (sign-flip trick)."""
    if typ in ("int", "long", "date", "time"):
        v = pd.to_numeric(s, errors="coerce").fillna(np.int64(-(2**63))).astype("int64")
        return (v.to_numpy().view(np.uint64)) ^ np.uint64(0x8000000000000000)
    if typ in ("timestamp", "timestamp_ntz"):
        v = pd.to_datetime(s).astype("int64").to_numpy()
        return v.view(np.uint64) ^ np.uint64(0x8000000000000000)
    if typ in ("float", "double"):
        v = pd.to_numeric(s, errors="coerce").fillna(-np.inf).astype("float64").to_numpy()
        b = v.view(np.uint64)
        mask = (b >> np.uint64(63)).astype(bool)
        out = np.where(mask, ~b, b | np.uint64(0x8000000000000000))
        return out.astype(np.uint64)
    # strings: first 8 bytes big-endian
    def s2u(x):
        if x is None:
            return 0
        b = str(x).encode("utf-8")[:8].ljust(8, b"\x00")
        return int.from_bytes(b, "big")

    return s.map(s2u).to_numpy(dtype=np.uint64)


def _interleave_bits(cols: list) -> np.ndarray:
    """Interleave bits of k uint64 arrays -> (n, 8k) byte matrix rows."""
    k = len(cols)
    n = len(cols[0])
    bits = np.zeros((n, 64 * k), dtype=np.uint8)
    for ci, arr in enumerate(cols):
        for b in range(64):
            bits[:, b * k + ci] = (arr >> np.uint64(63 - b)) & np.uint64(1)
    return np.packbits(bits, axis=1)


def zorder_key_column(df, by: list, schema, bounds: dict | None = None):
    """`bounds` maps column -> (min, max) over the rewrite scope. Without
    range scaling, columns whose values occupy different bit ranges (e.g. a
    small int key interleaved with a large double) degenerate to
    single-column ordering — the narrow column's variation lives entirely
    in low bits and never influences the interleaved prefix. Min-max
    scaling each column to the full u64 domain makes every column
    contribute to the leading bits, which is what gives files tight
    per-column min/max ranges (and hence metadata pruning) at any scale."""
    types = {f.name: f.type for f in schema.fields}
    col_types = [(c, types[c]) for c in by]
    ubounds = {}
    for c, t in col_types:
        if bounds and c in bounds and bounds[c][0] is not None:
            lo = _normalize_to_u64(pd.Series([bounds[c][0]]), t)[0]
            hi = _normalize_to_u64(pd.Series([bounds[c][1]]), t)[0]
            if hi > lo:
                ubounds[c] = (lo, hi)

    @F.pandas_udf(T.BinaryType())
    def _zkey(*series: pd.Series) -> pd.Series:
        arrs = []
        for s, (c, t) in zip(series, col_types):
            u = _normalize_to_u64(s, t)
            if c in ubounds:
                lo, hi = ubounds[c]
                # subtract in uint64 first: casting u (~2^63) to float64
                # before subtracting would round away any delta < 2^11
                delta = np.where(u > lo, u - np.uint64(lo), np.uint64(0))
                frac = delta.astype(np.float64) / np.float64(hi - lo)
                u = (np.clip(frac, 0.0, 1.0)
                     * np.float64(2**63)).astype(np.uint64)
            arrs.append(u)
        packed = _interleave_bits(arrs)
        return pd.Series([bytes(packed[i]) for i in range(len(packed))])

    return _zkey(*[F.col(c) for c in by])


# ---------------------------------------------------------------------------
# rewrite manifests
# ---------------------------------------------------------------------------


def rewrite_manifests(table) -> dict:
    """Consolidate/re-cluster manifests (RewriteManifestsSparkAction)."""
    base = table.metadata
    snap = base.current_snapshot()
    if snap is None:
        return {"rewritten_manifests": 0}
    manifests = read_manifest_list(snap.manifest_list)

    from .writes import SnapshotProducer

    class _RewriteManifests(SnapshotProducer):
        def _apply(self, b, seq):
            ms = self._base_manifests(b)
            merged = maybe_merge_manifests(table, b, ms, self.snapshot_id, force=True)
            return merged, OP_REPLACE, {"manifests-replaced": str(len(ms)),
                                        "manifests-added": str(len(merged))}

    _RewriteManifests(table).commit()
    new_count = len(read_manifest_list(table.metadata.current_snapshot().manifest_list))
    return {"rewritten_manifests": len(manifests), "new_manifests": new_count}


# ---------------------------------------------------------------------------
# expire snapshots
# ---------------------------------------------------------------------------


# retention defaults (core/.../TableProperties.java; spec format/spec.md:1097)
MAX_SNAPSHOT_AGE_PROP = "history.expire.max-snapshot-age-ms"
MIN_SNAPSHOTS_PROP = "history.expire.min-snapshots-to-keep"
MAX_REF_AGE_PROP = "history.expire.max-ref-age-ms"


def _check_gc_enabled(table, what: str):
    """Snapshot-by-reference tables (e.g. Delta imports) set
    gc.enabled=false: their data files belong to the source table, so
    file-deleting maintenance must refuse (reference
    TableProperties.GC_ENABLED; RemoveSnapshots/DeleteOrphanFiles throw)."""
    if str(table.metadata.properties.get("gc.enabled", "true")).lower() == "false":
        raise ValueError(
            f"Cannot {what}: GC is disabled for this table "
            "(gc.enabled=false — its data files are externally owned)")


def _retention_keep(m, now: int, older_than_ms, retain_last: int):
    """Per-ref retention (RemoveSnapshots.java:308-313 semantics): refs past
    their max-ref-age are dropped; each retained branch keeps its newest
    min-snapshots-to-keep ancestors plus any ancestor newer than the
    branch's max-snapshot-age cutoff; tags keep only their snapshot;
    unreferenced snapshots survive only while newer than the default
    cutoff. Returns (keep_ids, retained_refs)."""
    props = m.properties or {}
    if older_than_ms is not None:
        default_cutoff = older_than_ms
    elif MAX_SNAPSHOT_AGE_PROP in props:
        default_cutoff = now - int(props[MAX_SNAPSHOT_AGE_PROP])
    else:
        # historical engine behavior for parameterless calls: no age floor
        default_cutoff = now + 1
    default_min_keep = max(max(retain_last, 1),
                           int(props.get(MIN_SNAPSHOTS_PROP, 1)))
    default_max_ref_age = props.get(MAX_REF_AGE_PROP)
    default_max_ref_age = (int(default_max_ref_age)
                           if default_max_ref_age is not None else None)

    retained_refs = {}
    for name, r in m.refs.items():
        if name == MAIN_BRANCH:
            retained_refs[name] = r
            continue
        max_ref_age = (r.max_ref_age_ms if r.max_ref_age_ms is not None
                       else default_max_ref_age)
        if max_ref_age is not None:
            try:
                ref_ts = m.snapshot_by_id(r.snapshot_id).timestamp_ms
            except KeyError:
                ref_ts = None
            if ref_ts is not None and now - ref_ts > max_ref_age:
                continue  # ref itself expired
        retained_refs[name] = r

    keep_ids = set()
    for name, r in retained_refs.items():
        if r.type == "tag":
            keep_ids.add(r.snapshot_id)
            continue
        if name == MAIN_BRANCH:
            # explicit args are main's defaults; ref-level settings tighten
            cutoff = (now - r.max_snapshot_age_ms
                      if r.max_snapshot_age_ms is not None
                      and older_than_ms is None else default_cutoff)
            min_keep = max(default_min_keep, r.min_snapshots_to_keep or 0)
        else:
            cutoff = (now - r.max_snapshot_age_ms
                      if r.max_snapshot_age_ms is not None else default_cutoff)
            min_keep = (r.min_snapshots_to_keep
                        if r.min_snapshots_to_keep is not None
                        else default_min_keep)
        for i, s in enumerate(m.ancestors_of(r.snapshot_id)):  # newest first
            if i < max(min_keep, 1) or s.timestamp_ms >= cutoff:
                keep_ids.add(s.snapshot_id)
    for s in m.snapshots:
        if s.snapshot_id not in keep_ids and s.timestamp_ms >= default_cutoff:
            keep_ids.add(s.snapshot_id)
    return keep_ids, retained_refs


def reachable_metadata_ids(m, snaps, mans, spark=None,
                           use_spark: bool = False) -> tuple:
    """(reachable spec ids, reachable schema ids) through the given
    snapshots + their deduped manifests (RemoveSnapshots.java:239-275).
    Specs come from manifest-list entries alone; schemas from snapshot
    schema-ids WIDENED by every write_schema_id a manifest entry still
    names — the engine reads files through their write schema, so a
    schema named by any retained entry (live or changelog-readable
    deleted) must survive pruning. The manifest walk only runs when some
    schema isn't already reachable the cheap way."""
    reach_specs = {m.default_spec_id} | {mf.spec_id for mf in mans}
    reach_schemas = ({m.current_schema_id}
                     | {s.schema_id for s in snaps})
    if {s.schema_id for s in m.schemas} - reach_schemas:
        if use_spark:
            from .metadata_df import distinct_write_schema_ids

            reach_schemas |= distinct_write_schema_ids(spark, mans)
        else:
            for mf in mans:
                mf_spec = m.spec_by_id(mf.spec_id)
                for e in read_manifest(mf.path, m.schema, mf_spec):
                    reach_schemas.add(e.file.write_schema_id)
    return reach_specs, reach_schemas


def expire_snapshots(table, older_than_ms=None, retain_last: int = 1,
                     delete_files: bool = True, mode: str = "auto",
                     clean_expired_metadata: bool = False,
                     expire_snapshot_ids=None) -> dict:
    """Apply retention (format/spec.md:1115) with per-ref policies, then
    delete files only reachable from expired snapshots.

    Reachability runs in one of two modes (ExpireSnapshotsSparkAction):
    LOCAL — Python set math over the (cached) manifest reads, fastest for
    small metadata; DISTRIBUTED — a Parquet read over the manifest
    files with a `left_anti` join kept-vs-expired, so driver memory stays
    flat at any file count. AUTO switches on total entry count from the
    manifest-list summaries (no manifest reads needed to decide).

    `clean_expired_metadata` additionally drops partition specs and schemas
    no retained snapshot can reach (RemoveSnapshots.java:171,239-275).
    Spec reachability comes from manifest-list entries alone, as in the
    reference. Schema reachability is WIDER here than the reference's
    snapshot-schema-id walk: the engine reads each data file through its
    recorded `write_schema_id` (parquet field IDs don't gate column
    resolution in Spark), so every write-schema id present in a retained
    manifest — live or deleted entry, since changelog scans re-read
    deleted files too — pins its schema."""
    from .metadata_df import (DISTRIBUTED_ENTRY_THRESHOLD, entry_count,
                              reachable_data_paths_df, unique_manifests)

    _check_gc_enabled(table, "expire snapshots")
    m = table.metadata
    now = int(time.time() * 1000)
    if (expire_snapshot_ids and older_than_ms is None
            and MAX_SNAPSHOT_AGE_PROP not in (m.properties or {})):
        # explicit-ids-only call: age-based retention expires NOTHING
        # (cutoff 0 = epoch), only the named snapshots go — otherwise the
        # engine's parameterless "no age floor" default would sweep every
        # unreferenced ancestor alongside the requested ids
        older_than_ms = 0
    keep_ids, retained_refs = _retention_keep(m, now, older_than_ms, retain_last)
    if expire_snapshot_ids:
        # ExpireSnapshots.expireSnapshotId: explicitly-named snapshots
        # expire in ADDITION to retention — unknown ids and retained-ref
        # heads refuse loudly (RemoveSnapshots.java expireSnapshotId +
        # ref-head validation)
        req = set(expire_snapshot_ids)
        known = {s.snapshot_id for s in m.snapshots}
        unknown = req - known
        if unknown:
            raise ValueError(
                f"cannot expire unknown snapshots: {sorted(unknown)}")
        pinned = req & {r.snapshot_id for r in retained_refs.values()}
        if pinned:
            raise ValueError(
                "cannot expire snapshots still referenced by a branch or "
                f"tag head: {sorted(pinned)}")
        keep_ids -= req

    expired = [s for s in m.snapshots if s.snapshot_id not in keep_ids]
    dropped_refs = len(m.refs) - len(retained_refs)
    if not expired and not dropped_refs and not clean_expired_metadata:
        return {"expired_snapshots": 0, "deleted_files": 0,
                "deleted_data_files": 0, "deleted_manifests": 0,
                "deleted_statistics_files": 0, "removed_refs": 0,
                "removed_partition_specs": 0, "removed_schemas": 0}

    kept_snaps = [s for s in m.snapshots if s.snapshot_id in keep_ids]
    kept_mans = unique_manifests(kept_snaps)
    expd_mans = unique_manifests(expired)
    k_man_paths = {mf.path for mf in kept_mans}
    e_only = [mf for mf in expd_mans if mf.path not in k_man_paths]
    dead_mans = {mf.path for mf in e_only}
    k_mls = {s.manifest_list for s in kept_snaps}
    e_mls = {s.manifest_list for s in expired}

    use_spark = mode == "distributed" or (
        mode == "auto"
        and entry_count(kept_mans) + entry_count(e_only)
        > DISTRIBUTED_ENTRY_THRESHOLD)

    # cleanExpiredMetadata: specs from manifest-list entries (no manifest
    # reads — RemoveSnapshots.java:246-258); schemas from retained
    # snapshots' schema-ids PLUS retained entries' write_schema_ids
    # (engine-specific: reads resolve columns through the write schema)
    new_specs, new_schemas = m.partition_specs, m.schemas
    n_rm_specs = n_rm_schemas = 0
    if clean_expired_metadata:
        reach_specs, reach_schemas = reachable_metadata_ids(
            m, kept_snaps, kept_mans,
            spark=table.spark, use_spark=use_spark)
        new_specs = tuple(s for s in m.partition_specs
                          if s.spec_id in reach_specs)
        new_schemas = tuple(s for s in m.schemas
                            if s.schema_id in reach_schemas)
        n_rm_specs = len(m.partition_specs) - len(new_specs)
        n_rm_schemas = len(m.schemas) - len(new_schemas)
        if not expired and not dropped_refs \
                and not n_rm_specs and not n_rm_schemas:
            # pure-clean call with nothing prunable: no-op, no commit
            # (reference builder collapses this case too)
            return {"expired_snapshots": 0, "deleted_files": 0,
                    "deleted_data_files": 0, "deleted_manifests": 0,
                    "deleted_statistics_files": 0, "removed_refs": 0,
                    "removed_partition_specs": 0, "removed_schemas": 0}

    # statistics files of expired snapshots expire with them
    # (RemoveSnapshots.java deleteExpiredStatisticsFiles; procedure output
    # deleted_statistics_files_count)
    def _live_stats(entries):
        keep, drop = [], []
        for e in entries:
            sid = e.get("snapshot-id")
            (keep if sid is None or sid in keep_ids else drop).append(e)
        return tuple(keep), drop

    new_stats, dead_stats = _live_stats(m.statistics_files)
    new_pstats, dead_pstats = _live_stats(m.partition_statistics_files)

    # commit the retention FIRST: if the commit fails, no file has been
    # unlinked and the still-current metadata stays fully readable; file
    # cleanup below is safe because the new metadata no longer references
    # anything we delete (RemoveSnapshots commits, then cleanExpiredFiles)
    new_snapshots = tuple(s for s in m.snapshots if s.snapshot_id in keep_ids)
    new_log = tuple(e for e in m.snapshot_log if e[1] in keep_ids)
    # encryption-keys hygiene (RemoveSnapshots keyMetadata cleanup):
    # manifest-list key entries of expired snapshots go with them; KEKs
    # stay only while a kept entry still chains through them
    new_keys = m.encryption_keys
    if m.encryption_keys:
        live_kids = {s.key_id for s in new_snapshots if s.key_id}
        kept_entries = [e for e in m.encryption_keys
                        if e["key-id"] in live_kids]
        live_keks = {e.get("encrypted-by-id") for e in kept_entries}
        new_keys = tuple(
            e for e in m.encryption_keys
            if e["key-id"] in live_kids or e["key-id"] in live_keks)
    table._commit_metadata(replace(m, snapshots=new_snapshots,
                                   snapshot_log=new_log, refs=retained_refs,
                                   statistics_files=new_stats,
                                   partition_statistics_files=new_pstats,
                                   encryption_keys=new_keys,
                                   partition_specs=new_specs,
                                   schemas=new_schemas))

    n_dead_data = 0
    deleted = 0

    def _unlink(p):
        nonlocal deleted
        try:
            _io.delete_file(p)
            deleted += 1
        except Exception:  # best-effort cleanup; the commit already stands
            pass

    if e_only and use_spark:
        e_df = reachable_data_paths_df(table.spark, e_only, m.location)
        k_df = reachable_data_paths_df(table.spark, kept_mans, m.location)
        dead_df = (e_df if k_df is None
                   else e_df.join(k_df, "file_path", "left_anti")).persist()
        try:
            # executor-side deletes; only counts reach the driver
            n_dead_data = dead_df.count()
            if delete_files:
                deleted += _distributed_unlink(dead_df, "file_path")
        finally:
            dead_df.unpersist()
    elif e_only:
        def data_of(mans):
            out = set()
            for mf in mans:
                spec = m.spec_by_id(mf.spec_id)
                for e in read_manifest(mf.path, m.schema, spec):
                    out.add(e.file.file_path)
            return out

        dead_datas = data_of(e_only) - data_of(kept_mans)
        n_dead_data = len(dead_datas)
        if delete_files:
            for p in dead_datas:
                _unlink(p)

    if delete_files:
        for p in (e_mls - k_mls) | dead_mans:
            _unlink(p)
        for e in dead_stats + dead_pstats:
            p = e.get("statistics-path") or e.get("path")
            if p:
                _unlink(p)

    return {"expired_snapshots": len(expired), "deleted_files": deleted,
            # reference procedure output names (ExpireSnapshotsProcedure.java)
            "deleted_data_files": n_dead_data,
            "deleted_manifests": len(dead_mans),
            "deleted_statistics_files": len(dead_stats) + len(dead_pstats),
            "removed_refs": dropped_refs,
            "removed_partition_specs": n_rm_specs,
            "removed_schemas": n_rm_schemas}


# ---------------------------------------------------------------------------
# reachable-file purge (drop table with purge)
# ---------------------------------------------------------------------------


def delete_reachable_files(table, dry_run: bool = False,
                           mode: str = "auto") -> dict:
    """Full-reachability purge from the table's metadata
    (spark/v4.0/spark/.../actions/DeleteReachableFilesSparkAction.java):
    every data/delete file reachable from ANY snapshot, every manifest and
    manifest list, statistics files, and all metadata.json versions. Used
    by drop-table-with-purge. With dry_run the closure is listed but
    nothing is deleted.

    The file-level closure is computed LOCAL (Python sets over cached
    manifest reads) or DISTRIBUTED (one Parquet read over all
    manifests, distinct paths streamed back) — AUTO picks by total entry
    count from the manifest-list summaries, so a 100 TB purge plan never
    materializes file rows on the driver.

    Returns reference-named counts plus `paths` (the closure) on dry runs.
    """
    from pyspark.sql import functions as _F

    from .manifests import EQUALITY_DELETES
    from .metadata_df import (DISTRIBUTED_ENTRY_THRESHOLD, core_entries_df,
                              entry_count, unique_manifests)

    if not dry_run:
        _check_gc_enabled(table, "delete reachable files")

    m = table.metadata
    manifests = unique_manifests(m.snapshots)
    mans = {mf.path for mf in manifests}
    mls = {s.manifest_list for s in m.snapshots}

    use_spark = mode == "distributed" or (
        mode == "auto" and entry_count(manifests) > DISTRIBUTED_ENTRY_THRESHOLD)

    n_by_content = {DATA: 0, POSITION_DELETES: 0, EQUALITY_DELETES: 0}
    deleted = 0

    def _unlink(p):
        nonlocal deleted
        try:
            _io.delete_file(p)
            deleted += 1
        except Exception:  # best-effort cleanup; the commit already stands
            pass

    dry_paths = []
    if manifests and use_spark:
        df = core_entries_df(table.spark, manifests, m.location)
        # a path always carries one content value, so distinct pairs ==
        # distinct paths; partial (map-side) aggregation dedups before
        # the shuffle
        dfu = df.select("file_path", "content").distinct()
        if dry_run:
            # Metadata-tier shuffle sizing: a default-width distinct over
            # ~10k entry rows costs ~8x the manifest scan itself in pure
            # task scheduling (32 map x 32 AQE-parallelismFirst-kept
            # reducers, measured). Dedup through a handful of reducers
            # sized by entry count instead — the scan stays as parallel
            # as before, only the tiny exchange narrows. (Partitioning on
            # file_path alone satisfies the dropDuplicates clustering, so
            # no second exchange appears.)
            n_red = max(2, min(table.spark.sparkContext.defaultParallelism,
                               entry_count(manifests) // 50_000 + 1))
            dfu = (df.select("file_path", "content")
                   .repartition(n_red, "file_path").dropDuplicates())
            # ONE job total: the closure is exactly what the caller
            # receives in `paths`, and the per-content counts fall out of
            # the same collected rows — no second aggregation job
            for r in dfu.collect():
                n_by_content[r["content"]] += 1
                dry_paths.append(r["file_path"])
        else:
            dfu = dfu.persist()  # counts job + unlink job share the scan
            try:
                counts = (dfu.groupBy("content")
                          .agg(_F.count(_F.lit(1)).alias("n")).collect())
                for r in counts:
                    n_by_content[r["content"]] = r["n"]
                # deletes run EXECUTOR-side where the listing lives (the
                # DeleteReachableFiles bulk-delete shape); only the count
                # returns
                deleted += _distributed_unlink(dfu, "file_path")
            finally:
                dfu.unpersist()
    elif manifests:
        by_content = {DATA: set(), POSITION_DELETES: set(),
                      EQUALITY_DELETES: set()}
        for mf in manifests:
            spec = m.spec_by_id(mf.spec_id)
            for e in read_manifest(mf.path, m.schema, spec):
                by_content[e.file.content].add(e.file.file_path)
        for c, paths in by_content.items():
            n_by_content[c] = len(paths)
            for p in paths:
                if dry_run:
                    dry_paths.append(p)
                else:
                    _unlink(p)

    stats_files = set()
    for st in m.statistics_files + m.partition_statistics_files:
        p = (st.get("path") or st.get("statistics-path")) \
            if isinstance(st, dict) else None
        if p:
            stats_files.add(p)
    meta_files = set()
    meta_dir = getattr(table.ops, "metadata_dir", None)
    if meta_dir:
        meta_files.update(table.ops.io.walk_files(meta_dir))

    rest = mans | mls | stats_files | meta_files
    if dry_run:
        dry_paths.extend(rest)
    else:
        for p in rest:
            _unlink(p)
    out = {
        "deleted_data_files_count": n_by_content[DATA],
        "deleted_position_delete_files_count": n_by_content[POSITION_DELETES],
        "deleted_equality_delete_files_count": n_by_content[EQUALITY_DELETES],
        "deleted_manifests_count": len(mans),
        "deleted_manifest_lists_count": len(mls),
        "deleted_statistics_files_count": len(stats_files),
        "deleted_metadata_files_count": len(meta_files),
        "deleted_files_total": deleted if not dry_run else 0,
    }
    if dry_run:
        out["paths"] = sorted(set(dry_paths))
    return out


# ---------------------------------------------------------------------------
# orphan files
# ---------------------------------------------------------------------------


# DeleteOrphanFilesSparkAction defaults: s3-family schemes are one store
DEFAULT_EQUAL_SCHEMES = {"s3n": "s3", "s3a": "s3"}

_URI_RE = None


def _file_uri(p: str, eq_schemes: dict, eq_auth: dict):
    """(scheme, authority, path) triple with scheme/authority collapsed
    through the equivalence maps — the FileURI analog. `file:` URIs and
    plain paths normalize to the same triple; trailing slashes drop."""
    global _URI_RE
    if _URI_RE is None:
        import re

        _URI_RE = re.compile(r"^([A-Za-z][A-Za-z0-9+.-]*)://([^/]*)(/.*)?$")
    p = p.rstrip("/")
    if p.startswith("file:"):
        p = "/" + p[len("file:"):].lstrip("/")
    m = _URI_RE.match(p)
    if not m:
        # plain path — safe to normpath (never normpath a URI: it folds
        # the "//" after the scheme)
        return "", "", os.path.normpath(p)
    scheme, auth, path = m.group(1).lower(), m.group(2), m.group(3) or "/"
    return eq_schemes.get(scheme, scheme), eq_auth.get(auth, auth), path


# files whose paths fit comfortably on the driver as a returned list; a
# bigger delete set stays distributed and only a bounded sample comes back
DRIVER_DELETE_LIST_MAX = 100_000


def _distributed_unlink(df, path_col: str) -> int:
    """Executor-side unlink of every path in `df` (remote-FileIO-shaped:
    the delete runs where the listing lives — the reference's bulk-delete
    executor in DeleteOrphanFilesSparkAction). Only per-partition counts
    reach the driver."""
    import pandas as _pd

    def rm(batches):
        # Python workers have no JVM gateway: local/file paths use os,
        # remote schemes use pyarrow's built-in filesystems (S3/GCS)
        import os as _os
        from urllib.parse import urlparse as _up

        n = 0
        for b in batches:
            for p in b[path_col]:
                try:
                    if p.startswith("/"):
                        _os.unlink(p)
                    elif p.startswith("file:"):
                        _os.unlink(_up(p).path)
                    else:
                        import pyarrow.fs as _pafs

                        fs, rel = _pafs.FileSystem.from_uri(p)
                        fs.delete_file(rel)
                    n += 1
                except Exception:
                    pass
        yield _pd.DataFrame({"n": [n]})

    r = df.mapInPandas(rm, "n long").agg(F.sum("n")).collect()[0][0]
    return int(r or 0)


def remove_orphan_files(table, older_than_ms=None, dry_run: bool = False,
                        mode: str = "auto",
                        equal_schemes: dict = None,
                        equal_authorities: dict = None,
                        prefix_mismatch_mode: str = "error") -> list:
    """actual-files anti-join valid-files with URI normalization
    (DeleteOrphanFilesSparkAction.java:257-358).

    LOCAL mode walks the data dir and checks a Python valid-set;
    DISTRIBUTED mode parallelizes the recursive listing across executors
    (listDirRecursively analog) and anti-joins it against the valid-file
    DataFrame read from the manifest Parquet — the only rows reaching the
    driver are the orphans themselves (the delete list).

    Comparison is by URI triple (scheme, authority, path), with
    `equal_schemes` / `equal_authorities` collapsing equivalent prefixes
    (s3n/s3a -> s3 by default). A listed file whose PATH matches a valid
    file but whose scheme/authority differs is ambiguous:
    `prefix_mismatch_mode` 'error' raises (default), 'ignore' keeps the
    file, 'delete' treats it as orphan — PrefixMismatchMode semantics."""
    from pyspark.sql import functions as _F

    from .metadata_df import (DISTRIBUTED_ENTRY_THRESHOLD, entry_count,
                              listing_df, reachable_data_paths_df,
                              unique_manifests)

    if not dry_run:
        _check_gc_enabled(table, "remove orphan files")
    if prefix_mismatch_mode not in ("error", "ignore", "delete"):
        raise ValueError(
            f"prefix_mismatch_mode must be error|ignore|delete, "
            f"got {prefix_mismatch_mode!r}")
    eqs = {**DEFAULT_EQUAL_SCHEMES, **(equal_schemes or {})}
    eqa = dict(equal_authorities or {})
    m = table.metadata
    now = time.time()
    cutoff_s = (older_than_ms / 1000.0) if older_than_ms is not None else now - 3 * 86400
    manifests = unique_manifests(m.snapshots)
    # a configured write.data.path adds a second root the walk must
    # cover (files written before the property was set live under the
    # default <location>/data)
    from .locations import data_roots

    bases = [b for b in data_roots(table)
             if _io.resolve_io(b, table.spark).exists(b)]
    if not bases:
        return []

    use_spark = mode == "distributed" or (
        mode == "auto" and entry_count(manifests) > DISTRIBUTED_ENTRY_THRESHOLD)

    def _raise_conflicts(samples):
        raise ValueError(
            "Unable to determine whether certain files are orphan: metadata "
            "references files matching listed files except for "
            "authority/scheme. Configure equal_schemes/equal_authorities, or "
            "set prefix_mismatch_mode to 'ignore' or 'delete'. Conflicts: "
            f"{samples[:3]}")

    def _uri_cols(c):
        p = _F.regexp_replace(_F.regexp_replace(c, "/+$", ""),
                              "^file:/+", "/")
        scheme = _F.lower(_F.regexp_extract(
            p, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
        rest = _F.regexp_replace(p, r"^[A-Za-z][A-Za-z0-9+.-]*://", "")
        auth = _F.when(scheme == "", _F.lit("")) \
                 .otherwise(_F.regexp_extract(rest, r"^([^/]*)", 1))
        path = _F.when(scheme == "", p) \
                 .otherwise(_F.regexp_replace(rest, r"^[^/]*", ""))
        path = _F.when((scheme != "") & (path == ""), _F.lit("/")) \
                 .otherwise(path)

        def remap(col, mapping):
            if not mapping:
                return col
            mc = _F.create_map(*[_F.lit(x) for kv in mapping.items()
                                 for x in kv])
            return _F.coalesce(mc[col], col)

        return remap(scheme, eqs), remap(auth, eqa), path

    if use_spark:
        listings = [listing_df(table.spark, b) for b in bases]
        actual = listings[0]
        for l_ in listings[1:]:
            actual = actual.unionByName(l_)
        actual = actual.filter(_F.col("mtime") < _F.lit(cutoff_s))
        valid = reachable_data_paths_df(table.spark, manifests, m.location)
        if valid is None:
            orph_df = actual.select("actual_path").persist()
            try:
                orphans = sorted(
                    r["actual_path"] for r in
                    orph_df.limit(DRIVER_DELETE_LIST_MAX).collect())
                if not dry_run:
                    _distributed_unlink(orph_df, "actual_path")
            finally:
                orph_df.unpersist()
            return orphans
        else:
            a_s, a_a, a_p = _uri_cols(_F.col("actual_path"))
            av = actual.select("actual_path", a_s.alias("a_s"),
                               a_a.alias("a_a"), a_p.alias("a_p"))
            v_s, v_a, v_p = _uri_cols(_F.col("file_path"))
            vv = (valid.select(v_s.alias("v_s"), v_a.alias("v_a"),
                               v_p.alias("v_p")).distinct())
            full = (_F.col("v_p").isNotNull()
                    & (_F.col("a_s") == _F.col("v_s"))
                    & (_F.col("a_a") == _F.col("v_a")))
            mism = (_F.col("v_p").isNotNull()
                    & ((_F.col("a_s") != _F.col("v_s"))
                       | (_F.col("a_a") != _F.col("v_a"))))
            agg = (av.join(vv, av.a_p == vv.v_p, "left")
                   .groupBy("actual_path")
                   .agg(_F.max(full.cast("int")).alias("full"),
                        _F.max(mism.cast("int")).alias("mism")))
            if prefix_mismatch_mode == "error":
                conflicts = [r["actual_path"] for r in
                             agg.filter("mism = 1").limit(3).collect()]
                if conflicts:
                    _raise_conflicts(conflicts)
            orphan_pred = ("full = 0 AND mism = 0"
                           if prefix_mismatch_mode != "delete"
                           else "full = 0")
            orph_df = (agg.filter(orphan_pred)
                       .select("actual_path").persist())
            try:
                # deletes run on executors; the driver keeps only a
                # bounded listing (full below DRIVER_DELETE_LIST_MAX)
                orphans = sorted(
                    r["actual_path"] for r in
                    orph_df.limit(DRIVER_DELETE_LIST_MAX).collect())
                if not dry_run:
                    _distributed_unlink(orph_df, "actual_path")
            finally:
                orph_df.unpersist()
            return orphans
    else:
        from collections import defaultdict

        valid_by_path = defaultdict(set)

        def _add_valid(p):
            s, a, pa = _file_uri(p, eqs, eqa)
            valid_by_path[pa].add((s, a))

        for s in m.snapshots:
            _add_valid(s.manifest_list)
        for mf in manifests:
            _add_valid(mf.path)
            spec = m.spec_by_id(mf.spec_id)
            for e in read_manifest(mf.path, m.schema, spec):
                _add_valid(e.file.file_path)
        orphans = []
        conflicts = []
        for p, mtime_s in (pm for b in bases
                           for pm in
                           _io.resolve_io(b).walk_file_status(b)):
                # age-gate FIRST (distributed mode filters the listing by
                # mtime before the join, so a too-recent file can never
                # raise a conflict there — keep local mode consistent).
                # A stat failure also skips conflict detection: distributed
                # listing drops unstattable files the same way
                if mtime_s is None or mtime_s >= cutoff_s:
                    continue
                s, a, pa = _file_uri(p, eqs, eqa)
                hits = valid_by_path.get(pa)
                if hits is not None:
                    if (s, a) in hits:
                        continue
                    if prefix_mismatch_mode == "error":
                        conflicts.append(p)
                        continue
                    if prefix_mismatch_mode == "ignore":
                        continue
                orphans.append(p)
        if conflicts:
            _raise_conflicts(conflicts)
    if not dry_run:
        for p in orphans:
            try:
                _io.delete_file(p)
            except Exception:
                pass
    return orphans


# ---------------------------------------------------------------------------
# dangling deletes / posdelete compaction
# ---------------------------------------------------------------------------


def remove_dangling_deletes(table) -> int:
    """Drop delete files that can no longer apply to any live data file
    (RemoveDanglingDeletesSparkAction): pos deletes whose referenced data
    files are gone; eq deletes with seq <= min live data seq.

    The scan planner already prunes delete entries that cannot apply to any
    live data file — exactly the dangling set this action targets — so the
    candidates are enumerated UNPRUNED from the snapshot's delete manifests
    (the reference likewise reads delete manifests directly,
    RemoveDanglingDeletesSparkAction.java), while `plan_files()` supplies
    only the live data-file side."""
    from .manifests import DELETED as _DELETED, EQUALITY_DELETES
    from .scan import _data_rel, pos_delete_rows_df

    scan = table.scan()
    plan = scan.plan_files()
    # location-independent comparison: delete contents/stats carry
    # write-time absolute paths that go stale after a relative-path
    # table relocation (matches the scan-side _data_rel normalization)
    live_paths = {_data_rel(e.file.file_path) for e in plan.files}
    # no live data files -> every delete file is dangling (inf sentinel)
    min_data_seq = min((e.sequence_number for e in plan.files),
                       default=float("inf"))
    pos_deletes, eq_deletes = [], []
    if plan.snapshot is not None:
        for e in scan._read_entries_local(
                read_manifest_list(plan.snapshot.manifest_list)):
            if e.status == _DELETED:
                continue
            if e.file.content == POSITION_DELETES:
                pos_deletes.append(e)
            elif e.file.content == EQUALITY_DELETES:
                eq_deletes.append(e)
    # one Puffin file can hold DVs for MANY data files, and removal is by
    # path — so a shared container is dangling only when EVERY vector in
    # it references a dead file (the reference likewise never rewrites
    # Puffin files on data-file removal, format/spec.md:1364)
    puffin_total: dict = {}
    puffin_dead: dict = {}
    dangling = set()
    unscoped = []  # path-ranged files: only their rows name their targets
    for d in pos_deletes:
        st = d.file.stats.get("file_path")
        refs = None
        if d.file.referenced_data_file:
            refs = {_data_rel(d.file.referenced_data_file)}
        elif st and st[0] is not None and st[0] == st[1]:
            refs = {_data_rel(st[0])}
        # pos deletes apply when delete.seq >= data.seq: one sequenced
        # below every live data file is dead regardless of path refs
        seq_dead = d.sequence_number < min_data_seq
        if d.file.file_format == "puffin":
            p = d.file.file_path
            puffin_total[p] = puffin_total.get(p, 0) + 1
            if seq_dead or (refs is not None and not (refs & live_paths)):
                puffin_dead[p] = puffin_dead.get(p, 0) + 1
            continue
        if seq_dead:
            dangling.add(d.file.file_path)
        elif refs is not None:
            if not (refs & live_paths):
                dangling.add(d.file.file_path)
        else:
            unscoped.append(d)
    if unscoped:
        # one read over every unscoped file: the data files each one
        # names, keyed by the delete file's path without its scheme
        # (`_metadata` reports `file:` URIs as plain paths)
        refs_of: dict = {}
        for r in (pos_delete_rows_df(table.spark, unscoped, with_source=True)
                  .select("file_path", "delete_file_path").distinct()
                  .collect()):
            refs_of.setdefault(r["delete_file_path"], set()).add(
                _data_rel(r["file_path"]))
        for d in unscoped:
            p = d.file.file_path
            if not (refs_of.get(_io.strip_scheme(p), set()) & live_paths):
                dangling.add(p)
    for p, total in puffin_total.items():
        if puffin_dead.get(p, 0) == total:
            dangling.add(p)
    for d in eq_deletes:
        if d.sequence_number <= min_data_seq:
            dangling.add(d.file.file_path)
    if dangling:
        Overwrite(table, [], dangling, operation=OP_REPLACE).commit()
    return len(dangling)


def rewrite_position_delete_files(table, to_dvs: bool = False) -> dict:
    """Compact live posdelete files, dropping entries for dead data files
    (RewritePositionDeleteFilesSparkAction.java). With `to_dvs=True` the
    surviving deletes are rewritten as deletion vectors (v3,
    format/spec.md:1372): exactly one delete blob per referenced data file
    with `referenced_data_file` set, so the planner attaches deletes by
    exact file match instead of range overlap."""
    from .scan import pos_delete_rows_df

    plan = table.scan().plan_files()
    if not plan.pos_deletes:
        return {"rewritten": 0, "rewritten_delete_files": 0,
                "added_delete_files": 0}
    spark = table.spark
    live = spark.createDataFrame([(e.file.file_path,) for e in plan.files], ["live_path"])
    old = sorted({d.file.file_path for d in plan.pos_deletes})
    # format-agnostic read: parquet pos-deletes and existing Puffin DVs
    # both expand to (file_path, pos) rows, so re-compaction of DVs works
    df = pos_delete_rows_df(spark, plan.pos_deletes)
    kept = df.join(F.broadcast(live), df.file_path == live.live_path, "left_semi")
    if to_dvs:
        pos_files = _write_dvs(table, kept)
    else:
        pos_files = write_position_deletes(
            table,
            kept.select(F.col("file_path").alias(FILE_PATH_COL), F.col("pos").alias(POS_COL)),
        )
    max_seq = max(d.sequence_number for d in plan.pos_deletes)
    Overwrite(table, [], set(old), operation=OP_REPLACE,
              added_deletes=pos_files, preserve_seq_for_added=max_seq).commit()
    return {"rewritten": len(old), "added": len(pos_files),
            # reference procedure output names
            "rewritten_delete_files": len(old),
            "added_delete_files": len(pos_files)}


def _write_dvs(table, kept) -> list:
    """Write kept (file_path, pos) delete rows as spec-encoded deletion
    vectors: Puffin files holding one `deletion-vector-v1` roaring-bitmap
    blob per referenced data file (format/spec.md:1372,
    core/.../deletes/BaseDVFileWriter.java).

    Spark job: repartition the delete rows by referenced path so each
    task holds complete position sets for its subset of files, then each
    task writes ONE Puffin file containing the vectors for those files
    (the reference's writer also packs many DVs per Puffin file). Only
    the blob descriptors — one row per referenced data file, plan-sized —
    come back to the driver, which builds the manifest entries with
    `content_offset`/`content_size_in_bytes` exactly matching the Puffin
    footer (spec requirement, format/spec.md:753)."""
    import os as _os
    import uuid as _u

    import pandas as _pd

    from .manifests import DataFile, POSITION_DELETES

    from .locations import new_data_dir

    # DataFile paths are recorded in PLAIN form for file:-family
    # locations (one spelling per file across manifests/deletes/scans)
    out_dir = _io.strip_scheme(new_data_dir(table, prefix="dvs-"))
    # fixed width relative to the cluster (NOT a distinct-ref count,
    # which would re-run the whole kept-rows job); empty partitions
    # yield nothing and zero refs simply collect to an empty
    # descriptor list
    n_parts = max(32, table.spark.sparkContext.defaultParallelism)
    # `encryption.key-id` tables: DV Puffin containers encrypt as whole
    # AES GCM Streams under per-file keys wrapped by the master key
    # (ags1-kms key_metadata) — row positions and data-file paths leave
    # no plaintext on disk
    from .parquet_crypto import table_encryption

    enc = table_encryption(table.metadata.properties)

    def write_task(batches):
        import secrets as _secrets

        import numpy as _np

        from .deletion_vectors import write_dv_puffin

        by_ref: dict = {}
        for b in batches:
            for ref, grp in b.groupby("file_path", sort=False):
                by_ref.setdefault(ref, []).append(
                    grp["pos"].to_numpy(dtype=_np.int64))
        if not by_ref:
            return
        path = _os.path.join(out_dir, f"dv-{_u.uuid4().hex}.puffin")
        km = None
        fkey = None
        if enc is not None:
            from .encryption import aes_gcm_encrypt
            from .parquet_crypto import encode_stream_key_metadata

            key_id, master, _bits = enc
            fk, aad = _secrets.token_bytes(16), _secrets.token_bytes(16)
            fkey = (fk, aad)
            km = encode_stream_key_metadata(
                key_id, aes_gcm_encrypt(master, fk,
                                        key_id.encode("utf-8")), aad)
        descs = write_dv_puffin(
            path, {r: _np.concatenate(v) for r, v in by_ref.items()},
            encrypt=fkey)
        yield _pd.DataFrame({
            "puffin_path": [path] * len(descs),
            "ref": [d["referenced_data_file"] for d in descs],
            "offset": [d["content_offset"] for d in descs],
            "length": [d["content_size_in_bytes"] for d in descs],
            "cardinality": [d["cardinality"] for d in descs],
            "file_size": [d["file_size_in_bytes"] for d in descs],
            "key_metadata": [km] * len(descs),
        })

    descs = (kept.repartition(n_parts, "file_path")
             .mapInPandas(write_task,
                          "puffin_path string, ref string, offset long, "
                          "length long, cardinality long, file_size long, "
                          "key_metadata binary")
             .collect())
    return [
        DataFile(
            file_path=r["puffin_path"], file_format="puffin",
            content=POSITION_DELETES, spec_id=table.spec.spec_id,
            partition={}, record_count=r["cardinality"],
            file_size_in_bytes=r["file_size"], stats={},
            referenced_data_file=r["ref"],
            write_schema_id=table.schema.schema_id,
            content_offset=r["offset"],
            content_size_in_bytes=r["length"],
            key_metadata=(bytes(r["key_metadata"])
                          if r["key_metadata"] is not None else None))
        for r in descs
    ]


# ---------------------------------------------------------------------------
# stats
# ---------------------------------------------------------------------------


def _stats_encryption(table):
    """(key, aad, skm_b64) for one NEW stats file under a metadata_key
    table — statistics files carry partition values / NDV sketches, so
    the encrypted-metadata-tree guarantee covers them too. The
    StandardKeyMetadata rides the stats ENTRY in table metadata (itself
    encrypted), an engine-internal extension slot
    (`engine-key-metadata`). None for plaintext catalogs."""
    mkey = getattr(table.ops, "metadata_key", None)
    if mkey is None:
        return None
    import base64
    import secrets

    from .encryption import encode_standard_key_metadata
    from .manifests import register_file_key

    fk, aad = secrets.token_bytes(16), secrets.token_bytes(16)

    def finish(path, length):
        register_file_key(path, fk, aad)
        return base64.b64encode(
            encode_standard_key_metadata(fk, aad, length)).decode("ascii")

    return fk, aad, finish


def _read_stats_parquet(spark, entry):
    """Partition-stats parquet -> DataFrame, decrypting when the entry
    carries engine key metadata (registered keys also work)."""
    import base64

    path = entry["statistics-path"]
    km = entry.get("engine-key-metadata")
    if km is None:
        return spark.read.parquet(path)
    import pyarrow as pa
    import pyarrow.parquet as pq

    from .encryption import decode_standard_key_metadata, decrypt_stream

    fk, aad, _len = decode_standard_key_metadata(base64.b64decode(km))
    raw = _io.resolve_io(path).read_bytes(path)
    t = pq.read_table(pa.BufferReader(decrypt_stream(raw, fk, aad or b"")))
    from pyspark.sql.pandas.types import from_arrow_schema

    return spark.createDataFrame(t.to_pylist(),
                                 schema=from_arrow_schema(t.schema))


def compute_table_stats(table, columns=None) -> dict:
    """NDV per column as mergeable Theta sketches (theta_sketch_agg), the
    Puffin `apache-datasketches-theta-v1` blob analog (NDVSketchUtil.java:
    52-59, ComputeTableStatsSparkAction.java); sketch bytes are stored so
    partial sketches can be unioned across incremental stat runs. Falls
    back to approx_count_distinct when the sketch agg is unavailable."""
    schema = table.schema
    cols = columns or [f.name for f in schema.fields if isinstance(f.type, str)]
    df = table.to_df()
    snap = table.metadata.current_snapshot()
    blobs = {}
    try:
        sk = df.agg(*[F.theta_sketch_agg(c).alias(c) for c in cols]).collect()[0]
        est = df.agg(*[F.theta_sketch_estimate(F.theta_sketch_agg(c)).alias(c)
                       for c in cols]).collect()[0]
        ndv = {c: int(est[c]) for c in cols}
        blobs = {c: bytes(sk[c]).hex() for c in cols}
        stype = "apache-datasketches-theta-v1"
    except Exception:
        row = df.agg(*[F.approx_count_distinct(c).alias(c) for c in cols]).collect()[0]
        ndv = {c: row[c] for c in cols}
        stype = "apache-datasketches-theta-v1-analog(hll)"
    stats = {
        "snapshot-id": snap.snapshot_id if snap else None,
        "type": stype,
        "ndv": ndv,
        "sketches": blobs,
    }
    # persist as a real Puffin file (format/puffin-spec.md): one
    # apache-datasketches-theta-v1 blob per column, ndv in blob properties
    from .puffin import write_puffin

    sdir = os.path.join(table.location, "metadata", "stats")
    path = os.path.join(sdir, f"stats-{_uuid.uuid4().hex}.puffin")
    seq = snap.sequence_number if snap else None
    # write.puffin.compression-codec: zstd (default, what the reference
    # writes — PuffinFormat.java:22) | lz4 | none. Stats blobs only —
    # deletion vectors stay uncompressed per spec.
    codec = (table.metadata.properties
             .get("write.puffin.compression-codec", "zstd").lower())
    if codec not in ("zstd", "lz4", "none"):
        raise ValueError(
            f"unsupported write.puffin.compression-codec: {codec!r} "
            "(zstd | lz4 | none)")
    codec = None if codec == "none" else codec
    senc = _stats_encryption(table)
    facts = write_puffin(path, [
        # the fallback writes NO sketch bytes, so it must not claim the
        # theta type — a spec-compliant consumer would try to deserialize
        {"type": stype,
         "fields": [schema.find_field(c).field_id],
         "snapshot-id": stats["snapshot-id"],
         "sequence-number": seq,
         "data": bytes.fromhex(blobs[c]) if c in blobs else b"",
         **({"compression-codec": codec} if codec else {}),
         "properties": {"ndv": str(ndv[c])}}
        for c in cols
    ], properties={"created-by": "iceberg_spark"},
        encrypt=senc[:2] if senc else None)
    m = table.metadata
    entry = {"snapshot-id": stats["snapshot-id"], "statistics-path": path,
             "file-size-in-bytes": facts["file-size-in-bytes"],
             "file-footer-size-in-bytes": facts["file-footer-size-in-bytes"],
             "blob-metadata": facts["blob-metadata"],
             "ndv": stats["ndv"]}
    if senc:
        entry["engine-key-metadata"] = senc[2](
            path, facts["file-size-in-bytes"])
    # setStatistics semantics (reference UpdateStatistics): one entry per
    # snapshot — replace any existing entry for this snapshot and drop its
    # superseded file (orphan cleanup never walks metadata/stats). The
    # superseded file is unlinked only AFTER the commit succeeds: a failed
    # commit must leave the still-current metadata's stats file intact.
    kept, superseded = [], []
    for e in m.statistics_files:
        if e.get("snapshot-id") == stats["snapshot-id"]:
            old = e.get("statistics-path")
            if old and old != path:
                superseded.append(old)
        else:
            kept.append(e)
    table._commit_metadata(replace(
        m, statistics_files=tuple(kept) + (entry,)))
    for old in superseded:
        try:
            _io.delete_file(old)
        except Exception:
            pass
    return stats


def rewrite_table_path(table, source_prefix: str, target_prefix: str,
                       staging_dir: str = None) -> dict:
    """Rewrite all absolute paths in the metadata tree from source_prefix
    to target_prefix for a DR copy (RewriteTablePathSparkAction /
    core/.../RewriteTablePathUtil). Writes rewritten manifests, manifest
    lists and a v1 metadata JSON under `staging_dir` (default:
    <target_prefix>/) and returns the data-file copy plan — bytes are moved
    by external tooling (distcp-style), metadata only here."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from .manifests import (ManifestFile, read_manifest_arrow,
                            read_manifest_list, write_manifest_list)
    from .metadata import TableOperations

    src = source_prefix.rstrip("/")
    dst = target_prefix.rstrip("/")
    out_root = (staging_dir or dst).rstrip("/")

    def map_path(p):
        if p and p.startswith(src + "/"):
            return dst + p[len(src):]
        return p

    copy_plan = []  # (old_data_file, new_data_file)
    manifest_map = {}  # old manifest path -> new

    m = table.metadata
    # encrypted metadata tree: DECRYPT-REWRAP-REENCRYPT. The copy's
    # manifests/lists re-encrypt under FRESH per-file keys chained
    # through a fresh KEK in the copy's own `encryption-keys`
    # (StandardEncryptionManager shape) — no source key material and no
    # plaintext ever lands under the staging location. Requires the
    # table to have been loaded with its metadata_key (the same key
    # protects the copy; a DR copy is the same trust domain).
    mc = None
    if m.encryption_keys or any(s.key_id for s in m.snapshots):
        mkey = getattr(table.ops, "metadata_key", None)
        if mkey is None:
            raise NotImplementedError(
                "rewrite_table_path on a table with encrypted manifests "
                "requires loading the table through a catalog with its "
                "metadata_key (re-wrapping the copy's keys needs the "
                "KMS context); a keyless decrypt-copy is refused")
        from .encryption import ManifestCrypto
        from .manifests import (_write_metadata_parquet,
                                manifest_encryption_ctx)

        mc = ManifestCrypto(mkey, ())
    mf_skm = {}  # new manifest path -> StandardKeyMetadata | None
    for snap in m.snapshots:
        for mf in read_manifest_list(snap.manifest_list):
            if mf.path in manifest_map:
                continue
            t = read_manifest_arrow(mf.path)
            fp = t["file_path"].to_pylist()
            new_fp = [map_path(p) for p in fp]
            copy_plan.extend((o, n) for o, n in zip(fp, new_fp) if o != n)
            t = t.set_column(t.schema.get_field_index("file_path"),
                             "file_path", pa.array(new_fp, pa.string()))
            if "referenced_data_file" in t.column_names:
                refs = [map_path(p) for p in t["referenced_data_file"].to_pylist()]
                t = t.set_column(t.schema.get_field_index("referenced_data_file"),
                                 "referenced_data_file", pa.array(refs, pa.string()))
            new_mpath = os.path.join(out_root, "metadata", "manifests",
                                     os.path.basename(mf.path))
            if mc is None:
                _io.write_parquet(t, new_mpath)
            else:
                length, skm = _write_metadata_parquet(t, new_mpath, mc)
                mf_skm[new_mpath] = skm
            manifest_map[mf.path] = new_mpath

    # rewrite manifest lists + snapshots (fresh list keys + snapshot
    # key-ids when encrypted; write_manifest_list chains them through
    # mc.added_entries)
    new_snaps = []
    for snap in m.snapshots:
        mfs = read_manifest_list(snap.manifest_list)
        new_mfs = [replace(x, path=manifest_map[x.path],
                           length=os.path.getsize(manifest_map[x.path]),
                           key_metadata=mf_skm.get(manifest_map[x.path]))
                   for x in mfs]
        if mc is None:
            ml_path = write_manifest_list(out_root, snap.snapshot_id,
                                          new_mfs)
            new_snaps.append(replace(snap, manifest_list=ml_path))
        else:
            with manifest_encryption_ctx(mc):
                ml_path = write_manifest_list(out_root, snap.snapshot_id,
                                              new_mfs)
            new_snaps.append(replace(snap, manifest_list=ml_path,
                                     key_id=mc.last_list_key_id))

    new_meta = replace(
        m, location=out_root, snapshots=tuple(new_snaps),
        encryption_keys=(tuple(mc.added_entries) if mc is not None
                         else m.encryption_keys),
        statistics_files=tuple(
            {**e, "statistics-path": map_path(e.get("statistics-path"))}
            for e in m.statistics_files),
        partition_statistics_files=tuple(
            {k: v for k, v in
             {**e, "statistics-path": map_path(
                 e.get("statistics-path") or e.get("path"))}.items()
             # drop the legacy un-rewritten "path" key: it would still
             # point into the SOURCE table after the copy
             if k != "path"}
            for e in m.partition_statistics_files),
    )
    # statistics files move with the table (reference RewriteTablePathUtil
    # includes them in the copy plan): their bytes copy externally like
    # data files. Encrypted stats files stay readable at the new path —
    # their per-file key rides the (rewritten, re-encrypted) metadata's
    # `engine-key-metadata` slot, not a path-bound AAD.
    for e in list(m.statistics_files) + list(m.partition_statistics_files):
        sp = e.get("statistics-path") or e.get("path")
        if sp and map_path(sp) != sp:
            copy_plan.append((sp, map_path(sp)))
    TableOperations(out_root,
                    metadata_key=(getattr(table.ops, "metadata_key", None)
                                  if mc is not None else None)
                    ).commit(None, new_meta)
    return {"staging_location": out_root,
            "rewritten_manifests": len(manifest_map),
            "data_files_to_copy": copy_plan}


def _pstats_incremental_base(m, snap):
    """Nearest ANCESTOR snapshot that already has a partition-stats file,
    plus the ids of the snapshots after it up to `snap`. (None, None)
    when no previous file exists or any intervening snapshot is not a
    pure append (delete/overwrite/replace manifests remove or rewrite
    entries, which a stats MERGE cannot express — full recompute is the
    reference's fallback too, PartitionStatsHandler.java:65-109)."""
    if snap is None or not m.partition_statistics_files:
        return None, None
    by_id = {s.snapshot_id: s for s in m.snapshots}
    have = {e.get("snapshot-id"): e for e in m.partition_statistics_files}
    chain, s = [], snap
    while s is not None:
        if s.snapshot_id in have and s.snapshot_id != snap.snapshot_id:
            if any(c.operation != "append" for c in chain):
                return None, None
            return have[s.snapshot_id], {c.snapshot_id for c in chain}
        chain.append(s)
        pid = s.parent_snapshot_id
        s = by_id.get(pid) if pid is not None else None
    return None, None


def compute_partition_stats(table, incremental: bool = True) -> str:
    """Partition statistics file with the SPEC's schema
    (format/spec.md:1233, core/.../PartitionStatsHandler.java): one row
    per unique partition tuple of the unified partition type (union of
    all specs' fields, ascending field id), aggregated as ONE distributed
    job over the manifest Parquet and written via df.write — the driver
    never materializes the rollup.

    Incremental (PartitionStatsHandler.java:65-109): when a previous
    stats file covers an ancestor snapshot and every snapshot since is a
    pure append, only the manifests ADDED after that ancestor aggregate,
    merged with the previous file — otherwise full recompute. The chosen
    mode and manifests read land in `table.last_partition_stats_report`
    for auditability."""
    from .metadata_df import unique_manifests
    from .schema import type_to_spark

    m = table.metadata
    spark = table.spark
    snap = m.current_snapshot()
    schema = m.schema

    # unified partition type: every field ever part of any spec, sorted
    # ascending by partition field id (spec "unified partition type")
    by_fid: dict = {}
    for sp in m.partition_specs:
        for f in sp.fields:
            try:
                src = schema.field_by_id(f.source_id)
            except KeyError:
                # historical spec whose source column was dropped: its
                # value type is no longer derivable — skip the field
                # rather than failing the whole stats computation
                continue
            by_fid.setdefault(
                f.field_id, (f.name, f.transform.result_type(src.type)))
    ufields = [by_fid[fid] for fid in sorted(by_fid)]
    if not ufields:
        # PartitionStatsHandler.java:101 — the file's partition struct
        # would be empty (unstorable in parquet) for an unpartitioned table
        raise ValueError("table must be partitioned to compute partition stats")

    manifests = unique_manifests([snap]) if snap else []
    out_schema = T.StructType([
        T.StructField("partition", T.StructType([
            T.StructField(nm, type_to_spark(ty)) for nm, ty in ufields])),
        T.StructField("spec_id", T.IntegerType()),
        T.StructField("data_record_count", T.LongType()),
        T.StructField("data_file_count", T.IntegerType()),
        T.StructField("total_data_file_size_in_bytes", T.LongType()),
        T.StructField("position_delete_record_count", T.LongType()),
        T.StructField("position_delete_file_count", T.IntegerType()),
        T.StructField("dv_count", T.IntegerType()),
        T.StructField("equality_delete_record_count", T.LongType()),
        T.StructField("equality_delete_file_count", T.IntegerType()),
        T.StructField("total_record_count", T.LongType()),
        T.StructField("last_updated_at", T.LongType()),
        T.StructField("last_updated_snapshot_id", T.LongType()),
    ])
    snap_ts = {s.snapshot_id: s.timestamp_ms for s in m.snapshots}
    ts_map = (F.create_map(*[F.lit(x) for kv in snap_ts.items()
                             for x in kv])
              if snap_ts else F.lit(None))

    def agg_over(mfs, only_ids=None):
        """Per-partition rollup over a set of manifests; only_ids
        restricts to entries COMMITTED by those snapshots (the
        incremental delta — EXISTING carryovers must not double-count).
        Encrypted manifests route through the decrypting RDD legs."""
        from .metadata_df import _manifest_rows_dfs

        by_spec: dict = {}
        for mf in mfs:
            by_spec.setdefault(mf.spec_id, []).append(mf)
        legs = []
        for spec_id, group in by_spec.items():
            legs += _manifest_rows_dfs(spark, group, m.schema,
                                       m.spec_by_id(spec_id))
        df = legs[0]
        for leg in legs[1:]:
            df = df.unionByName(leg, allowMissingColumns=True)
        names = set(df.columns)
        pcols = [
            (F.col(f"p_{nm}") if f"p_{nm}" in names
             else F.lit(None).cast(type_to_spark(ty))).alias(nm)
            for nm, ty in ufields]
        is_data = F.col("content") == DATA
        is_pos = F.col("content") == POSITION_DELETES
        is_dv = is_pos & (F.col("file_format") == "puffin")
        is_eq = F.col("content") == 2
        flt = F.col("status") != 2  # live entries only
        if only_ids is not None:
            flt = flt & F.col("snapshot_id").isin(
                [int(x) for x in only_ids])
        return (
            df.filter(flt)
            .groupBy(F.struct(*pcols).alias("partition"),
                     F.col("spec_id").cast("int").alias("spec_id"))
            .agg(
                F.sum(F.when(is_data, F.col("record_count")).otherwise(0))
                .alias("data_record_count"),
                F.count(F.when(is_data, 1)).cast("int")
                .alias("data_file_count"),
                F.sum(F.when(is_data, F.col("file_size_in_bytes"))
                      .otherwise(0)).alias("total_data_file_size_in_bytes"),
                F.sum(F.when(is_pos, F.col("record_count")).otherwise(0))
                .alias("position_delete_record_count"),
                F.count(F.when(is_pos & ~is_dv, 1)).cast("int")
                .alias("position_delete_file_count"),
                F.count(F.when(is_dv, 1)).cast("int").alias("dv_count"),
                F.sum(F.when(is_eq, F.col("record_count")).otherwise(0))
                .alias("equality_delete_record_count"),
                F.count(F.when(is_eq, 1)).cast("int")
                .alias("equality_delete_file_count"),
                F.lit(None).cast("long").alias("total_record_count"),
                F.max_by("snapshot_id", "sequence_number")
                .alias("__last_snap"))
            .withColumn("last_updated_at",
                        ts_map[F.col("__last_snap")].cast("long"))
            .withColumnRenamed("__last_snap", "last_updated_snapshot_id")
            .select(*[fld.name for fld in out_schema.fields]))

    stats = None
    report = {"mode": "full",
              "manifests_read": [mf.path for mf in manifests]}
    prev_entry, new_ids = (_pstats_incremental_base(m, snap)
                           if incremental else (None, None))
    if manifests and prev_entry is not None:
        prev_df = _read_stats_parquet(spark, prev_entry)
        prev_fields = [f.name for f in
                       prev_df.schema["partition"].dataType.fields]
        if prev_fields == [nm for nm, _ in ufields]:
            new_mfs = [mf for mf in manifests
                       if mf.added_snapshot_id in new_ids]
            merged = prev_df.select(*[f.name for f in out_schema.fields])
            if new_mfs:
                merged = merged.unionByName(agg_over(new_mfs, new_ids))
            stats = (
                merged.groupBy("partition", "spec_id")
                .agg(F.sum("data_record_count").alias("data_record_count"),
                     F.sum("data_file_count").cast("int")
                     .alias("data_file_count"),
                     F.sum("total_data_file_size_in_bytes")
                     .alias("total_data_file_size_in_bytes"),
                     F.sum("position_delete_record_count")
                     .alias("position_delete_record_count"),
                     F.sum("position_delete_file_count").cast("int")
                     .alias("position_delete_file_count"),
                     F.sum("dv_count").cast("int").alias("dv_count"),
                     F.sum("equality_delete_record_count")
                     .alias("equality_delete_record_count"),
                     F.sum("equality_delete_file_count").cast("int")
                     .alias("equality_delete_file_count"),
                     F.lit(None).cast("long").alias("total_record_count"),
                     F.max("last_updated_at").alias("last_updated_at"),
                     F.max_by("last_updated_snapshot_id",
                              "last_updated_at")
                     .alias("last_updated_snapshot_id"))
                .select(*[fld.name for fld in out_schema.fields]))
            report = {"mode": "incremental",
                      "base_snapshot_id": prev_entry.get("snapshot-id"),
                      "manifests_read": [mf.path for mf in new_mfs]}
    if stats is None:
        if manifests:
            stats = agg_over(manifests)
        else:
            stats = spark.createDataFrame([], out_schema)
    # spec: rows sorted ascending, NULLS FIRST, by partition
    stats = stats.orderBy(*[F.col(f"partition.{nm}").asc_nulls_first()
                            for nm, _ in ufields])
    table.last_partition_stats_report = report

    sdir = os.path.join(table.location, "metadata", "partition-stats")
    sio = _io.resolve_io(sdir)
    sio.mkdirs(sdir)
    path = os.path.join(sdir, f"pstats-{_uuid.uuid4().hex}.parquet")
    senc = _stats_encryption(table)
    entry = {"snapshot-id": snap.snapshot_id if snap else None,
             "statistics-path": path}
    if senc is not None:
        # encrypted metadata tree: the stats file (partition VALUES +
        # counts) writes as an AES GCM Stream; rows are partition-count-
        # sized, so the driver-side arrow collect is plan-sized
        import io as _pyio

        import pyarrow.parquet as _pq

        from .encryption import encrypt_stream

        buf = _pyio.BytesIO()
        _pq.write_table(stats.toArrow(), buf, compression="zstd")
        ct = encrypt_stream(buf.getvalue(), senc[0], senc[1])
        sio.write_bytes(path, ct)
        entry["engine-key-metadata"] = senc[2](path, len(ct))
    else:
        # one file per snapshot (spec); partition-count rows -> coalesce(1)
        tmp = os.path.join(sdir, f"tmp-{_uuid.uuid4().hex}")
        stats.coalesce(1).write.parquet(tmp)
        part = [fn for fn in sio.list(tmp)
                if fn.startswith("part-") and fn.endswith(".parquet")]
        if part:
            sio.rename(os.path.join(tmp, part[0]), path)
        else:
            # Spark produced no part file (empty single-partition write):
            # write a zero-row parquet with the spec schema so the
            # committed statistics-path is never dangling
            _io.write_parquet(stats.limit(0).toArrow(), path)
        sio.delete_dir(tmp)
    entry["file-size-in-bytes"] = _io.file_size(path)
    table._commit_metadata(
        replace(m, partition_statistics_files=m.partition_statistics_files + (entry,)))
    return path


def analyze_variant_shredding(table, column: str, sample_rows: int = 10_000,
                              min_presence: float = 0.9,
                              max_paths: int = 8) -> str:
    """Derive a variant-shredding spec by SAMPLING the column and set it
    as the table property — the engine analog of the reference's
    parquet/.../VariantShreddingAnalyzer.java (which samples the first
    rows of each file to choose typed subcolumns).

    Rules (matching the analyzer's spirit): only TOP-LEVEL scalar paths;
    a path qualifies when it is present non-null in >= `min_presence` of
    sampled rows AND every observed value agrees on one primitive type
    (long / double / string / boolean — the orderable set the stats job
    collects). Up to `max_paths` qualify, most-frequent first, name-
    tiebroken for determinism. Returns the spec string (also persisted
    as `write.variant.shred.<column>`); subsequent appends/compactions
    shred, and extract() predicates on those paths file-prune.

    The sample is a `limit(sample_rows)` driver pull of ONE column —
    bounded by sample_rows regardless of table size."""
    f = table.schema.find_field(column)
    if f.type != "variant":
        raise ValueError(f"{column} is not a variant column ({f.type})")
    rows = table.to_df().select(column).limit(sample_rows).collect()
    import json as _json

    counts: dict = {}
    types: dict = {}
    n = 0
    for r in rows:
        v = r[0]
        if v is None:
            continue
        n += 1
        if hasattr(v, "toPython"):
            v = v.toPython()
        elif isinstance(v, (str, bytes)):
            try:
                v = _json.loads(v)
            except Exception:
                continue
        if not isinstance(v, dict):
            continue
        for k, val in v.items():
            if val is None:
                continue
            import decimal as _dec

            if isinstance(val, bool):
                t = "boolean"
            elif isinstance(val, int):
                t = "long"
            elif isinstance(val, (float, _dec.Decimal)):
                # Spark parses JSON decimals as Decimal; the shredded
                # companion widens to double (orderable stats domain)
                t = "double"
            elif isinstance(val, str):
                t = "string"
            else:
                t = None  # nested / list: not a scalar path
            counts[k] = counts.get(k, 0) + (1 if t else 0)
            types.setdefault(k, set()).add(t)
    picked = []
    for k in sorted(counts, key=lambda k: (-counts[k], k)):
        ts = types[k]
        if None in ts:
            continue
        # int-and-float mixes widen to double; other mixes disqualify
        if ts == {"long", "double"}:
            t = "double"
        elif len(ts) == 1:
            t = next(iter(ts))
        else:
            continue
        if n and counts[k] / n >= min_presence:
            picked.append((k, t))
        if len(picked) >= max_paths:
            break
    spec = ";".join(f"$.{k}:{t}" for k, t in picked)
    if spec:
        table.set_properties(**{f"write.variant.shred.{column}": spec})
    return spec
