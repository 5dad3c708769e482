"""Scan planning and the read path.

Reference lifecycle (SURVEY §3.1): SnapshotScan.planFiles
(core/.../SnapshotScan.java:139) -> ManifestGroup.planFiles
(core/.../ManifestGroup.java:177): manifest-list pruning via partition
summaries (ManifestEvaluator.java:50), per-file pruning via partition
projection + metrics (InclusiveMetricsEvaluator.java:48), delete-file
attachment (DeleteFileIndex.java), then the engine reads the surviving
files. Planning modes LOCAL/DISTRIBUTED/AUTO mirror
BaseDistributedDataScan.java:57 — local planning is threaded pyarrow on
the driver; distributed planning runs the same filters as a Spark job over
the manifest Parquet (what survives 100 TB metadata).

Read path: one manifest-fed relation per write-schema group, built from
the plan's paths and recorded sizes with no listing (relations.py;
field-ID column mapping handles renames), the *full* filter
re-applied as residual (cheap, always correct), position deletes applied by
(file, pos) anti-join on `_metadata.file_path/row_index`, equality deletes
by keyed anti-join scoped to `data_seq < delete_seq` (format/spec.md:1415).
"""

from __future__ import annotations

import os
import time
from concurrent.futures import ThreadPoolExecutor

_PLAN_EXECUTOR = None


def _plan_executor() -> ThreadPoolExecutor:
    """Shared planning thread pool. Spawning 16 threads per plan_files call
    costs ~100ms under GIL contention at 10k-file scale — reuse one pool
    for the life of the process (threads are idle between plans)."""
    global _PLAN_EXECUTOR
    if _PLAN_EXECUTOR is None:
        _PLAN_EXECUTOR = ThreadPoolExecutor(
            max_workers=16, thread_name_prefix="iceberg-plan")
    return _PLAN_EXECUTOR
from dataclasses import dataclass, field
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import expressions as E
from . import io as _io
from . import relations as _rel
from .caches import BoundedCache, unpersist
from .manifests import (
    DATA,
    DELETED,
    EQUALITY_DELETES,
    POSITION_DELETES,
    _ARROW_CACHE,
    DataFile,
    ManifestEntry,
    entries_from_arrow,
    entry_from_spark_row,
    read_manifest,
    read_manifest_arrow,
    read_manifest_list,
)
from .metadata import Snapshot, TableMetadata, resolve_path
from .metrics_reporting import job_description
from .schema import Schema, StructT, type_to_spark
from .transforms import Identity

# metadata column names (reference core/.../MetadataColumns.java:34-127)
FILE_PATH_COL = "_file"
POS_COL = "_pos"
SPEC_ID_COL = "_spec_id"
DELETED_COL = "_deleted"
ROW_ID_COL = "_row_id"
LAST_UPDATED_SEQ_COL = "_last_updated_sequence_number"

# AUTO planning reads the surviving manifests on the driver while the
# ones not yet in the manifest cache (manifests._ARROW_CACHE) add up to
# at most this many recorded bytes, and as a Spark job above it
DISTRIBUTED_PLANNING_BYTES = 8 << 20


def _data_rel(p: str) -> str:
    """Location-independent form of a data-file path: the suffix from the
    LAST `data/` on (the table's own data root — a location that itself
    contains `/data/` must not win, and no path segment below the data
    root is ever the bare word `data`: uuid-hex dirs, `_p_<name>=v`
    partition dirs, part files). Unique within a table, stable across
    relocation."""
    i = p.rfind("/data/")
    return p[i + 1:] if i >= 0 else p


def _data_rel_col(c):
    """Column twin of _data_rel (for join keys). Greedy `.*` anchors the
    strip at the LAST /data/, matching _data_rel."""
    return F.regexp_replace(c, "^.*/data/", "data/")


@dataclass
class ScanReport:
    """Mirrors core/.../metrics/ScanReport.java."""

    total_manifests: int = 0
    skipped_manifests: int = 0
    total_data_files: int = 0
    skipped_data_files: int = 0
    result_data_files: int = 0
    result_delete_files: int = 0
    planning_mode: str = "local"
    # recorded bytes of the surviving manifests not yet in the manifest
    # cache: what AUTO compares with DISTRIBUTED_PLANNING_BYTES
    uncached_manifest_bytes: int = 0
    total_planning_duration_ms: float = 0.0
    # log-safe filter description (ExpressionUtil.toSanitizedString): literal
    # values replaced by magnitude/type/hash descriptions
    filter_sanitized: str = "true"

    def as_dict(self):
        return dict(self.__dict__)


@dataclass
class ScanPlan:
    files: list  # list[ManifestEntry] (data)
    pos_deletes: list  # list[ManifestEntry]
    eq_deletes: list
    residual: E.Expr
    snapshot: Optional[Snapshot]
    report: ScanReport


class TableScan:
    """table.new_scan().filter(e).select(cols) -> plan_files()/df().

    Reference api/.../TableScan.java:22, core/.../DataTableScan.java:27.
    """

    def __init__(self, table, snapshot: Optional[Snapshot] = None,
                 row_filter: E.Expr = E.ALWAYS_TRUE, columns: Optional[list] = None,
                 planning_mode: str = "auto", case_sensitive: bool = True,
                 time_travel: bool = False):
        self.table = table
        self.spark: SparkSession = table.spark
        self.metadata: TableMetadata = table.metadata
        self.snapshot = snapshot if snapshot is not None else self.metadata.current_snapshot()
        self.row_filter = row_filter
        self.columns = columns
        self.planning_mode = planning_mode
        self.time_travel = time_travel

    # -- builder style ------------------------------------------------------
    def filter(self, expr) -> "TableScan":
        expr = _to_expr(expr)
        return TableScan(self.table, self.snapshot, E.and_(self.row_filter, expr),
                         self.columns, self.planning_mode, time_travel=self.time_travel)

    def select(self, *cols) -> "TableScan":
        cols = list(cols[0]) if len(cols) == 1 and isinstance(cols[0], (list, tuple)) else list(cols)
        return TableScan(self.table, self.snapshot, self.row_filter, cols,
                         self.planning_mode, time_travel=self.time_travel)

    def use_snapshot(self, snapshot_id: int) -> "TableScan":
        return TableScan(self.table, self.metadata.snapshot_by_id(snapshot_id),
                         self.row_filter, self.columns, self.planning_mode,
                         time_travel=True)

    def as_of(self, timestamp_ms: int) -> "TableScan":
        snap = self.metadata.snapshot_as_of(timestamp_ms)
        if snap is None:
            raise ValueError(f"no snapshot as of {timestamp_ms}")
        return TableScan(self.table, snap, self.row_filter, self.columns,
                         self.planning_mode, time_travel=True)

    def use_ref(self, name: str) -> "TableScan":
        snap = self.metadata.snapshot_for_ref(name)
        if snap is None:
            raise ValueError(f"no ref {name}")
        return TableScan(self.table, snap, self.row_filter, self.columns,
                         self.planning_mode, time_travel=True)

    def runtime_filter(self, column: str, values) -> "TableScan":
        """Runtime filtering (SparkBatchQueryScan.filter:127 analog — the
        file-level half of dynamic partition pruning): after the build side
        of a join resolves, re-plan this scan with the collected join keys
        so partition projection + min/max stats drop files no key can hit.
        `values` is an iterable of keys or a single-column DataFrame
        (collected here — runtime filters are small by construction)."""
        if isinstance(values, DataFrame):
            values = [r[0] for r in values.collect()]
        values = [v for v in values if v is not None]
        if not values:
            return self.filter(E.ALWAYS_FALSE)
        return self.filter(E.col(column).isin(values))

    # -- schema -------------------------------------------------------------
    @property
    def schema(self) -> Schema:
        # current reads use the CURRENT schema; time travel pins the
        # snapshot's schema (reference SnapshotScan semantics)
        if self.time_travel and self.snapshot is not None:
            try:
                return self.metadata.schema_by_id(self.snapshot.schema_id)
            except KeyError:
                pass
        return self.metadata.schema

    # -- planning -----------------------------------------------------------
    def plan_files(self) -> ScanPlan:
        t0 = time.perf_counter()
        report = ScanReport()
        snap = self.snapshot
        if snap is None:  # empty table
            return ScanPlan([], [], [], self.row_filter, None, report)

        schema = self.schema
        bound = E.bind(E.rewrite_not(self.row_filter), schema) \
            if not isinstance(self.row_filter, (E.AlwaysTrue,)) else E.ALWAYS_TRUE
        report.filter_sanitized = E.to_sanitized_string(bound)

        manifests = read_manifest_list(snap.manifest_list)
        report.total_manifests = len(manifests)

        # manifest-list pruning: inclusive partition projection vs summaries
        keep = []
        proj_by_spec: dict = {}
        for m in manifests:
            spec = self.metadata.spec_by_id(m.spec_id)
            if m.spec_id not in proj_by_spec:
                proj_by_spec[m.spec_id] = (
                    E.project(bound, spec, inclusive=True)
                    if not isinstance(bound, E.AlwaysTrue) else E.ALWAYS_TRUE
                )
            proj = proj_by_spec[m.spec_id]
            if isinstance(proj, E.AlwaysTrue) or _manifest_might_match(m, proj):
                keep.append(m)
            else:
                report.skipped_manifests += 1

        report.uncached_manifest_bytes = sum(
            m.length for m in keep if m.path not in _ARROW_CACHE)
        mode = self.planning_mode
        if mode == "auto":
            mode = ("distributed" if report.uncached_manifest_bytes
                    > DISTRIBUTED_PLANNING_BYTES else "local")
        report.planning_mode = mode

        prefiltered = None
        if mode == "distributed":
            with job_description(self.spark, "iceberg scan planning: "
                                 f"{len(keep)} manifests"):
                entries = self._read_entries_spark(keep)
        else:
            if not isinstance(bound, E.AlwaysTrue):
                prefiltered = self._read_entries_local_prefiltered(
                    keep, bound, proj_by_spec)
            if prefiltered is not None:
                entries, pre_total, pre_survived = prefiltered
                report.total_data_files = pre_total
                report.skipped_data_files = pre_total - pre_survived
            else:
                entries = self._read_entries_local(keep)

        data_entries, pos_del, eq_del = [], [], []
        for e in entries:
            if e.status == DELETED:
                continue
            f = e.file
            if f.content == DATA:
                if prefiltered is not None:
                    # partition + metrics filters already applied vectorized
                    data_entries.append(e)
                    continue
                report.total_data_files += 1
                spec = self.metadata.spec_by_id(f.spec_id)
                proj = proj_by_spec.get(f.spec_id)
                if proj is None:
                    proj = (E.project(bound, spec, inclusive=True)
                            if not isinstance(bound, E.AlwaysTrue) else E.ALWAYS_TRUE)
                    proj_by_spec[f.spec_id] = proj
                if not isinstance(proj, E.AlwaysTrue) and not E.evaluate(proj, f.partition):
                    report.skipped_data_files += 1
                    continue
                fs = E.FileStats(f.record_count, f.stats)
                if not isinstance(bound, E.AlwaysTrue) and not E.inclusive_metrics_eval(bound, fs):
                    report.skipped_data_files += 1
                    continue
                data_entries.append(e)
            elif f.content == POSITION_DELETES:
                pos_del.append(e)
            elif f.content == EQUALITY_DELETES:
                eq_del.append(e)

        # delete files relevant to surviving data files (DeleteFileIndex):
        # pos deletes apply when delete.seq >= data.seq; eq when delete.seq > data.seq
        if data_entries:
            min_data_seq = min(e.sequence_number for e in data_entries)
            pos_del = [d for d in pos_del if d.sequence_number >= min_data_seq]
            eq_del = [d for d in eq_del if d.sequence_number > min_data_seq]
            if pos_del:
                # skip delete files that cannot reference any surviving data
                # file (_pos_reach). Mirrors the "unrelated delete" case of
                # IcebergSourceParquetWithUnrelatedDeleteBenchmark /
                # DeleteFileIndex lookup.
                # compare location-independent `data/...` suffixes: delete
                # file contents/stats carry write-time absolute paths that
                # go stale when a relative-path table is relocated. All
                # paths in one delete file share the table-root prefix, so
                # stripping it preserves min/max ordering.
                live = sorted(_data_rel(e.file.file_path) for e in data_entries)
                # partition-bucketed lookup (DeleteFileIndex.java): a
                # partition-scoped delete file only applies to data files
                # in the same partition of the same spec. Pruning is legal
                # only when EVERY surviving data file shares the delete's
                # spec — the delete's tuple is derived under the writer's
                # current spec and says nothing about victims living in
                # older-spec files. All-None tuples (global/path-scoped
                # deletes, DVs) also skip the check — conservative keep.
                def _pkey(f):
                    items = tuple(sorted(
                        (k, v) for k, v in f.partition.items()
                        if v is not None))
                    return (f.spec_id, items) if items else None

                live_parts = {k for k in (_pkey(e.file) for e in data_entries)
                              if k is not None}
                live_specs = {e.file.spec_id for e in data_entries}

                def may_apply(d):
                    key = _pkey(d.file)
                    if (key is not None and live_parts
                            and live_specs == {d.file.spec_id}
                            and key not in live_parts):
                        return False
                    reach = _pos_reach(d, live)
                    return reach is None or reach[0] < reach[1]

                pos_del = [d for d in pos_del if may_apply(d)]
            if eq_del:
                # key-range scoping: an equality-delete file can only affect
                # data files whose key-column ranges overlap its own
                # (DeleteFileIndex partition/metrics scoping). Conservative:
                # compare against the union range of surviving data files.
                # Partition-scoped equality deletes (Flink writer shape:
                # partition tuple recorded when spec sources ⊆ key columns)
                # additionally prune by exact partition match, same rules
                # as the pos-delete bucketed lookup above.
                def _eq_pkey(f):
                    items = tuple(sorted(
                        (k, v) for k, v in f.partition.items()
                        if v is not None))
                    return (f.spec_id, items) if items else None

                eq_live_parts = {k for k in
                                 (_eq_pkey(e.file) for e in data_entries)
                                 if k is not None}
                eq_live_specs = {e.file.spec_id for e in data_entries}

                def key_ranges(name):
                    mns = [e.file.stats[name][0] for e in data_entries
                           if e.file.stats.get(name) and e.file.stats[name][0] is not None]
                    mxs = [e.file.stats[name][1] for e in data_entries
                           if e.file.stats.get(name) and e.file.stats[name][1] is not None]
                    return (min(mns), max(mxs)) if mns and mxs else None

                def data_nullfree(name):
                    # bounds cover non-NULL values only; disjoint ranges
                    # prune soundly only when NULL keys provably cannot
                    # match (stats tuple: min,max,nulls,...)
                    return all(e.file.stats.get(name)
                               and e.file.stats[name][2] == 0
                               for e in data_entries)

                def eq_may_apply(d):
                    key = _eq_pkey(d.file)
                    if (key is not None and eq_live_parts
                            and eq_live_specs == {d.file.spec_id}
                            and key not in eq_live_parts):
                        return False
                    for fid in d.file.equality_ids:
                        try:
                            name = schema.field_by_id(fid).name
                        except Exception:
                            return True
                        st = d.file.stats.get(name)
                        rng = key_ranges(name)
                        if st and rng and st[0] is not None and st[1] is not None:
                            try:
                                if (st[1] < rng[0] or st[0] > rng[1]) \
                                        and (st[2] == 0
                                             or data_nullfree(name)):
                                    return False  # disjoint on this key
                            except TypeError:
                                return True
                    return True

                eq_del = [d for d in eq_del if eq_may_apply(d)]
        else:
            pos_del, eq_del = [], []

        report.result_data_files = len(data_entries)
        report.result_delete_files = len(pos_del) + len(eq_del)
        report.total_planning_duration_ms = (time.perf_counter() - t0) * 1e3
        # MetricsReporter loop (reference ScanReport -> reporter): every
        # plan lands in the bounded in-memory sink, surfaced by the
        # `scan_reports` metadata table. Loss-tolerant by contract —
        # reporting must never fail the scan.
        try:
            from .metrics_reporting import SINK, scan_report_json

            ident = getattr(self.table, "identifier", None)
            if ident:
                rj = scan_report_json(
                    ident, report, snap.snapshot_id,
                    self.metadata.current_schema_id,
                    projected_names=self.columns or ())
                rj["metadata"]["engine-relation-build"] = \
                    _relation_build(self.spark, data_entries,
                                    pos_del + eq_del)
                SINK.report(ident, "scan-report", rj)
        except Exception:
            pass
        return ScanPlan(data_entries, pos_del, eq_del, bound, snap, report)

    def _read_entries_local(self, manifests) -> list:
        def rd(m):
            spec = self.metadata.spec_by_id(m.spec_id)
            # manifests carry stats for the schema they were written with;
            # read with the scan schema (field-id keyed cols tolerate drift)
            return read_manifest(m.path, self.schema, spec)

        if len(manifests) <= 2:
            out = []
            for m in manifests:
                out.extend(rd(m))
            return out
        chunks = list(_plan_executor().map(rd, manifests))
        return [e for c in chunks for e in c]

    def _read_entries_local_prefiltered(self, manifests, bound, proj_by_spec):
        """Vectorized local planning: partition + metrics filters evaluated
        as one pyarrow compute expression per manifest, so Python entry
        objects are built only for surviving files. Returns
        (entries, total_data_files, surviving_data_files), or None when the
        predicate isn't arrow-convertible (caller falls back to per-entry
        eval; results identical, this is purely the fast path).
        """
        try:
            import pyarrow.dataset as ds
        except ImportError:  # pragma: no cover
            return None
        schema = self.schema
        live = (ds.field("status") != DELETED) & (ds.field("content") == DATA)

        def rd(m):
            t = read_manifest_arrow(m.path)
            spec = self.metadata.spec_by_id(m.spec_id)
            names = set(t.column_names)
            parts = []
            proj = proj_by_spec.get(m.spec_id, E.ALWAYS_TRUE)
            if not isinstance(proj, E.AlwaysTrue):
                parts.append(E.to_arrow(proj, lambda n: ds.field(f"p_{n}")))
            sf = _stats_filter_arrow(bound, schema, names)
            if sf is not None:
                parts.append(sf)
            if not parts:
                return None
            dk = parts[0]
            for p in parts[1:]:
                dk = dk & p
            surv = t.filter(~live | dk)
            n_total = t.filter(live).num_rows
            n_surv = surv.filter(live).num_rows
            return (entries_from_arrow(surv, schema, spec,
                                       self.metadata.location),
                    n_total, n_surv)

        try:
            if len(manifests) <= 2:
                chunks = [rd(m) for m in manifests]
            else:
                chunks = list(_plan_executor().map(rd, manifests))
        except Exception:
            return None  # unconvertible predicate / type mismatch
        if any(c is None for c in chunks):
            return None
        entries = [e for c in chunks for e in c[0]]
        return (entries,
                sum(c[1] for c in chunks),
                sum(c[2] for c in chunks))

    def _read_entries_spark(self, manifests) -> list:
        """Distributed planning: filter manifests with Spark, collect survivors.

        The partition/metrics filters run cluster-side; only the surviving
        file rows are collected (mirrors BaseDistributedDataScan).
        Encrypted manifests (AES GCM Streams) route through an RDD whose
        tasks decrypt + parse + arrow-prefilter executor-side — same
        cluster-side pruning, Python data plane (the JVM parquet reader
        cannot open a GCM stream)."""
        schema = self.schema
        bound = E.bind(E.rewrite_not(self.row_filter), schema) \
            if not isinstance(self.row_filter, E.AlwaysTrue) else E.ALWAYS_TRUE

        from .manifests import file_key

        enc = [m for m in manifests if file_key(m.path) is not None]
        out_enc = []
        if enc:
            out_enc = self._read_encrypted_entries_spark(enc, bound)
            manifests = [m for m in manifests if file_key(m.path) is None]
            if not manifests:
                return out_enc
        by_spec: dict = {}
        for m in manifests:
            by_spec.setdefault(m.spec_id, []).append(m.path)
        sizes = {m.path: m.length for m in manifests}
        out = []
        from pyspark.sql.pandas.types import from_arrow_schema

        from .manifests import manifest_arrow_schema

        for spec_id, paths in by_spec.items():
            spec = self.metadata.spec_by_id(spec_id)
            # explicit CURRENT manifest schema: no inference job, no
            # mergeSchema footer pass, and manifests written before newer
            # optional columns (content_offset/..., nan counts) read them
            # as null instead of dropping them — a DV entry read without
            # content_offset would be misrouted as a parquet pos-delete.
            # Spark widens int32->long etc. for promoted stats columns;
            # incompatible vintages (e.g. date stats under a promoted
            # timestamp column) fail the read and fall back to the
            # per-manifest field-ID-mapped local reader below.
            read_schema = from_arrow_schema(manifest_arrow_schema(schema, spec))
            df = _rel.files_df(self.spark, "parquet", read_schema, paths,
                               sizes)
            # prune data files only: an unpartitioned equality delete of
            # a partitioned table fails every partition filter, yet may
            # delete matching rows; plan_files scopes delete files itself
            keep_data = F.lit(True)
            if not isinstance(bound, E.AlwaysTrue):
                proj = E.project(bound, spec, inclusive=True)
                if not isinstance(proj, E.AlwaysTrue):
                    keep_data = keep_data & _partition_filter_column(proj, df)
                stats_cond = _stats_filter_column(bound, schema, df)
                if stats_cond is not None:
                    keep_data = keep_data & stats_cond
            surv = df.filter((F.col("status") != F.lit(DELETED))
                             & ((F.col("content") != F.lit(DATA))
                                | keep_data))
            try:
                # Arrow transfer + the vectorized lazy-column entry builder
                # — ~3x cheaper than row collect + per-row dict rebuild
                out.extend(entries_from_arrow(
                    surv.toArrow(), schema, spec, self.metadata.location))
            except Exception:
                # stats-type vintage mix: per-manifest reads map by field
                # id and normalize per file (filters re-applied during
                # plan_files' evaluator pass — results identical)
                for p in paths:
                    out.extend(read_manifest(p, schema, spec))
        return out_enc + out

    def _read_encrypted_entries_spark(self, manifests, bound) -> list:
        """Encrypted twin of the distributed manifest read: one Spark job
        over (path, key, aad) triples, each task decrypting its manifests
        and applying the SAME partition/metrics filters as pyarrow compute
        expressions before returning surviving entries. Filtering is a
        conservative-superset optimization — plan_files re-evaluates every
        returned entry — so any executor-side conversion failure safely
        returns the unfiltered live set."""
        from .manifests import file_key

        schema = self.schema
        location = self.metadata.location
        specs = {m.spec_id: self.metadata.spec_by_id(m.spec_id)
                 for m in manifests}
        projs = {}
        if not isinstance(bound, E.AlwaysTrue):
            for sid, spec in specs.items():
                projs[sid] = E.project(bound, spec, inclusive=True)
        payload = [(m.path, *file_key(m.path), m.spec_id) for m in manifests]
        sc = self.spark.sparkContext
        nparts = min(len(payload), sc.defaultParallelism * 2)
        bnd = bound if not isinstance(bound, E.AlwaysTrue) else None

        def rd(args):
            path, key, aad, sid = args
            return _decrypt_manifest_entries(
                path, key, aad, specs[sid], schema, location,
                projs.get(sid), bnd)

        try:
            return sc.parallelize(payload, nparts).flatMap(rd).collect()
        except Exception:
            # unpicklable filter or executor import trouble: driver-side
            # decrypting reads (keys are registered) — results identical
            out = []
            for m in manifests:
                out.extend(read_manifest(m.path, schema, specs[m.spec_id]))
            return out

    # -- read ---------------------------------------------------------------
    def df(self, with_metadata_columns: bool = False,
           with_lineage: bool = False) -> DataFrame:
        plan = self.plan_files()
        return plan_to_df(self, plan, with_metadata_columns,
                          with_lineage=with_lineage)

    def explain_plan(self) -> dict:
        return self.plan_files().report.as_dict()


def _to_expr(expr) -> E.Expr:
    if expr is None:
        return E.ALWAYS_TRUE
    if isinstance(expr, E.Expr):
        return expr
    raise TypeError(f"filter must be an iceberg_spark expression, got {type(expr)}")


def _manifest_might_match(m, proj: E.Expr) -> bool:
    """Evaluate projected partition predicate against manifest-list
    partition-range summaries (ManifestEvaluator.java:50,80-126)."""
    summaries = {n: (cn, mn, mx) for (n, cn, mn, mx) in m.partitions}

    def ev(e: E.Expr) -> bool:
        if isinstance(e, E.AlwaysTrue):
            return True
        if isinstance(e, E.AlwaysFalse):
            return False
        if isinstance(e, E.And):
            return ev(e.left) and ev(e.right)
        if isinstance(e, E.Or):
            return ev(e.left) or ev(e.right)
        if isinstance(e, (E.Predicate, E.BoundPredicate)):
            s = summaries.get(e.term.name)
            if s is None:
                return True
            contains_null, mn, mx = s
            op, lits = e.op, e.literals
            if op == E.IS_NULL:
                return contains_null
            if op == E.NOT_NULL:
                return mn is not None or not contains_null
            if mn is None and mx is None:
                return op in (E.IS_NULL,) if not contains_null else True
            try:
                if op == E.LT:
                    return mn is None or mn < lits[0]
                if op == E.LT_EQ:
                    return mn is None or mn <= lits[0]
                if op == E.GT:
                    return mx is None or mx > lits[0]
                if op == E.GT_EQ:
                    return mx is None or mx >= lits[0]
                if op == E.EQ:
                    return (mn is None or mn <= lits[0]) and (mx is None or mx >= lits[0])
                if op == E.IN:
                    return any(
                        (mn is None or mn <= v) and (mx is None or mx >= v) for v in lits
                    )
                if op == E.STARTS_WITH:
                    v = lits[0]
                    return (mn is None or str(mn)[: len(v)] <= v) and (
                        mx is None or str(mx)[: len(v)] >= v
                    )
            except TypeError:
                return True
            return True
        return True

    return ev(proj)


def _partition_filter_column(proj: E.Expr, df: DataFrame):
    """Projected partition predicate -> Column over p_* manifest columns."""
    return E.to_spark(proj, colfn=lambda n: F.col(f"p_{n}"))


def _decrypt_manifest_entries(path, key, aad, spec, schema, location,
                              proj, bound) -> list:
    """Executor-side encrypted-manifest read: decrypt the AES GCM Stream,
    parse the parquet, arrow-prefilter (best effort — the driver's
    plan_files loop re-evaluates every entry, so filter failures degrade
    to the unfiltered live set, never to wrong results), return entries.
    Module-level so the Spark closure pickles by reference."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from . import io as _eio
    from .encryption import decrypt_stream

    raw = _eio.resolve_io(path).read_bytes(path)
    t = pq.read_table(pa.BufferReader(decrypt_stream(raw, key, aad)))
    try:
        import pyarrow.dataset as ds

        parts = []
        if proj is not None and not isinstance(proj, E.AlwaysTrue):
            parts.append(E.to_arrow(proj, lambda n: ds.field(f"p_{n}")))
        if bound is not None:
            sf = _stats_filter_arrow(bound, schema, set(t.column_names))
            if sf is not None:
                parts.append(sf)
        if parts:
            live = ((ds.field("status") != DELETED)
                    & (ds.field("content") == DATA))
            cond = parts[0]
            for p in parts[1:]:
                cond = cond & p
            t = t.filter(~live | cond)
    except Exception:
        pass
    return entries_from_arrow(t, schema, spec, location)


def _stats_filter_arrow(bound: E.Expr, schema: Schema, names: set):
    """Inclusive metrics filter as a pyarrow expression over min_f*/max_f*
    manifest columns — the vectorized twin of _stats_filter_column (and of
    inclusive_metrics_eval for the comparison ops). Missing stats keep the
    file; unprunable ops become scalar(True). Returns None when nothing can
    prune."""
    import pyarrow.dataset as ds

    TRUE = ds.scalar(True)

    def conv(e: E.Expr):
        if isinstance(e, E.AlwaysTrue):
            return TRUE
        if isinstance(e, E.AlwaysFalse):
            return ds.scalar(False)
        if isinstance(e, E.And):
            return conv(e.left) & conv(e.right)
        if isinstance(e, E.Or):
            return conv(e.left) | conv(e.right)
        if isinstance(e, E.BoundPredicate):
            if e.term.transform is not None and not isinstance(e.term.transform, Identity):
                return TRUE
            fid = e.term.field.field_id
            mn, mx = f"min_f{fid}", f"max_f{fid}"
            if mn not in names:
                return TRUE
            cmin, cmax = ds.field(mn), ds.field(mx)
            cnull, cval = ds.field(f"nulls_f{fid}"), ds.field(f"values_f{fid}")
            cnan = ds.field(f"nans_f{fid}")
            op, lits = e.op, e.literals
            all_null = (~cnull.is_null() & ~cval.is_null()
                        & (cnull == cval) & (cval > 0))
            # containsNaNsOnly: NaN matches no comparison (bounds are NaN-free)
            all_nan = (~cnan.is_null() & ~cval.is_null()
                       & (cnan == cval) & (cval > 0))
            if op == E.IS_NULL:
                return cnull.is_null() | (cnull > 0)
            if op == E.NOT_NULL:
                return ~all_null
            if op == E.IS_NAN:
                return cnan.is_null() | (cnan > 0)
            if op == E.NOT_NAN:
                return ~all_nan
            not_all_null = ~all_null & ~all_nan
            # engine NaN ordering: NaN > any literal — a float file with
            # (possible) NaNs may match gt/gtEq regardless of its max
            floaty = e.term.field.type in ("float", "double")
            may_nan = (cnan.is_null() | (cnan > 0)) if floaty else ds.scalar(False)
            if op == E.LT:
                return not_all_null & (cmin.is_null() | (cmin < lits[0]))
            if op == E.LT_EQ:
                return not_all_null & (cmin.is_null() | (cmin <= lits[0]))
            if op == E.GT:
                return ~all_null & (may_nan | cmax.is_null() | (cmax > lits[0]))
            if op == E.GT_EQ:
                return ~all_null & (may_nan | cmax.is_null() | (cmax >= lits[0]))
            if op == E.EQ:
                return not_all_null & (
                    (cmin.is_null() | (cmin <= lits[0]))
                    & (cmax.is_null() | (cmax >= lits[0]))
                )
            if op == E.IN:
                c = ds.scalar(False)
                for v in lits:
                    c = c | ((cmin.is_null() | (cmin <= v))
                             & (cmax.is_null() | (cmax >= v)))
                return not_all_null & c
            return TRUE
        return TRUE

    out = conv(bound)
    if str(out) == str(TRUE):  # nothing prunable -> let caller fall back
        return None
    return out


def _stats_filter_column(bound: E.Expr, schema: Schema, df: DataFrame):
    """Inclusive metrics filter as a Spark Column over min_f*/max_f* columns.

    Returns None when the expression can't prune. 'Might match' semantics:
    missing stats (NULL) keep the file.
    """
    cols = set(df.columns)

    def conv(e: E.Expr):
        if isinstance(e, E.AlwaysTrue):
            return F.lit(True)
        if isinstance(e, E.AlwaysFalse):
            return F.lit(False)
        if isinstance(e, E.And):
            return conv(e.left) & conv(e.right)
        if isinstance(e, E.Or):
            return conv(e.left) | conv(e.right)
        if isinstance(e, E.BoundPredicate):
            if e.term.transform is not None and not isinstance(e.term.transform, Identity):
                return F.lit(True)
            fid = e.term.field.field_id
            mn, mx = f"min_f{fid}", f"max_f{fid}"
            nulls, values = f"nulls_f{fid}", f"values_f{fid}"
            if mn not in cols:
                return F.lit(True)
            cmin, cmax = F.col(mn), F.col(mx)
            cnull, cval = F.col(nulls), F.col(values)
            cnan = F.col(f"nans_f{fid}")
            op, lits = e.op, e.literals
            all_null = cnull.isNotNull() & cval.isNotNull() & (cnull == cval) & (cval > 0)
            # containsNaNsOnly: NaN matches no comparison (bounds are NaN-free)
            all_nan = cnan.isNotNull() & cval.isNotNull() & (cnan == cval) & (cval > 0)
            if op == E.IS_NULL:
                return cnull.isNull() | (cnull > 0)
            if op == E.NOT_NULL:
                return ~all_null
            if op == E.IS_NAN:
                return cnan.isNull() | (cnan > 0)
            if op == E.NOT_NAN:
                return ~all_nan
            not_all_null = ~all_null & ~all_nan
            # engine NaN ordering: NaN > any literal — a float file with
            # (possible) NaNs may match gt/gtEq regardless of its max
            floaty = e.term.field.type in ("float", "double")
            may_nan = (cnan.isNull() | (cnan > 0)) if floaty else F.lit(False)
            if op == E.LT:
                return not_all_null & (cmin.isNull() | (cmin < F.lit(lits[0])))
            if op == E.LT_EQ:
                return not_all_null & (cmin.isNull() | (cmin <= F.lit(lits[0])))
            if op == E.GT:
                return ~all_null & (may_nan | cmax.isNull() | (cmax > F.lit(lits[0])))
            if op == E.GT_EQ:
                return ~all_null & (may_nan | cmax.isNull() | (cmax >= F.lit(lits[0])))
            if op == E.EQ:
                return not_all_null & (
                    (cmin.isNull() | (cmin <= F.lit(lits[0])))
                    & (cmax.isNull() | (cmax >= F.lit(lits[0])))
                )
            if op == E.IN:
                c = F.lit(False)
                for v in lits:
                    c = c | (
                        (cmin.isNull() | (cmin <= F.lit(v)))
                        & (cmax.isNull() | (cmax >= F.lit(v)))
                    )
                return not_all_null & c
            return F.lit(True)
        return F.lit(True)

    try:
        return conv(bound)
    except Exception:
        return None


# ---------------------------------------------------------------------------
# read path: plan -> DataFrame
# ---------------------------------------------------------------------------

# Tiered pos-delete application (the DeleteFilter.java:188 analog, sized by
# plan metadata — no data read needed to decide):
#   <= driver limit   -> driver pyarrow read, run-length ranges, codegen filter
#   <= broadcast limit-> executor read + broadcast hash anti-join
#   above             -> shuffled hash anti-join (no executor holds it all)
POS_DELETE_DRIVER_BYTES = 16 * 1024 * 1024
POS_DELETE_BROADCAST_BYTES = 64 * 1024 * 1024
POS_DELETE_MAX_LITERAL_RANGES = 256
# path -> (native variant names, companion cols | None=unprobed): footer
# probes survive across plans (paths are immutable uuid-named files)
_VAR_SIG_CACHE = BoundedCache("scan.variant_signatures", 65_536)

EQ_DELETE_DRIVER_BYTES = 1024 * 1024
# beyond a few thousand keys the literal path loses twice: building N
# Literal objects through py4j costs ~0.6ms each (9.7s at 15k keys,
# measured), and codegen'd InSet probes run slower than a broadcast
# hash anti-join's build side at that cardinality — so big sets keep
# the join. record_count from the manifest pre-gates WITHOUT reading.
# r13: crossover to the compiled probe lowered 4096 -> 256. At 1.5k
# keys the literal tier measured 530 ms vs the probe's 306 on the
# sf0.1 eq-MoR pair (isin plan BUILD alone 31 ms vs 5.6 — a
# 1500-literal INSET node is expensive to construct, analyze and
# serialize; the probe is one constant-size StaticInvoke). Below
# ~hundreds of keys the literal tier keeps its edge: trivial plan cost
# plus a parquet-pushable In() that can still skip row groups on
# clustered layouts — exactly the deployments where small delete sets
# have narrow key ranges.
EQ_DELETE_MAX_LITERAL_KEYS = 256
# literal NOT-IN needs exact value semantics under isin(); float/double
# NaN and timestamp zone coercion make those types join-path only
_EQ_LITERAL_TYPES = ("int", "long", "string", "date")
# Above the isin cap, keys load into a compiled sorted-array probe
# (StaticInvoke of SortedSetProbe, jvm_probe.py): ONE expression node
# (no 15k-literal Catalyst tree), one primitive binary search per row
# (no boxed-set probe), no join stage. sf1 measured: eq-MoR scan ratio
# vs the no-delete twin 2.4x (anti-join) -> ~1.25x. Caps bound the
# driver-side delete read and the serialized plan payload; bigger sets
# keep the distributed anti-join.
EQ_DELETE_MAX_PROBE_KEYS = 1_000_000
EQ_DELETE_PROBE_BYTES = 32 * 1024 * 1024
_EQ_PROBE_TYPES = ("int", "long", "string", "date")
# r14: run-compressed tier ABOVE both of the above. When the delete key
# set compresses to few contiguous runs (retention windows, sequential
# PK deletes, the lowest-N% layouts), `NOT(k BETWEEN lo AND hi OR ...)`
# is exactly equivalent to NOT-IN over the keys for integer-valued
# types — and unlike the compiled probe it is a PLAIN Catalyst
# predicate, so it pushes through the DataSource API into the parquet
# reader: row groups wholly inside a deleted run are skipped via
# min/max stats (zero rows decoded), and surviving rows pay 2
# comparisons per run instead of a binary search over the whole key
# set (the probe's ~8 ns/row floor on this box class is memory-latency,
# which no probe structure fixes — §6 data-layout lever instead).
# Exact only for types where the integer range [lo, hi] contains no
# values outside the key set: int, long, date (day-precision).
EQ_DELETE_MAX_RANGE_RUNS = 16
_EQ_RANGE_TYPES = ("int", "long", "date")


def _eq_key_runs(keys, ftype: str, cap: int):
    """Compress a SORTED, de-duplicated key list into inclusive
    [lo, hi] adjacency runs. Returns the run list, or None when the
    type is not exactly-rangeable, the keys do not compress below
    `cap` runs, or no compression happened (runs == keys — scattered
    sets keep the isin/probe tiers)."""
    if ftype not in _EQ_RANGE_TYPES or not keys or cap <= 0:
        return None
    if ftype == "date":
        import datetime as _dt

        if not all(isinstance(k, _dt.date) for k in keys):
            return None

        def _adjacent(a, b):
            return (b - a) == _dt.timedelta(days=1)
    else:
        if not all(isinstance(k, int) for k in keys):
            return None

        def _adjacent(a, b):
            return b - a == 1
    runs = []
    lo = hi = keys[0]
    for k in keys[1:]:
        if _adjacent(hi, k):
            hi = k
            continue
        runs.append((lo, hi))
        if len(runs) >= cap:
            return None
        lo = hi = k
    runs.append((lo, hi))
    if len(runs) > cap or len(runs) >= len(keys):
        return None
    return runs


# (app id, sorted delete-file paths, key column) -> (filter, tier):
# delete files are immutable, so the filter serves every re-plan of a
# snapshot (building 1500 Literal objects through py4j costs ~1 s).
_EQ_LITERAL_FILTER_CACHE = BoundedCache("scan.eq_literal_filters", 256)

# Delete-content cache (the reference's SparkExecutorCache keeps decoded
# delete-file content across scan tasks): the anti-join build side is
# persisted MEMORY_AND_DISK under the delete files' (path, write-schema,
# seq) identity, so repeated scans of a snapshot read the deletes once.
DELETE_CACHE_BYTES = 128 * 1024 * 1024  # reference executor-cache default
_DELETE_BUILD_CACHE = BoundedCache("scan.delete_builds", 64,
                                   on_evict=unpersist)


def _delete_build_cached(spark, dels, ck_extra, builder):
    """Return builder() persisted + cached under the delete set's
    identity, or unpersisted when the set is too big to cache.
    Cache key carries the application id (a restarted session must not
    reuse DataFrames pointing into a dead JVM) and each file's
    write-schema id (column-name mapping) — sequence numbers go in via
    ck_extra on paths that bake them into the frame."""
    if sum(d.file.file_size_in_bytes or 0 for d in dels) > DELETE_CACHE_BYTES:
        return builder()
    ck = (spark.sparkContext.applicationId, ck_extra,
          tuple(sorted((d.file.file_path, d.file.write_schema_id)
                       for d in dels)))
    dd = _DELETE_BUILD_CACHE.get(ck)
    if dd is None:
        from pyspark import StorageLevel

        dd = _DELETE_BUILD_CACHE.put(
            ck, builder().persist(StorageLevel.MEMORY_AND_DISK))
    return dd


def _eq_build_bounds_filter(dd, files, key_cols):
    """DeleteFileIndex-style build-side scoping (reference core/.../
    DeleteFileIndex.java bounds intersection): delete keys outside the
    union of the scanned data files' key bounds cannot match any row,
    so drop them before the broadcast/shuffle build — a filter on the
    build side shrinks it toward broadcastability and pushes to the
    delete files' own row-group stats. NULL delete keys are kept (they
    match NULL data keys under eqNullSafe). Bounds come from the data
    manifests — no extra read. Float/double keys also keep NaN delete
    keys: data-file min/max bounds exclude NaN by spec, and `NaN
    between lo and hi` is false under Spark ordering, yet the
    anti-join's eqNullSafe treats NaN=NaN as true — filtering NaN out
    of the build side would silently resurrect NaN-keyed deletes."""
    float_keys = {f.name for f in dd.schema.fields
                  if f.dataType.typeName() in ("float", "double")}
    for i, name in enumerate(key_cols):
        los, his = [], []
        for e in files:
            st = e.file.stats.get(name)
            if not st or st[0] is None or st[1] is None:
                los = None  # a file without bounds may hold any key
                break
            los.append(st[0])
            his.append(st[1])
        if not los:
            continue
        try:
            lo, hi = min(los), max(his)
        except TypeError:
            continue
        if isinstance(lo, float) and (lo != lo or hi != hi):
            continue  # NaN bounds carry no ordering
        c = F.col(f"__delk_{i}")
        try:
            keep = c.isNull() | c.between(F.lit(lo), F.lit(hi))
            if f"__delk_{i}" in float_keys:
                keep = keep | F.isnan(c)
            dd = dd.filter(keep)
        except Exception:
            continue  # unliteralizable bound type: scoping is optional
    return dd


# pairwise (data file x delete file) applicability checks are plan-time
# driver work; cap keeps pathological metadata shapes off the O(F*D) path
EQ_SPLIT_MAX_PAIRS = 2_000_000


def _eq_applies_to_file(d, e, schema, _name_cache):
    """Would equality-delete entry `d` possibly affect rows of data
    entry `e`? Per-file DeleteFileIndex lookup (reference core/.../
    DeleteFileIndex.java: seq scoping + partition grouping + key-bounds
    intersection). Conservative: unknown -> True."""
    if d.sequence_number <= e.sequence_number:
        return False

    def pkey(f):
        items = tuple(sorted((k, v) for k, v in f.partition.items()
                             if v is not None))
        return (f.spec_id, items) if items else None

    dk = pkey(d.file)
    if dk is not None and e.file.spec_id == d.file.spec_id:
        ek = pkey(e.file)
        if ek is not None and ek != dk:
            return False
    for fid in d.file.equality_ids:
        if fid not in _name_cache:
            try:
                _name_cache[fid] = schema.field_by_id(fid).name
            except Exception:
                _name_cache[fid] = None
        nm = _name_cache[fid]
        if nm is None:
            continue
        dst = d.file.stats.get(nm)
        est = e.file.stats.get(nm)
        if (not dst or not est or dst[0] is None or dst[1] is None
                or est[0] is None or est[1] is None):
            continue
        try:
            disjoint = dst[1] < est[0] or dst[0] > est[1]
        except TypeError:
            continue
        # bounds cover non-NULL values only: a NULL delete key still
        # matches NULL data values, so disjoint ranges prune only when
        # one side provably holds no NULLs (stats tuple: min,max,nulls)
        if disjoint and (dst[2] == 0 or est[2] == 0):
            return False
    return True


def _pos_reach(d, keys):
    """Index range [i, j) of the files in `keys` — sorted `data/...`
    suffixes (_data_rel) of data-file paths — that pos-delete entry `d`
    may reference: the exact referenced_data_file (DVs), else its
    file_path min/max bounds (delete files are range-clustered by
    file_path at write). None when `d` is unscoped and may reference
    anything."""
    import bisect

    if d.file.referenced_data_file:
        rel = _data_rel(d.file.referenced_data_file)
        i = bisect.bisect_left(keys, rel)
        return i, i + (i < len(keys) and keys[i] == rel)
    st = d.file.stats.get("file_path")
    if st and st[0] is not None and st[1] is not None:
        return (bisect.bisect_left(keys, _data_rel(st[0])),
                bisect.bisect_right(keys, _data_rel(st[1])))
    return None


def _pos_deletes_for(pos_dels, entries):
    """The subset of pos-delete entries that may reference any of
    `entries` (_pos_reach; unscoped deletes reach every branch)."""
    if not pos_dels:
        return []
    live = sorted(_data_rel(e.file.file_path) for e in entries)
    return [d for d in pos_dels
            if (r := _pos_reach(d, live)) is None or r[0] < r[1]]


def _pos_split(files, dels):
    """Pos-delete twin of _eq_split, for branches the inline-ranges
    path cannot serve (scattered/oversized delete sets, or metadata
    columns already materialized): attach pos deletes per data file
    (_pos_reach) and split the scan so untouched files skip the
    anti-join probe entirely. Returns (clear_files, dirty_files) or
    None."""
    if len(files) < 2 or len(files) * len(dels) > EQ_SPLIT_MAX_PAIRS:
        return None
    order = sorted((_data_rel(e.file.file_path), i)
                   for i, e in enumerate(files))
    keys = [k for k, _ in order]
    dirty_idx: set = set()
    for d in dels:
        reach = _pos_reach(d, keys)
        if reach is None:
            return None  # unscoped delete may reference anything: no split
        dirty_idx.update(order[j][1] for j in range(*reach))
    if not dirty_idx or len(dirty_idx) == len(files):
        return None
    return ([e for i, e in enumerate(files) if i not in dirty_idx],
            [e for i, e in enumerate(files) if i in dirty_idx])


def _eq_split(files, dels, schema):
    """DeleteFileIndex analog: attach equality deletes per DATA file and
    split the scan into a CLEAR branch (files no delete can touch — read
    plain, zero anti-join probe cost) and a DIRTY branch (anti-join as
    before). Returns (clear_files, dirty_files) or None when no file is
    provably clear. At 100 TB this is the difference between probing
    every row of the table through the delete join and probing only the
    key-range/partition slice the deletes can reach."""
    if len(files) < 2 or len(files) * len(dels) > EQ_SPLIT_MAX_PAIRS:
        return None
    names: dict = {}
    dirty, clear = [], []
    for e in files:
        (dirty if any(_eq_applies_to_file(d, e, schema, names)
                      for d in dels)
         else clear).append(e)
    return (clear, dirty) if clear else None


def _eq_group_inline_cond(spark, metadata, schema, ids, dels):
    """(cond, tier) for one single-key uniform-seq equality-delete
    group, through the tier ladder: "trivial" (empty/NULL-only set),
    "range" (adjacency-run complement — parquet-pushable), "isin"
    (small literal NOT-IN — parquet-pushable), "probe" (compiled
    sorted-set StaticInvoke). (None, None) when only the distributed
    anti-join can serve. Cached per (app id, delete files, key column) —
    a restarted session must never reuse Column handles pointing into a
    dead JVM; code that changes a tier constant clears the cache."""
    key_col = schema.field_by_id(ids[0]).name
    lit_bytes, lit_keys = EQ_DELETE_DRIVER_BYTES, EQ_DELETE_MAX_LITERAL_KEYS
    probe_bytes, probe_keys = EQ_DELETE_PROBE_BYTES, EQ_DELETE_MAX_PROBE_KEYS
    ck = (spark.sparkContext.applicationId,
          tuple(sorted(d.file.file_path for d in dels)), key_col)
    hit = _EQ_LITERAL_FILTER_CACHE.get(ck)
    if hit is not None:
        return hit
    cond, tier = None, None
    ftype = schema.field_by_id(ids[0]).type
    probe_ok = (isinstance(ftype, str)
                and ftype in _EQ_PROBE_TYPES
                and probe_keys > lit_keys)
    # pre-check the JVM helper before paying a driver read the isin
    # path would have refused anyway
    if probe_ok and sum(d.file.record_count or 0
                        for d in dels) > lit_keys:
        from . import jvm_probe

        probe_ok = jvm_probe.available(spark)
    big_bytes = max(lit_bytes, probe_bytes) if probe_ok else lit_bytes
    big_keys = max(lit_keys, probe_keys) if probe_ok else lit_keys
    lit = _eq_delete_literal_keys(metadata, schema, ids[0], dels,
                                  big_bytes, big_keys)
    if lit is not None:
        keys, saw_null = lit
        small = (len(keys) <= lit_keys
                 and sum(d.file.file_size_in_bytes or 0
                         for d in dels) <= lit_bytes)
        runs = _eq_key_runs(keys, ftype, EQ_DELETE_MAX_RANGE_RUNS)
        c = F.col(key_col)
        if not keys:
            cond = c.isNotNull() if saw_null else F.lit(True)
            tier = "trivial"
        elif runs is not None:
            # run-compressed tier: exactly NOT-IN over the keys
            # (integer-valued adjacency runs), but parquet-pushable —
            # row groups wholly inside a deleted run are skipped by
            # min/max stats
            rc = None
            for lo, hi in runs:
                piece = (c >= F.lit(lo)) & (c <= F.lit(hi))
                rc = piece if rc is None else (rc | piece)
            cond = (c.isNotNull() & ~rc) if saw_null else (c.isNull() | ~rc)
            tier = "range"
        elif small:
            if saw_null:
                cond = c.isNotNull() & ~c.isin(keys)
            else:
                cond = c.isNull() | ~c.isin(keys)
            tier = "isin"
        else:
            from . import jvm_probe

            cond = jvm_probe.not_in_filter(spark, key_col, keys, ftype,
                                           saw_null)
            tier = "probe" if cond is not None else None
    return _EQ_LITERAL_FILTER_CACHE.put(ck, (cond, tier))


def _eq_delete_literal_keys(metadata, schema, fid: int, dels, byte_cap,
                            key_cap):
    """Driver-side read of a SMALL single-column equality-delete set,
    returning (sorted key list, saw_null) — or None when the set is too
    big, encrypted with a raw footer DEK, non-parquet, or the key type
    lacks exact literal semantics. Mirrors the pos-delete literal-range
    fast path: a codegen'd NOT-IN filter replaces a whole anti-join
    stage (and its delete-file read job) for the dominant Flink-upsert
    layout of many tiny PK delete files. The byte cap bounds driver
    memory the same way POS_DELETE_DRIVER_BYTES does; big delete sets
    keep the distributed anti-join."""
    ftype = schema.field_by_id(fid).type
    if not (isinstance(ftype, str)
            and (ftype in _EQ_LITERAL_TYPES
                 or ftype.startswith("decimal"))):
        return None
    if sum(d.file.file_size_in_bytes or 0 for d in dels) > byte_cap:
        return None
    if sum(d.file.record_count or 0 for d in dels) > key_cap:
        return None  # manifest counts pre-gate: no driver read wasted
    if any(d.file.file_format != "parquet" for d in dels):
        return None
    keys: set = set()
    saw_null = False
    for d in dels:
        try:
            wsch = metadata.schema_by_id(d.file.write_schema_id)
        except KeyError:
            wsch = schema
        name = wsch.field_by_id(fid).name
        tbl = _rel.read_columns(d.file, [name])
        if tbl is None:
            return None
        for v in tbl.column(name).to_pylist():
            if v is None:
                saw_null = True
            else:
                keys.add(v)
        if len(keys) > key_cap:
            return None
    return sorted(keys), saw_null


def _pos_delete_bytes(dels) -> int:
    # a DV entry's cost is its blob (content_size_in_bytes), not the whole
    # Puffin file it shares with other vectors
    return sum(
        (d.file.content_size_in_bytes
         if d.file.content_size_in_bytes is not None
         else d.file.file_size_in_bytes) or 0
        for d in dels)


def _relation_build(spark, data_entries, delete_entries) -> str:
    """How plan_to_df builds the plan's file relations: "manifest-fed"
    when relations.manifest_fed holds for every data and delete file it
    may read as a relation (plaintext, or encrypted and decrypted by the
    JVM), "spark.read" when it holds for none (the pyarrow decoder
    counts here too), "mixed" otherwise. Deletion vectors are not
    relation reads."""
    fed = set()
    for e in list(data_entries) + list(delete_entries):
        f = e.file
        if _is_dv(f):
            continue
        fmt = f.file_format if f.content == DATA else "parquet"
        fed.add(_rel.manifest_fed(fmt, f.file_size_in_bytes,
                                  f.key_metadata, spark))
    if False not in fed:
        return _rel.MANIFEST_FED
    return _rel.SPARK_READ if True not in fed else "mixed"


def _is_dv(f) -> bool:
    return f.file_format == "puffin" and f.content_offset is not None


def pos_delete_rows_df(spark, deletes, with_source: bool = False):
    """All deleted (file_path, pos) rows of a pos-delete entry list as one
    DataFrame, whatever the physical encoding: parquet position-delete
    files read natively; Puffin deletion-vector-v1 blobs expanded on
    executors (Arrow-batched, one blob per referenced file — the blob read
    is an offset/length seek, never a full-file parse). With
    `with_source`, a third `delete_file_path` column names the containing
    delete file (PositionDeletesTable parity)."""
    import pandas as _pd

    from .parquet_crypto import unwrap_stream_key

    pq_files = sorted((d.file for d in deletes if not _is_dv(d.file)),
                      key=lambda f: f.file_path)
    # encrypted DV Puffin containers: ags1-kms key_metadata -> (key, aad)
    dv_keys = {d.file.file_path: unwrap_stream_key(d.file.key_metadata)
               for d in deletes if _is_dv(d.file) and d.file.key_metadata}
    dv_rows = [(d.file.file_path, int(d.file.content_offset),
                int(d.file.content_size_in_bytes),
                d.file.referenced_data_file)
               for d in deletes if _is_dv(d.file)]
    dfs = []
    if pq_files:
        pq_paths = [f.file_path for f in pq_files]

        def select(df):
            cols = [F.col("file_path"), F.col("pos")]
            if with_source:
                cols.append(_io.decode_spark_path_col(
                    F.col("_metadata.file_path"),
                    paths=pq_paths).alias("delete_file_path"))
            return df.select(*cols)

        # explicit schema and recorded sizes: no inference, no listing
        dfs.append(_rel.parquet_df(spark, pq_files,
                                   "file_path string, pos long", select,
                                   with_meta=with_source))
    if dv_rows:
        out_schema = "file_path string, pos long"
        if with_source:
            out_schema += ", delete_file_path string"

        def expand(batches):
            from .deletion_vectors import read_dv_positions
            for b in batches:
                for p, o, ln, ref in zip(b["p"], b["o"], b["l"], b["ref"]):
                    d = {"file_path": ref,
                         "pos": read_dv_positions(p, int(o), int(ln),
                                                  decrypt=dv_keys.get(p))}
                    if with_source:
                        d["delete_file_path"] = p
                    yield _pd.DataFrame(d)

        ddf = spark.createDataFrame(
            dv_rows, "p string, o long, l long, ref string")
        if len(dv_rows) > 1:
            # one expand task per DV, at most max(32, cluster cores)
            ddf = ddf.repartition(min(
                len(dv_rows),
                max(32, spark.sparkContext.defaultParallelism)))
        dfs.append(ddf.mapInPandas(expand, out_schema))
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d)
    return out


# (path, content_offset) -> per-entry runs {rel_suffix: ((lo, hi), ...)}
# or None (too many runs / unreadable on the driver); plain Python values,
# so no app id in the key. Without it every
# plan_to_df re-reads and re-groups the delete parquet on the driver
# (~0.2 s at 150k deleted rows, per query).
_POS_RUNS_CACHE = BoundedCache("scan.pos_runs", 256)


def _entry_runs(d):
    """One pos-delete entry's positions, compressed to per-referenced-
    file contiguous runs, keyed by location-independent `data/...`
    suffix. Cached by the entry's immutable (path, offset) identity.
    Vectorized: file_path grouping via Arrow dictionary indices + one
    numpy pass — never a per-row Python loop."""
    import numpy as np

    ck = (d.file.file_path, d.file.content_offset or 0)
    hit = _POS_RUNS_CACHE.get(ck, False)
    if hit is not False:
        return hit
    runs_cap = 4 * POS_DELETE_MAX_LITERAL_RANGES

    def compress(rel, pos_arr, out):
        pos = np.unique(np.asarray(pos_arr, dtype=np.int64))
        if len(pos) == 0:
            return True
        breaks = np.where(np.diff(pos) != 1)[0]
        if len(breaks) + 1 > runs_cap:
            return False  # scattered: keep the distributed path
        starts = np.concatenate(([0], breaks + 1))
        ends = np.concatenate((breaks, [len(pos) - 1]))
        out.setdefault(rel, []).extend(
            (int(pos[s]), int(pos[e])) for s, e in zip(starts, ends))
        return True

    runs: dict = {}
    ok = True
    if _is_dv(d.file):
        # deletion vector: one seek to the manifest-tracked blob
        # (encrypted containers decrypt first)
        from .deletion_vectors import read_dv_positions
        from .parquet_crypto import unwrap_stream_key

        ok = compress(
            _data_rel(d.file.referenced_data_file),
            read_dv_positions(
                d.file.file_path, d.file.content_offset,
                d.file.content_size_in_bytes,
                decrypt=unwrap_stream_key(d.file.key_metadata)),
            runs)
    else:
        # None for raw-DEK files: the distributed JVM read applies them
        t = _rel.read_columns(d.file, ["file_path", "pos"])
        ok = t is not None
        if ok:
            fp_dict = t.column("file_path").combine_chunks() \
                .dictionary_encode()
            idx = fp_dict.indices.to_numpy(zero_copy_only=False)
            uniq = fp_dict.dictionary.to_pylist()
            poss = t.column("pos").to_numpy(zero_copy_only=False)
            for i, fp in enumerate(uniq):
                if not compress(_data_rel(fp), poss[idx == i], runs):
                    ok = False
                    break
    return _POS_RUNS_CACHE.put(
        ck, {rel: tuple(rs) for rel, rs in runs.items()} if ok else None)


def _pos_delete_ranges(files, dels):
    """Pos-delete set compressed to per-file contiguous position runs
    (the RoaringPositionBitmap 'run' analog, core/.../deletes/
    RoaringPositionBitmap.java:51), assembled from per-entry cached
    runs. Returns [(file_path, lo, hi)] covering every deleted position
    of scanned files, or None if the runs don't compress under the
    literal-filter cap (or an entry is driver-unreadable)."""
    # key by location-independent suffix: pos-delete contents carry the
    # absolute path at write time, which goes stale if a relative-path
    # table is relocated (v4, spec:194); `data/...` suffixes are stable
    # and unique within a table (uuid-named file dirs)
    rel_live = {_data_rel(e.file.file_path): e.file.file_path
                for e in files}
    cap = POS_DELETE_MAX_LITERAL_RANGES
    by_file: dict = {}
    for d in dels:
        runs = _entry_runs(d)
        if runs is None:
            return None
        for rel, rs in runs.items():
            tgt = rel_live.get(rel)
            if tgt is not None:
                by_file.setdefault(tgt, []).extend(rs)
    ranges = []
    for fp, rs in by_file.items():
        if len(rs) > 1:
            # multiple delete entries may cover one file: merge runs
            rs = sorted(rs)
            merged = [list(rs[0])]
            for lo, hi in rs[1:]:
                if lo <= merged[-1][1] + 1:
                    merged[-1][1] = max(merged[-1][1], hi)
                else:
                    merged.append([lo, hi])
            rs = merged
        for lo, hi in rs:
            ranges.append((fp, int(lo), int(hi)))
            if len(ranges) > cap:
                return None
    return ranges


# Compiled position-run probe columns by delete layout: a build costs a
# few py4j round trips, and the runs come from immutable delete files.
# NOTE: a per-file READ fanout (one union branch per deleted-into file,
# position-only filters) was measured SLOWER at sf10 — 13 single-file
# branches cost ~0.2s of plan build and lost cross-branch codegen fusion
# (exec 0.73s vs 0.49s grouped) — so the grouped read + this probe is
# the shape that scales.
_POS_COVER_FILTER_CACHE = BoundedCache("scan.pos_cover_filters", 256)


def _uri_lit(fp: str) -> str:
    """A manifest path in the `file:` URI spelling of Spark's raw
    `_metadata.file_path`."""
    return "file:" + fp if fp.startswith("/") else fp


def _pos_deleted_cond(spark, pos_ranges, raw_meta: bool):
    """(Column, probed): 'position is deleted' over `pos_ranges`. The
    runs use the cached compiled run-coverage probe
    (jvm_probe.pos_covered_filter) — one StaticInvoke per row, memoized
    file ordinal + binary search over (ordinal<<40)|pos-encoded runs,
    the per-task BitmapPositionDeleteIndex probe shape (reference
    core/.../deletes/BitmapPositionDeleteIndex.java:31). Without the JVM
    helper they fall back to the _ranges_filter expression chain.
    `raw_meta` tests Spark's raw `_metadata` struct before projection:
    URI-spelled paths compare raw against `file:` literals when no path
    holds a char Spark would percent-escape (zero per-row
    transformation), else through the decoded column so %20-spelled
    paths match the manifests' raw ones. Otherwise the test reads the
    projected, already-normalized _file/_pos columns."""
    files = {fp for fp, _, _ in pos_ranges}
    if raw_meta:
        path_expr, pos_expr = "_metadata.file_path", "_metadata.row_index"
        invariant = all(_io.uri_encoding_invariant(p) for p in files)
    else:
        path_expr, pos_expr, invariant = FILE_PATH_COL, POS_COL, True
    path_lit = _uri_lit if raw_meta else (lambda fp: fp)
    if invariant:
        ck = (spark.sparkContext.applicationId, raw_meta, path_expr,
              pos_expr, tuple(pos_ranges))
        probe = _POS_COVER_FILTER_CACHE.get(ck, False)
        if probe is False:
            from . import jvm_probe

            probe = _POS_COVER_FILTER_CACHE.put(
                ck, jvm_probe.pos_covered_filter(spark, pos_ranges, path_lit,
                                                 path_expr, pos_expr))
        if probe is not None:
            return probe, True
    if not invariant:
        return _ranges_filter(_io.decode_spark_path_col(F.col(path_expr)),
                              F.col(pos_expr), pos_ranges), False
    return _ranges_filter(F.col(path_expr), F.col(pos_expr), pos_ranges,
                          path_lit=path_lit), False


def _ranges_filter(path_col, pos_col, pos_ranges, path_lit=lambda fp: fp):
    """Compact 'deleted' predicate for position runs: singleton positions
    collapse into ONE isin() per file (Catalyst InSet — O(1) expression
    depth, hash-set probe at runtime); true runs stay as between(). The
    naive per-range (lt OR gt) AND-chain costs Catalyst ~1.5s of
    analysis/codegen at ~150 scattered single-row deletes — the exact
    shape random row-level deletes produce — vs ~0.1s for this one.
    `path_col=None` emits position-only conditions (single-file reads:
    the path qualifier is implied by the read itself)."""
    by_fp: dict = {}
    for fp, lo, hi in pos_ranges:
        pts, runs = by_fp.setdefault(fp, ([], []))
        (pts if lo == hi else runs).append((lo, hi))
    deleted = None
    for fp, (pts, runs) in by_fp.items():
        conds = []
        if pts:
            conds.append(pos_col.isin(*[lo for lo, _ in pts]))
        for lo, hi in runs:
            conds.append(pos_col.between(lo, hi))
        c = conds[0]
        for extra in conds[1:]:
            c = c | extra
        # position test FIRST: codegen short-circuits the AND, and the
        # integer between/InSet rejects the ~90% undeleted rows before
        # the per-row STRING path comparison ever runs (measured 2x on
        # the hit branch of a 15M-row scan with 16 ranges: 0.45s -> 0.92s
        # with the path compare leading)
        if path_col is not None:
            c = c & (path_col == F.lit(path_lit(fp)))
        deleted = c if deleted is None else (deleted | c)
    return deleted


_SPARK_AVRO = BoundedCache("scan.spark_avro", 16)  # id(context) -> bool


def _spark_avro_available(spark) -> bool:
    """spark-avro is an optional external module since Spark 2.4; probe
    once per session (schema-only read of nothing — no job runs)."""
    key = id(spark.sparkContext)
    hit = _SPARK_AVRO.get(key)
    if hit is None:
        try:
            spark.read.format("avro").schema("x int").load("/nonexistent")
            hit = True
        except Exception as e:
            hit = "Failed to find data source" not in str(e)
        _SPARK_AVRO.put(key, hit)
    return hit


def _avro_decode_df(spark, paths: list, read_schema):
    """Avro container files -> DataFrame without spark-avro: paths fan
    out one per task and each decodes with the engine's pure-Python
    container codec (avro_file.read_avro) into Arrow batches. Per-file
    parallelism — the same task shape a native reader gets."""
    import pandas as _pd

    cols = [f.name for f in read_schema.fields]

    def decode(batches):
        from .avro_file import read_avro

        for b in batches:
            for p in b["p"]:
                _, _, rows = read_avro(p)
                yield _pd.DataFrame(
                    {c: [r.get(c) for r in rows] for c in cols})

    pdf = spark.createDataFrame([(p,) for p in sorted(paths)], "p string")
    return (pdf.repartition(max(1, len(paths)))
            .mapInPandas(decode, read_schema))


_PUSHDOWN_SAFE_TYPES = {"boolean", "int", "long", "string", "date"}


def _arrow_pushdown_filter(residual, schema, wschema):
    """SUPERSET-safe pyarrow.dataset filter from the bound residual for
    the decrypting reader: only top-level conjuncts over identity terms
    whose write-schema column has the same name and a type with
    identical comparison semantics in Spark and Arrow (floats excluded —
    Spark orders NaN above all values, Arrow is IEEE; timestamps
    excluded — tz interpretation differs). Pushing an AND-subset can
    only keep extra rows, and plan_to_df re-applies the FULL residual
    after the union, so this is always sound. Returns None when nothing
    pushes."""
    import pyarrow.dataset as ds

    if isinstance(residual, E.AlwaysTrue):
        return None

    def term_names(e, acc):
        if isinstance(e, (E.And, E.Or)):
            term_names(e.left, acc)
            term_names(e.right, acc)
        elif isinstance(e, E.Not):
            term_names(e.child, acc)
        else:
            t = getattr(e, "term", None)
            if t is not None:
                acc.append(t.name)
        return acc

    by_id = {f.field_id: f for f in wschema.fields}
    parts = []
    for c in E.conjuncts(residual):
        ok = True
        for n in term_names(c, []):
            try:
                cur = schema.find_field(n)
            except KeyError:
                ok = False
                break
            wf = by_id.get(cur.field_id)
            if (wf is None or wf.name != cur.name
                    or wf.type != cur.type
                    or cur.type not in _PUSHDOWN_SAFE_TYPES):
                ok = False
                break
        if not ok:
            continue
        try:
            parts.append(E.to_arrow(c, ds.field))
        except TypeError:
            continue
    if not parts:
        return None
    out = parts[0]
    for p in parts[1:]:
        out = out & p
    return out


# Tiers whose per-row cost is near-zero (a few comparisons / one InSet
# lookup) AND that push into the parquet reader. For these, reading all
# files as ONE relation with the filter everywhere beats the
# clear/dirty split's second relation + file index + task wave — the
# eq analog of r13's single-relation position-probe read (change #8).
# The probe tier stays split: its per-row binary search is real money
# on clean files at scale (memory-latency-bound on virtualized cores).
_EQ_CHEAP_TIERS = ("trivial", "range", "isin")


@dataclass
class EqGroup:
    """How the equality deletes over one set of key fields apply."""

    ids: tuple  # sorted equality field ids
    key_cols: list  # current names of those fields
    deletes: list  # list[ManifestEntry]
    # "trivial" | "range" | "isin" | "probe": inline filter;
    # "broadcast" | "shuffle": anti-join on the keys;
    # "seq-tagged": anti-join also scoped by data seq < delete seq
    tier: str
    filter: object = None  # the inline tiers' Column


@dataclass
class ReadBranch:
    """One union branch of a read: its data files, the deletes that can
    reach them, and how each kind applies."""

    files: list  # list[ManifestEntry] (data)
    pos_deletes: list
    # None (no pos deletes) | "inline": runs tested on the raw metadata
    # struct inside the read | "post": runs tested after projection |
    # "broadcast" | "shuffle": (file, pos) anti-join
    pos_tier: Optional[str]
    pos_ranges: Optional[list]  # [(file_path, lo, hi)] for inline/post
    # every data file predates every equality delete, so the
    # data seq < delete seq scoping is uniformly true
    uniform_eq: bool
    eq_groups: list  # list[EqGroup]
    need_pos: bool  # the read projects _pos (and _file)
    need_meta: bool  # the read projects _file


@dataclass
class ReadDecision:
    """Every choice of one read, made from plan metadata (plus a driver
    read of small delete sets for the run and literal tiers) before any
    relation is built. `splits` lists the clear/dirty splits applied,
    in order: "eq" (files no equality delete can reach read plain),
    then "pos" (the same for position deletes)."""

    branches: list  # list[ReadBranch], unioned in order
    splits: list


def _decide_read(scan: TableScan, plan: ScanPlan,
                 with_metadata_columns: bool = False,
                 with_lineage: bool = False) -> ReadDecision:
    """The DeleteFileIndex half of a read (reference core/.../
    DeleteFileIndex.java): which delete files reach which data files,
    and how each kind applies. plan_to_df executes the result."""
    spark, metadata, schema = scan.spark, scan.metadata, scan.schema
    meta_cols = with_metadata_columns or with_lineage
    by_ids: dict = {}
    for d in plan.eq_deletes:
        by_ids.setdefault(tuple(sorted(d.file.equality_ids)), []).append(d)
    inline: dict = {}

    def inline_tier(ids):
        # (filter, tier) of a group applied as a scalar filter, or
        # (None, None) when only an anti-join serves
        if ids not in inline:
            inline[ids] = (
                _eq_group_inline_cond(spark, metadata, schema, ids,
                                      by_ids[ids])
                if len(ids) == 1 else (None, None))
        return inline[ids]

    def uniform(files, eq):
        # Equality deletes apply to data files with seq < delete seq.
        # When every data file predates every delete (the common layout:
        # deletes committed after the data), the scoping predicate is
        # uniformly true, so the per-row sequence columns — a
        # metadata-struct projection, a broadcast seq map join, and a
        # literal path->seq map on the delete side — can all be skipped.
        return bool(eq) and (
            max((e.sequence_number for e in files), default=-1)
            < min(d.sequence_number for d in eq))

    def branch(files, pos, eq, ranges, inline_pos):
        if not pos:
            pos_tier = None
        elif inline_pos:
            pos_tier = "inline"
        elif ranges is not None:
            pos_tier = "post"
        elif _pos_delete_bytes(pos) <= POS_DELETE_BROADCAST_BYTES:
            pos_tier = "broadcast"
        else:
            # An unfiltered scan attaches every live delete file; at 10%
            # deleted on a large table that is billions of (path, pos)
            # rows — too big to ship to every executor.
            pos_tier = "shuffle"
        uni = uniform(files, eq)
        groups = []
        for ids, dels in (by_ids.items() if eq and files else ()):
            cond, tier = inline_tier(ids) if uni else (None, "seq-tagged")
            if tier is None:
                tier = ("broadcast" if sum(d.file.file_size_in_bytes or 0
                                           for d in dels)
                        <= POS_DELETE_BROADCAST_BYTES else "shuffle")
            groups.append(EqGroup(
                ids, [schema.field_by_id(i).name for i in ids], dels, tier,
                cond))
        need_pos = meta_cols or (bool(pos) and not inline_pos)
        return ReadBranch(files, pos, pos_tier, ranges, uni, groups,
                          need_pos, need_pos or (bool(eq) and not uni))

    # per-file equality-delete attachment (DeleteFileIndex analog): files
    # no delete can touch read on a plain branch with no anti-join probe
    # — unless every group applies as a cheap pushable filter, when one
    # relation wins (see _EQ_CHEAP_TIERS)
    splits: list = []
    pieces = [(plan.files, plan.pos_deletes, plan.eq_deletes, True)]
    if plan.eq_deletes and plan.files and not (
            not plan.pos_deletes
            and uniform(plan.files, plan.eq_deletes)
            and all(inline_tier(ids)[1] in _EQ_CHEAP_TIERS
                    for ids in by_ids)):
        split = _eq_split(plan.files, plan.eq_deletes, schema)
        if split is not None:
            clear, dirty = split
            splits.append("eq")
            pieces = [(clear, _pos_deletes_for(plan.pos_deletes, clear), [],
                       True)]
            if dirty:
                pieces.append((dirty,
                               _pos_deletes_for(plan.pos_deletes, dirty),
                               plan.eq_deletes, False))

    branches = []
    for files, pos, eq, may_split in pieces:
        # A small pos-delete set compresses to literal position runs,
        # which (when nothing else needs metadata columns) apply inside
        # each file-group read on the raw _metadata struct —
        # materializing _metadata.row_index per row costs ~25% of a
        # narrow scan, so skip it when a codegen'd filter suffices.
        ranges = (_pos_delete_ranges(files, pos)
                  if files and pos
                  and _pos_delete_bytes(pos) <= POS_DELETE_DRIVER_BYTES
                  else None)
        inline_pos = ranges is not None and not meta_cols and not eq
        if may_split and pos and not inline_pos and not eq and files:
            # per-file pos-delete attachment for branches the inline
            # path cannot serve: untouched files skip the anti-join /
            # metadata-filter branch (the inline path does its own
            # read-level clean/hit split)
            psplit = _pos_split(files, pos)
            if psplit is not None:
                splits.append("pos")
                branches.append(branch(psplit[0], [], [], None, False))
                files = psplit[1]
        branches.append(branch(files, pos, eq, ranges, inline_pos))
    return ReadDecision(branches, splits)


def plan_to_df(scan: TableScan, plan: ScanPlan, with_metadata_columns: bool = False,
               with_lineage: bool = False) -> DataFrame:
    decision = _decide_read(scan, plan, with_metadata_columns, with_lineage)
    out = None
    for b in decision.branches:
        df = _build_branch(scan, plan.residual, b, with_metadata_columns,
                           with_lineage)
        out = df if out is None else out.unionByName(df)
    return out


def _build_branch(scan: TableScan, residual, b: ReadBranch,
                  with_metadata_columns: bool,
                  with_lineage: bool) -> DataFrame:
    spark, schema = scan.spark, scan.schema
    if not b.files:
        read_cols = scan.columns or schema.column_names
        spark_schema = type_to_spark(StructT(tuple(schema.find_field(c) for c in read_cols)))
        df = spark.createDataFrame([], schema=spark_schema)
        if with_metadata_columns:
            df = (df.withColumn(FILE_PATH_COL, F.lit(None).cast("string"))
                    .withColumn(POS_COL, F.lit(None).cast("long")))
        if with_lineage:
            df = (df.withColumn(ROW_ID_COL, F.lit(None).cast("long"))
                    .withColumn(LAST_UPDATED_SEQ_COL, F.lit(None).cast("long")))
        return df

    out = _read_files(scan, residual, b, with_metadata_columns, with_lineage)
    # residual filter (full filter re-applied; Catalyst pushes it to parquet)
    if not isinstance(residual, E.AlwaysTrue):
        out = out.filter(E.to_spark(residual))
    if b.pos_tier == "post" and b.pos_ranges:
        # tiny delete set but metadata columns are materialized anyway
        # (lineage/eq-deletes/user request): codegen filter on the
        # normalized columns, still no join and no extra Spark job
        out = out.filter(~_pos_deleted_cond(spark, b.pos_ranges,
                                            raw_meta=False)[0])
    elif b.pos_tier in ("broadcast", "shuffle"):
        out = _pos_anti_join(spark, out, b)
    if b.eq_groups:
        out = _apply_eq_deletes(scan, out, b)

    if with_lineage:
        # row lineage (format/spec.md:460): _row_id = file.first_row_id +
        # position; _last_updated_sequence_number = the file's data sequence
        # number (rows not yet rewritten carry their file's commit seq).
        # Broadcast per-file map — file count is plan-sized, never row-sized.
        lin_rows = [(e.file.file_path, e.file.first_row_id, e.sequence_number)
                    for e in b.files]
        lin_df = spark.createDataFrame(
            lin_rows, "__lin_file string, __lin_first long, __lin_seq long")
        out = (out.join(F.broadcast(lin_df),
                        F.col(FILE_PATH_COL) == F.col("__lin_file"), "left")
               .withColumn(ROW_ID_COL, F.coalesce(
                   F.col("__mat_rid"), F.col("__lin_first") + F.col(POS_COL)))
               .withColumn(LAST_UPDATED_SEQ_COL, F.coalesce(
                   F.col("__mat_seq"), F.col("__lin_seq")))
               .drop("__lin_file", "__lin_first", "__lin_seq",
                     "__mat_rid", "__mat_seq"))

    if not with_metadata_columns and b.need_meta:
        out = out.drop(FILE_PATH_COL, POS_COL)
    return out


def _read_files(scan: TableScan, residual, b: ReadBranch,
                with_metadata_columns: bool, with_lineage: bool) -> DataFrame:
    """The branch's data files as one DataFrame: a relation per file
    group, projected to the scan's columns by field id plus _file/_pos
    when the branch needs them, with "inline" position-delete runs
    applied inside each group's read."""
    spark, metadata, schema = scan.spark, scan.metadata, scan.schema
    read_cols = scan.columns or schema.column_names
    need_pos, need_meta = b.need_pos, b.need_meta
    inline_runs = b.pos_ranges if b.pos_tier == "inline" else None

    # group files by (write-schema, format) for field-ID column mapping.
    # Third key: identity-partition CONSTANTS — a hive-layout import's
    # files don't physically store identity partition source columns, so
    # those read from partition metadata (PartitionUtil.constantsMap
    # semantics). Physical absence is detected by the column having no
    # footer stats on that file; the fill value is the partition tuple's,
    # which the spec requires to equal the column value anyway.
    _ident_cache: dict = {}

    def _ident_srcs(spec_id):
        if spec_id not in _ident_cache:
            pairs = []
            for pf in metadata.spec_by_id(spec_id).fields:
                if not isinstance(pf.transform, Identity):
                    continue
                try:
                    src = schema.field_by_id(pf.source_id).name
                except KeyError:
                    continue
                if src in read_cols:
                    pairs.append((pf.name, src))
            _ident_cache[spec_id] = pairs
        return _ident_cache[spec_id]

    def _ident_fills(e):
        pairs = _ident_srcs(e.file.spec_id)
        if not pairs:
            return ()
        return tuple(sorted(
            (src, e.file.partition.get(fname))
            for fname, src in pairs if src not in e.file.stats))

    # Fourth key: per-file variant ENCODING signature. The engine writes
    # native binary variant by default but JSON text under
    # `write.variant.encoding=json` (and always did before the default
    # flipped), so one table can hold both encodings; a group must be
    # physically homogeneous or the group-level schema misreads half the
    # files. Probing is one local footer read per file, only on tables
    # whose write schema has variant columns.
    # companion-column presence is only consulted by the shredded-
    # predicate pushdown rewrite, which only engages when the residual
    # carries shredded-path conjuncts — gate the (JVM-fallback) footer
    # probe on that so a plain scan of a 10k-file variant table never
    # pays 10k py4j footer opens
    _want_comps = any(
        isinstance(c, E.BoundPredicate)
        and getattr(c.term, "stats_name", None)
        for c in E.conjuncts(residual))

    def _var_sig(e):
        try:
            ws = metadata.schema_by_id(e.file.write_schema_id)
        except KeyError:
            ws = schema
        vnames = {f.name for f in ws.fields if f.type == "variant"}
        if not vnames or e.file.file_format != "parquet":
            return ()
        p = e.file.file_path
        hit = _VAR_SIG_CACHE.get(p)
        if hit is None or (_want_comps and hit[1] is None):
            try:
                import pyarrow as _pa

                foot = _io.read_parquet_schema(p)
                native = set()
                for vn in vnames:
                    if vn in foot.names:
                        ft = foot.field(vn).type
                        if (_pa.types.is_struct(ft)
                                and {f.name for f in ft}
                                >= {"metadata", "value"}):
                            native.add(vn)
                comps = tuple(sorted(
                    n for n in foot.names if n.startswith("_shred_f")))
                hit = (tuple(sorted(native)), comps)
            except Exception:
                # pyarrow refuses the parquet VARIANT logical type at the
                # footer — that refusal IS the native-encoding marker.
                # The JVM footer reader still answers whether the file
                # physically carries engine companion columns (it won't
                # for imported spec-shredded files, whose typed_value
                # groups live INSIDE the variant column): the companion
                # set joins the group key so the physical-pushdown
                # rewrite below never targets a file lacking the column.
                # The py4j probe runs ONLY when the residual carries
                # shredded-path terms (None = unprobed) — a plain scan
                # of a 10k-file variant table pays zero of them.
                comps = None
                if _want_comps:
                    try:
                        from .variant_shred import jvm_top_level_columns

                        cols = jvm_top_level_columns(spark, p)
                        comps = tuple(sorted(
                            c for c in cols if c.startswith("_shred_f")))
                    except Exception:
                        comps = ()
                hit = (tuple(sorted(vnames)), comps)
            _VAR_SIG_CACHE.put(p, hit)
        native, comps = hit
        return (native, comps if (_want_comps and comps is not None)
                else ())

    # Fifth key: encrypted or not (data_file.key_metadata). Encrypted
    # files open through relations.parquet_df, which splits them by key;
    # one table can hold both (files written before `encryption.key-id`
    # was set stay plaintext).
    groups: dict = {}
    for e in b.files:
        groups.setdefault(
            (e.file.write_schema_id, e.file.file_format, _ident_fills(e),
             _var_sig(e), e.file.key_metadata is not None),
            []).append(e)

    parts = []
    for (wsid, ffmt, ident_fills, _vsig, encrypted), entries in groups.items():
        fills = dict(ident_fills)
        try:
            wschema = metadata.schema_by_id(wsid)
        except KeyError:
            wschema = schema
        # _pos is parquet-only; lineage degrades to null row ids on other
        # formats (they cannot carry _row_id), but _pos-dependent reads
        # (position deletes, explicit metadata columns) must fail loudly
        group_parquet = ffmt == "parquet"
        if not group_parquet and (with_metadata_columns or b.pos_deletes):
            raise ValueError(
                f"_pos / position deletes require parquet data files; "
                f"{entries[0].file.file_path} is {ffmt} (use copy-on-write "
                f"modes for {ffmt} tables)")
        paths = [e.file.file_path for e in entries]
        sizes = {e.file.file_path: e.file.file_size_in_bytes
                 for e in entries}
        read_schema = wschema.to_spark()
        # variant columns: the engine writes canonical JSON text (see
        # write_data_files) — read as string, parse_json back to
        # VariantType in the projection. Files imported via add_files may
        # instead carry Spark's native binary variant encoding
        # (metadata/value group, format/spec.md:243); detect the physical
        # type from one footer per group and read those natively, no
        # parse_json round-trip.
        var_names = {f.name for f in wschema.fields if f.type == "variant"}
        if var_names:
            from pyspark.sql import types as _T

            # the group key's _var_sig already probed every file's
            # footer for its physical variant encoding — groups are
            # encoding-homogeneous by construction, so the signature IS
            # the read-schema decision (no second footer read per group)
            native_vars = set(_vsig[0]) if _vsig else set()
            read_schema = _T.StructType([
                fld if fld.name in native_vars
                else _T.StructField(fld.name, _T.StringType(), True)
                if fld.name in var_names else fld
                for fld in read_schema.fields])
        if with_lineage and group_parquet:
            # surface materialized lineage columns written by row-level ops
            # (missing in append-only files -> read as null, inheritance wins)
            from pyspark.sql import types as _T

            read_schema = _T.StructType(
                list(read_schema.fields)
                + [_T.StructField(ROW_ID_COL, _T.LongType(), True),
                   _T.StructField(LAST_UPDATED_SEQ_COL, _T.LongType(),
                                  True)])
        # shredded-variant pushdown: residual conjuncts on DECLARED
        # extract() paths rewrite onto the PHYSICAL companion column
        # (`_shred_f<fid>`) for groups where every file carries its
        # stats (companion guaranteed present) — the filter becomes a
        # plain typed comparison Catalyst pushes into the parquet scan
        # (row-group skipping + codegen) instead of a per-row variant
        # decode. Exactly equivalent (the companion IS variant_get of
        # the path, written in the same job), and the full residual
        # still re-applies after projection — superset-safety twice over.
        shred_pre = []
        if group_parquet and not isinstance(residual, E.AlwaysTrue):
            from pyspark.sql import types as _T

            from .schema import type_to_spark as _tts

            seen_shred = set()
            # physical-presence gate: every file in this group carries
            # the companion column in its FOOTER (the _var_sig probe put
            # the companion set in the group key). Stats presence is not
            # enough — imported spec-shredded files carry companion
            # STATS from the manifest but no physical `_shred_f` column;
            # filtering a null-read column there would drop every row.
            group_comps = _vsig[1] if len(_vsig) == 2 else ()
            for c in E.conjuncts(residual):
                sn = (getattr(c.term, "stats_name", None)
                      if isinstance(c, E.BoundPredicate) else None)
                if not sn:
                    continue
                if sn not in group_comps:
                    continue  # a file may lack the companion: skip group
                shred_pre.append(c)
                if sn not in seen_shred:
                    seen_shred.add(sn)
                    read_schema = _T.StructType(
                        list(read_schema.fields)
                        + [_T.StructField(sn, _tts(c.term.stats_type),
                                          True)])

        def finish(df):
            """The group's read, projected to the branch's columns."""
            if shred_pre:
                from .schema import NestedField as _NF

                pred_col = None
                for c in shred_pre:
                    bp = E.BoundPredicate(
                        c.op,
                        E.BoundTerm(_NF(0, c.term.stats_name,
                                        c.term.stats_type, False), None),
                        c.literals)
                    cc = E.to_spark(bp)
                    pred_col = cc if pred_col is None else (pred_col & cc)
                df = df.filter(pred_col).drop(
                    *dict.fromkeys(c.term.stats_name for c in shred_pre))
            # map file columns -> current names by field id; fill missing
            # with null
            by_id = {f.field_id: f for f in wschema.fields}
            # fast path: no evolution/rename/promotion/variant in play and no
            # metadata/lineage columns requested -> project by plain column
            # names (one py4j call) instead of building per-column expression
            # trees (~40 py4j round-trips per scan on a 16-column table; the
            # dominant cost of driver-side DataFrame construction per profile)
            if not need_meta and not with_lineage and not fills:
                simple = True
                for cname in read_cols:
                    cur = schema.find_field(cname)
                    wf = by_id.get(cur.field_id)
                    if (wf is None or wf.name != cname or wf.type != cur.type
                            or cur.type == "variant"):
                        simple = False
                        break
                if simple:
                    if read_cols != [f.name for f in wschema.fields]:
                        df = df.select(*read_cols)
                    return df
            sel = []
            for cname in read_cols:
                cur = schema.find_field(cname)
                wf = by_id.get(cur.field_id)
                if cname in fills:
                    # identity-partition constant: the physical file
                    # doesn't store this column (hive-layout import) — its
                    # value is the file's partition tuple entry by spec
                    # invariant
                    sel.append(F.lit(fills[cname])
                               .cast(type_to_spark(cur.type)).alias(cname))
                    continue
                if wf is not None:
                    c = F.col(wf.name)
                    if cur.type == "variant":
                        if wf.name not in native_vars:
                            c = F.parse_json(c)  # JSON text -> VariantType
                    elif wf.type != cur.type:  # promoted (int->long etc.)
                        if wf.type == "date" and cur.type == "timestamp_ns":
                            # timestamp_ns is stored as long nanos (schema.py);
                            # a date is whole days -> days * 86400e9 nanos
                            c = (F.unix_date(c).cast("long")
                                 * F.lit(86_400_000_000_000).cast("long"))
                        else:
                            c = c.cast(type_to_spark(cur.type))
                    sel.append(c.alias(cname))
                else:
                    # v3 initial-default: pre-evolution files read the default
                    fill = (F.lit(cur.initial_default)
                            if cur.initial_default is not None
                            else F.lit(None))
                    sel.append(fill.cast(type_to_spark(cur.type)).alias(cname))
            if need_meta:
                # decode + normalize the URI column to plain-path form so it
                # matches manifest file_path values (percent-escapes AND the
                # file: scheme); the group's path list licenses the cheap
                # scheme-strip when nothing needs escaping
                sel = sel + [
                    _io.decode_spark_path_col(F.col("_metadata.file_path"),
                                              paths=paths)
                    .alias(FILE_PATH_COL),
                ]
                if need_pos:
                    sel.append(F.col("_metadata.row_index").alias(POS_COL)
                               if group_parquet
                               else F.lit(None).cast("long").alias(POS_COL))
            if with_lineage:
                if group_parquet:
                    sel.append(F.col(ROW_ID_COL).alias("__mat_rid"))
                    sel.append(F.col(LAST_UPDATED_SEQ_COL).alias("__mat_seq"))
                else:
                    sel.append(F.lit(None).cast("long").alias("__mat_rid"))
                    sel.append(F.lit(None).cast("long").alias("__mat_seq"))
            return df.select(*sel)

        if encrypted:
            # the opener picks the reader by key; the inline runs test
            # the raw `_metadata` struct inside each key group's read
            want_meta = need_meta or bool(inline_runs)
            keep = (~_pos_deleted_cond(spark, inline_runs, raw_meta=True)[0]
                    if inline_runs else None)
            parts.append(_rel.parquet_df(
                spark, [e.file for e in entries], read_schema,
                lambda df: finish(df if keep is None else df.filter(keep)),
                arrow_filter=None if want_meta else _arrow_pushdown_filter(
                    residual, schema, wschema),
                with_meta=want_meta))
            continue
        if inline_runs:
            # apply position-delete runs on the raw metadata struct (URI
            # form, e.g. file:/x) before projection — no join, no extra
            # job, no per-row normalized-path materialization.
            deleted, probed = _pos_deleted_cond(spark, inline_runs,
                                                raw_meta=True)
            if probed:
                # ONE relation over ALL files, probe filter on every
                # row: coveredFilePos answers false for paths outside
                # its table (one memoized binary-search miss per file),
                # so untouched files stream through at raw-scan speed.
                # A clean/hit two-relation union was measured SLOWER at
                # sf10 (32 files -> 27+26=53 scan partitions = two task
                # waves on 32 cores: union 552 ms vs single-relation
                # probe 363 ms ~= raw 368 ms).
                df = (_rel.files_df(spark, ffmt, read_schema, paths, sizes)
                      .filter(~deleted))
            else:
                # probe unavailable: per-row expression chains cost per
                # file, so only the files that actually carry deletes
                # pay the metadata-column filter; untouched files — the
                # vast majority on a large table with localized deletes
                # — read through the unfiltered fast path and union
                # back in.
                affected = {fp for fp, _, _ in inline_runs}
                clean = [p for p in paths if p not in affected]
                hit = [p for p in paths if p in affected]
                pieces = []
                if clean:
                    pieces.append(
                        _rel.files_df(spark, ffmt, read_schema, clean, sizes))
                if hit:
                    pieces.append(
                        _rel.files_df(spark, ffmt, read_schema, hit, sizes)
                        .filter(~deleted))
                df = pieces[0]
                for p in pieces[1:]:
                    df = df.unionByName(p)
        elif ffmt == "avro" and not _spark_avro_available(spark):
            # spark-avro is an optional module (absent here): decode the
            # containers EXECUTOR-side with the engine's own Avro codec
            # (avro_file.py) — one task per file via mapInPandas, so the
            # read parallelizes exactly like a native format reader
            df = _avro_decode_df(spark, paths, read_schema)
        else:
            df = _rel.files_df(spark, ffmt, read_schema, paths, sizes)
        parts.append(finish(df))
    out = parts[0]
    for d in parts[1:]:
        out = out.unionByName(d)
    return out



def _pos_anti_join(spark, out, b: ReadBranch):
    # DV entries share one Puffin container path at different
    # offsets: the blob identity must join the cache key
    dv_ident = tuple(sorted(
        (d.file.file_path, d.file.content_offset or 0)
        for d in b.pos_deletes))
    pos_df = _delete_build_cached(
        spark, b.pos_deletes, ("pos", dv_ident),
        lambda: pos_delete_rows_df(spark, b.pos_deletes).select(
            F.col("file_path").alias("__del_file"),
            F.col("pos").alias("__del_pos")))
    # suffix-normalized path equality (see _data_rel): survives
    # table relocation while staying a plain hash-join key
    anti_cond = (
        (_data_rel_col(F.col(FILE_PATH_COL))
         == _data_rel_col(F.col("__del_file")))
        & (F.col(POS_COL) == F.col("__del_pos"))
    )
    # Below the threshold a broadcast hash anti-join is shuffle-free;
    # above it a shuffled-hash anti-join keyed by (file, pos) keeps
    # every executor's share bounded (both sides cluster naturally by
    # file path).
    if b.pos_tier == "broadcast":
        return out.join(F.broadcast(pos_df), anti_cond, "left_anti")
    return out.join(pos_df.hint("shuffle_hash"), anti_cond, "left_anti")


def _eq_delete_keys_df(spark, metadata, schema, ids, dels, with_seq: bool):
    """The delete keys of `dels` as `__delk_<i>` columns, plus each
    row's delete-file sequence number as `__del_seq` when `with_seq`.
    Explicit schema read (skips the inference job). Column names are
    the DELETE FILE's write-time names (field-ID mapped via its write
    schema): reading a pre-rename file by the current name would
    silently return all-NULL keys instead of failing loudly."""
    by_ws: dict = {}
    for d in dels:
        by_ws.setdefault(d.file.write_schema_id, []).append(d)
    pieces = []
    for wsid, ds in by_ws.items():
        try:
            wsch = metadata.schema_by_id(wsid)
        except KeyError:
            wsch = schema
        wfields = [wsch.field_by_id(i) for i in ids]
        cols = [F.col(wf.name).alias(f"__delk_{i}")
                for i, wf in enumerate(wfields)]
        if with_seq:
            seq_map = {d.file.file_path: d.sequence_number for d in ds}
            mapping = F.create_map(*[F.lit(x) for kv in seq_map.items()
                                     for x in kv])
            # normalize file:// URIs to match the manifest's plain paths
            cols.append(mapping[_io.decode_spark_path_col(
                F.col("_metadata.file_path"), paths=list(seq_map))]
                .alias("__del_seq"))
        pieces.append(_rel.parquet_df(
            spark, [d.file for d in ds],
            type_to_spark(StructT(tuple(wfields))),
            lambda df, cols=cols: df.select(*cols), with_meta=with_seq))
    dd = pieces[0]
    for p in pieces[1:]:
        dd = dd.unionByName(p)
    return dd


def _apply_eq_deletes(scan: TableScan, out, b: ReadBranch):
    spark, metadata, schema = scan.spark, scan.metadata, scan.schema
    if not b.uniform_eq:
        # mixed sequence layout: attach data sequence numbers per file
        # (broadcast map), anti-join per equality-field-set with
        # per-pair seq scoping
        seq_rows = [(e.file.file_path, e.sequence_number) for e in b.files]
        seq_df = spark.createDataFrame(seq_rows, ["__seq_file", "__data_seq"])
        out = out.join(F.broadcast(seq_df), F.col(FILE_PATH_COL) == F.col("__seq_file"), "left") \
                 .drop("__seq_file")
    for g in b.eq_groups:
        if g.filter is not None:
            # small single-key delete sets inline as a codegen'd filter —
            # no join stage, no per-scan delete-file read job, and the
            # predicate reaches parquet row-group stats. NULL semantics
            # match the anti-join's eqNullSafe: a NULL row survives
            # unless some delete row carried a NULL key.
            out = out.filter(g.filter)
            continue
        seq = g.tier == "seq-tagged"
        if seq:
            # sequence numbers are baked into the frame -> they join the
            # cache key (a cherry-picked replay of the same file could in
            # principle land at a different seq)
            ck = ("eq-seq", g.ids, tuple(sorted(
                (d.file.file_path, d.sequence_number) for d in g.deletes)))
        else:
            ck = ("eq-uniform", g.ids)
        dd = _delete_build_cached(
            spark, g.deletes, ck,
            lambda g=g, seq=seq: _eq_delete_keys_df(
                spark, metadata, schema, g.ids, g.deletes, seq))
        dd = _eq_build_bounds_filter(dd, b.files, g.key_cols)
        cond = F.col("__data_seq") < F.col("__del_seq") if seq else None
        for i, k in enumerate(g.key_cols):
            c = out[k].eqNullSafe(F.col(f"__delk_{i}"))
            cond = c if cond is None else (cond & c)
        if g.tier == "broadcast":
            dd = F.broadcast(dd)
        elif g.tier == "shuffle":
            dd = dd.hint("shuffle_hash")
        out = out.join(dd, cond, "left_anti")
    if not b.uniform_eq:
        out = out.drop("__data_seq")
    return out
