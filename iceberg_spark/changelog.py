"""Incremental & CDC reads: append scans, changelog with carryover removal
and update pairing.

Reference (SURVEY §2.K-bis): BaseIncrementalAppendScan.java:31 (files added
in an ancestor range, append-only), BaseIncrementalChangelogScan.java:36 +
ChangelogRowReader (per-snapshot INSERT/DELETE rows with _change_type,
_change_ordinal, _commit_snapshot_id), RemoveCarryoverIterator.java:1
(drop identical DELETE+INSERT pairs), ComputeUpdateIterator.java:1 (pair
DELETE+INSERT on identifier columns into UPDATE_BEFORE/UPDATE_AFTER),
ChangelogOperation.java:22.

Spark realization: live-file-set diffs between consecutive snapshots give
added/removed files; removed rows come from reading removed files (and
position-delete hits) at the parent snapshot; carryover removal is a
count-matching groupBy; update pairing is a keyed self-join per ordinal.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import expressions as E
from .manifests import (DATA, DELETED as ST_DELETED, EQUALITY_DELETES,
                        POSITION_DELETES, read_manifest, read_manifest_list)
from .scan import FILE_PATH_COL, POS_COL, ScanPlan, ScanReport, TableScan, plan_to_df

INSERT, DELETE = "INSERT", "DELETE"
UPDATE_BEFORE, UPDATE_AFTER = "UPDATE_BEFORE", "UPDATE_AFTER"

CHANGE_TYPE = "_change_type"
CHANGE_ORDINAL = "_change_ordinal"
COMMIT_SNAPSHOT_ID = "_commit_snapshot_id"


def _snapshot_range(table, from_sid: Optional[int], to_sid: Optional[int]) -> list:
    """Ancestry chain (from_sid, to_sid], oldest first."""
    m = table.metadata
    to_sid = to_sid if to_sid is not None else m.current_snapshot_id
    if to_sid is None:
        return []
    chain = list(reversed(m.ancestors_of(to_sid)))  # oldest -> newest
    if from_sid is not None:
        ids = [s.snapshot_id for s in chain]
        if from_sid in ids:
            chain = chain[ids.index(from_sid) + 1 :]
    return chain


def _live_entries(table, snapshot) -> dict:
    """file_path -> ManifestEntry for live data files at a snapshot."""
    m = table.metadata
    out = {}
    for mf in read_manifest_list(snapshot.manifest_list):
        spec = m.spec_by_id(mf.spec_id)
        for e in read_manifest(mf.path, m.schema, spec):
            if e.status != ST_DELETED and e.file.content == DATA:
                out[e.file.file_path] = e
    return out


def _pos_delete_entries(table, snapshot) -> dict:
    m = table.metadata
    out = {}
    for mf in read_manifest_list(snapshot.manifest_list):
        spec = m.spec_by_id(mf.spec_id)
        for e in read_manifest(mf.path, m.schema, spec):
            if e.status != ST_DELETED and e.file.content != DATA:
                # key by (path, referenced file): a Puffin container holds
                # one DV ENTRY per data file under a single path — path
                # alone would collapse them to one
                out[(e.file.file_path, e.file.referenced_data_file)] = e
    return out


def incremental_append_df(table, from_snapshot_id: Optional[int],
                          to_snapshot_id: Optional[int] = None) -> DataFrame:
    """Rows appended in (from, to]; errors if the range contains
    non-append/replace operations (IncrementalAppendScan contract)."""
    chain = _snapshot_range(table, from_snapshot_id, to_snapshot_id)
    bad = [s for s in chain if s.operation not in ("append",)]
    if bad:
        raise ValueError(
            f"incremental append scan: range contains non-append snapshot "
            f"{bad[0].snapshot_id} (op={bad[0].operation}); use changes()"
        )
    sids = {s.snapshot_id for s in chain}
    scan = table.scan()
    plan = scan.plan_files()
    entries = [e for e in plan.files if e.snapshot_id in sids]
    sub = ScanPlan(entries, [], [], E.ALWAYS_TRUE, plan.snapshot, ScanReport())
    return plan_to_df(scan, sub, with_metadata_columns=False)


class _Changes:
    """Per-ordinal change sets for a snapshot range: the output of the
    LOCAL (per-snapshot set diffs) or DISTRIBUTED (one Spark job over the
    range's manifest Parquet) changelog planner."""

    def __init__(self):
        self.added: dict = {}       # ordinal -> [ManifestEntry] (data)
        self.removed: dict = {}     # ordinal -> [ManifestEntry] (data)
        self.new_deletes: dict = {}  # ordinal -> [ManifestEntry] (deletes)
        self.deletes_at: dict = {}  # ordinal -> [ManifestEntry] (all live)
        self.surviving: dict = {}   # ordinal -> [ManifestEntry] (data, only
        #                             for ordinals with new delete files)


def _plan_changes_local(table, chain, prev_snap) -> _Changes:
    """Driver-side planner: per-snapshot live-set diffs over the (cached)
    manifest reads — fastest for small metadata."""
    ch = _Changes()
    prev_live = _live_entries(table, prev_snap) if prev_snap else {}
    prev_dels = _pos_delete_entries(table, prev_snap) if prev_snap else {}
    ch.deletes_at[-1] = list(prev_dels.values())
    for o, snap in enumerate(chain):
        cur_live = _live_entries(table, snap)
        cur_dels = _pos_delete_entries(table, snap)
        ch.deletes_at[o] = list(cur_dels.values())
        if snap.operation != "replace":
            ch.added[o] = [cur_live[p] for p in cur_live.keys() - prev_live.keys()]
            ch.removed[o] = [prev_live[p] for p in prev_live.keys() - cur_live.keys()]
            nd = [cur_dels[p] for p in cur_dels.keys() - prev_dels.keys()]
            ch.new_deletes[o] = nd
            if nd:
                ch.surviving[o] = [e for e in prev_live.values()
                                   if e.file.file_path in cur_live]
        prev_live, prev_dels = cur_live, cur_dels
    return ch


def _full_data_entries(table, data_mans, paths_df) -> list:
    """Full ManifestEntry rows (partition + stats) for the data files named
    by `paths_df` (resolved paths), via per-spec Spark reads of the data
    manifests — never a per-manifest driver loop."""
    from .manifests import DELETED as _DEL, entry_from_spark_row
    from .metadata_df import _manifest_rows_dfs, resolve_path_col

    m = table.metadata
    by_spec: dict = {}
    for mf in data_mans:
        by_spec.setdefault(mf.spec_id, []).append(mf)
    by_path: dict = {}
    for spec_id, group in by_spec.items():
        spec = m.spec_by_id(spec_id)
        legs = _manifest_rows_dfs(table.spark, group, m.schema, spec)
        raw = legs[0]
        for leg in legs[1:]:
            raw = raw.unionByName(leg, allowMissingColumns=True)
        df = (raw
              .filter((F.col("status") != _DEL) & (F.col("content") == DATA))
              .withColumn("__rp", resolve_path_col(F.col("file_path"),
                                                   m.location))
              .join(paths_df.withColumnRenamed("file_path", "__rp"), "__rp",
                    "left_semi"))
        for r in df.collect():
            rd = r.asDict()
            rp = rd.pop("__rp")
            if rp not in by_path:  # EXISTING copies across manifests tie
                by_path[rp] = entry_from_spark_row(rd, m.schema, spec,
                                                   m.location)
    return list(by_path.values())


def _plan_changes_spark(table, chain, prev_snap) -> _Changes:
    """Distributed planner (BaseIncrementalChangelogScan analog): ONE
    membership join + groupBy over the range's data-manifest Parquet
    computes every per-snapshot add/remove transition; the driver receives
    only changed files and per-ordinal delete-file lists. Driver time is
    O(changed files), not O(files x snapshots)."""
    from .manifests import DELETED as _DEL, entry_from_spark_row
    from .metadata_df import core_entries_df

    m = table.metadata
    spark = table.spark
    ch = _Changes()
    snaps = ([(-1, prev_snap)] if prev_snap else []) + list(enumerate(chain))
    max_ord = len(chain) - 1
    replace_ords = {o for o, s in snaps if o >= 0 and s.operation == "replace"}

    mani: dict = {}
    memb = []  # (ordinal, data-manifest path)
    del_mans_at: dict = {}
    for o, s in snaps:
        for mf in read_manifest_list(s.manifest_list):
            mani.setdefault(mf.path, mf)
            if mf.content == 0:
                memb.append((o, mf.path))
            else:
                del_mans_at.setdefault(o, []).append(mf)
    data_mans = [mf for mf in mani.values() if mf.content == 0]
    del_mans = [mf for mf in mani.values() if mf.content == 1]

    # -- delete files: full rows grouped by manifest (delete manifests are
    # the small tier; per-ordinal lists stay driver-sized) ------------------
    del_by_manifest: dict = {}
    by_spec: dict = {}
    for mf in del_mans:
        by_spec.setdefault(mf.spec_id, []).append(mf)
    for spec_id, group in by_spec.items():
        from .metadata_df import _manifest_rows_dfs

        spec = m.spec_by_id(spec_id)
        legs = _manifest_rows_dfs(spark, group, m.schema, spec,
                                  with_path=True)
        raw = legs[0]
        for leg in legs[1:]:
            raw = raw.unionByName(leg, allowMissingColumns=True)
        df = (raw.filter(F.col("status") != _DEL)
              .withColumnRenamed("__manifest_path", "__mp"))
        for r in df.collect():
            rd = r.asDict()
            mp = rd.pop("__mp")
            del_by_manifest.setdefault(mp, []).append(
                entry_from_spark_row(rd, m.schema, spec, m.location))
    for o, _s in snaps:
        es: dict = {}
        for mf in del_mans_at.get(o, []):
            for e in del_by_manifest.get(mf.path, []):
                # (path, ref) key: one Puffin container carries one DV
                # entry per data file under a single path
                es[(e.file.file_path, e.file.referenced_data_file)] = e
        ch.deletes_at[o] = list(es.values())
    for o, _s in snaps:
        if o < 0 or o in replace_ords:
            continue
        prev_keys = {(e.file.file_path, e.file.referenced_data_file)
                     for e in ch.deletes_at.get(o - 1, [])}
        ch.new_deletes[o] = [
            e for e in ch.deletes_at.get(o, [])
            if (e.file.file_path, e.file.referenced_data_file)
            not in prev_keys]

    if not data_mans:
        return ch

    # -- data files: live (file, ordinal) pairs -> per-file ordinal runs ----
    core = core_entries_df(spark, data_mans, m.location,
                           with_manifest_path=True)
    memb_df = spark.createDataFrame(memb, "ordinal int, manifest_path string")
    live = (core.filter((F.col("status") != _DEL) & (F.col("content") == DATA))
            .join(F.broadcast(memb_df), "manifest_path")
            .select("file_path", "ordinal"))
    g = (live.groupBy("file_path")
         .agg(F.sort_array(F.collect_set("ordinal")).alias("ords"))).cache()
    try:
        # run starts (not live-at-base) are ADD events; each run end before
        # the range head implies a REMOVE at the next ordinal
        adds = F.expr(
            "filter(ords, (x, i) -> x > -1 AND "
            "(i = 0 OR element_at(ords, i) != x - 1))")
        rems = F.expr(
            f"transform(filter(ords, (x, i) -> x < {max_ord} AND "
            "(i = size(ords) - 1 OR element_at(ords, i + 2) != x + 1)), "
            "x -> x + 1)")
        ev = (g.select("file_path", adds.alias("a"), rems.alias("r"))
              .filter((F.size("a") > 0) | (F.size("r") > 0)))
        ev = ev.select(
            "file_path",
            F.explode(F.concat(
                F.transform("a", lambda x: F.struct(
                    x.alias("o"), F.lit("A").alias("k"))),
                F.transform("r", lambda x: F.struct(
                    x.alias("o"), F.lit("R").alias("k"))))).alias("e"))
        ev = ev.select("file_path", F.col("e.o").alias("ordinal"),
                       F.col("e.k").alias("kind"))
        if replace_ords:
            ev = ev.filter(~F.col("ordinal").isin(list(replace_ords)))
        ev_rows = ev.collect()  # changed files only — the CDC work set

        if ev_rows:
            paths_df = spark.createDataFrame(
                [(r["file_path"],) for r in ev_rows],
                "file_path string").distinct()
            full = {e.file.file_path: e
                    for e in _full_data_entries(table, data_mans, paths_df)}
            for r in ev_rows:
                e = full.get(r["file_path"])
                if e is None:
                    continue
                bucket = ch.added if r["kind"] == "A" else ch.removed
                bucket.setdefault(r["ordinal"], []).append(e)

        # surviving sets only where new delete files landed (plan-sized)
        for o, nd in ch.new_deletes.items():
            if not nd:
                continue
            sv = (g.filter(F.array_contains("ords", o)
                           & F.array_contains("ords", o - 1))
                  .select("file_path"))
            ch.surviving[o] = _full_data_entries(table, data_mans, sv)
    finally:
        g.unpersist()
    return ch


def changelog_df(table, from_snapshot_id: Optional[int] = None,
                 to_snapshot_id: Optional[int] = None,
                 compute_updates: bool = False, remove_carryovers: bool = True,
                 net_changes: bool = False,
                 identifier_columns: Optional[list] = None,
                 mode: str = "auto") -> DataFrame:
    """CDC rows for the snapshot range, tagged with _change_type /
    _change_ordinal / _commit_snapshot_id.

    Planning mode mirrors scan planning: LOCAL diffs live sets per snapshot
    on the driver; DISTRIBUTED computes all transitions in one Spark job
    over the range's manifest Parquet (driver cost O(changed files) — the
    100 TB path). AUTO switches on entries x range-length."""
    m = table.metadata
    chain = _snapshot_range(table, from_snapshot_id, to_snapshot_id)
    cols = table.schema.column_names
    spark = table.spark
    pieces = []

    prev_sid = chain[0].parent_snapshot_id if chain else None
    prev_snap = None
    if prev_sid is not None:
        try:
            prev_snap = m.snapshot_by_id(prev_sid)
        except KeyError:
            prev_snap = None

    if chain:
        from .metadata_df import (DISTRIBUTED_ENTRY_THRESHOLD, entry_count,
                                  unique_manifests)

        all_snaps = ([prev_snap] if prev_snap else []) + chain
        total = entry_count(unique_manifests(all_snaps)) * len(chain)
        use_spark = mode == "distributed" or (
            mode == "auto" and total > DISTRIBUTED_ENTRY_THRESHOLD)
        changes = (_plan_changes_spark(table, chain, prev_snap) if use_spark
                   else _plan_changes_local(table, chain, prev_snap))

    for ordinal, snap in enumerate(chain):
        if snap.operation == "replace":
            prev_snap = snap
            continue

        added = changes.added.get(ordinal, [])
        removed = changes.removed.get(ordinal, [])
        new_dels = changes.new_deletes.get(ordinal, [])
        cur_deletes = changes.deletes_at.get(ordinal, [])
        prev_deletes = changes.deletes_at.get(ordinal - 1, [])

        def _split(dels):
            return ([d for d in dels if d.file.content == POSITION_DELETES],
                    [d for d in dels if d.file.content == EQUALITY_DELETES])

        scan = TableScan(table, snapshot=snap)
        if added:
            pos_c, eq_c = _split(cur_deletes)
            sub = ScanPlan(added, pos_c, eq_c, E.ALWAYS_TRUE, snap,
                           ScanReport())
            df = plan_to_df(scan, sub, with_metadata_columns=False)
            pieces.append(_tag(df, cols, INSERT, ordinal, snap.snapshot_id))
        if removed:
            # rows of removed files as they were visible at the parent snapshot
            pos_p, eq_p = _split(prev_deletes)
            pscan = TableScan(table, snapshot=prev_snap)
            sub = ScanPlan(removed, pos_p, eq_p, E.ALWAYS_TRUE,
                           prev_snap, ScanReport())
            df = plan_to_df(pscan, sub, with_metadata_columns=False)
            pieces.append(_tag(df, cols, DELETE, ordinal, snap.snapshot_id))
        if new_dels:
            # delete-file hits on files that survived: those rows died here
            surviving = changes.surviving.get(ordinal, [])
            pos_new = [d for d in new_dels if d.file.content == POSITION_DELETES]
            eq_new = [d for d in new_dels if d.file.content == EQUALITY_DELETES]
            pos_p, eq_p = _split(prev_deletes)
            if surviving and pos_new:
                pscan = TableScan(table, snapshot=prev_snap)
                # apply prev deletes so already-dead rows don't re-report
                sub = ScanPlan(surviving, pos_p, eq_p, E.ALWAYS_TRUE,
                               prev_snap, ScanReport())
                base = plan_to_df(pscan, sub, with_metadata_columns=True)
                from .scan import _data_rel_col, pos_delete_rows_df

                # format-agnostic: parquet pos-deletes and Puffin DVs
                dels = pos_delete_rows_df(spark, pos_new) \
                    .select(F.col("file_path").alias("__df"), F.col("pos").alias("__dp"))
                # suffix-normalized path equality (scan._data_rel): delete
                # contents carry write-time absolute paths that go stale
                # when a relative-path table relocates
                hit = base.join(
                    dels,
                    (_data_rel_col(F.col(FILE_PATH_COL))
                     == _data_rel_col(F.col("__df")))
                    & (F.col(POS_COL) == F.col("__dp")),
                    "left_semi",
                ).select(*cols)
                pieces.append(_tag(hit, cols, DELETE, ordinal, snap.snapshot_id))
            if surviving and eq_new:
                # equality deletes kill every prior-visible row matching the
                # keys (data.seq < delete.seq): semi-join per key set
                pscan = TableScan(table, snapshot=prev_snap)
                sub = ScanPlan(surviving, pos_p, eq_p, E.ALWAYS_TRUE,
                               prev_snap, ScanReport())
                base = plan_to_df(pscan, sub, with_metadata_columns=False)
                schema = table.schema
                by_ids: dict = {}
                for d in eq_new:
                    by_ids.setdefault(tuple(sorted(d.file.equality_ids)), []).append(d)
                for ids, dels_ in by_ids.items():
                    from .scan import _eq_delete_keys_df

                    # keys read by field id under each delete file's
                    # write schema, so a later rename still matches
                    dd = _eq_delete_keys_df(spark, m, schema, ids, dels_,
                                            with_seq=False)
                    cond = F.lit(True)
                    for i, fid in enumerate(ids):
                        cond = cond & base[schema.field_by_id(fid).name] \
                            .eqNullSafe(F.col(f"__delk_{i}"))
                    hit = base.join(dd, cond, "left_semi").select(*cols)
                    pieces.append(_tag(hit, cols, DELETE, ordinal, snap.snapshot_id))

        prev_snap = snap

    if not pieces:
        from pyspark.sql import types as T

        empty = table.spark.createDataFrame(
            [], table.schema.to_spark()
            .add(CHANGE_TYPE, T.StringType())
            .add(CHANGE_ORDINAL, T.IntegerType())
            .add(COMMIT_SNAPSHOT_ID, T.LongType()))
        return empty

    out = pieces[0]
    for p in pieces[1:]:
        out = out.unionByName(p)

    if net_changes and compute_updates:
        # net output collapses ordinals (max of contributors) — pairing
        # them into UPDATE_BEFORE/AFTER would attribute fabricated updates
        # (the reference CreateChangelogViewProcedure rejects this too)
        raise ValueError("net_changes cannot be combined with compute_updates")
    if net_changes:
        out = _remove_net_carryovers(out, cols)
    elif remove_carryovers:
        out = _remove_carryovers(out, cols)
    if compute_updates:
        ident = identifier_columns or [
            table.schema.field_by_id(i).name
            for i in table.schema.identifier_field_ids
        ]
        if not ident:
            raise ValueError("compute_updates requires identifier_columns")
        out = _compute_updates(out, cols, ident)
    return out


def _tag(df, cols, change_type, ordinal, sid):
    return df.select(*cols,
                     F.lit(change_type).alias(CHANGE_TYPE),
                     F.lit(ordinal).alias(CHANGE_ORDINAL),
                     F.lit(sid).alias(COMMIT_SNAPSHOT_ID))


def _remove_carryovers(df, cols) -> DataFrame:
    """Drop identical DELETE+INSERT pairs within one commit
    (RemoveCarryoverIterator): count-match per full row, emit the net."""
    g = (df.groupBy(*cols, CHANGE_ORDINAL, COMMIT_SNAPSHOT_ID)
           .agg(F.sum(F.when(F.col(CHANGE_TYPE) == DELETE, 1).otherwise(0)).alias("__d"),
                F.sum(F.when(F.col(CHANGE_TYPE) == INSERT, 1).otherwise(0)).alias("__i")))
    g = g.withColumn("__net", F.col("__i") - F.col("__d")).filter(F.col("__net") != 0)
    g = g.withColumn(CHANGE_TYPE,
                     F.when(F.col("__net") > 0, F.lit(INSERT)).otherwise(F.lit(DELETE)))
    g = g.withColumn("__n", F.abs(F.col("__net")))
    g = g.withColumn("__rep", F.explode(F.sequence(F.lit(1), F.col("__n"))))
    return g.select(*cols, CHANGE_TYPE, CHANGE_ORDINAL, COMMIT_SNAPSHOT_ID)


def _remove_net_carryovers(df, cols) -> DataFrame:
    """Net view across the whole snapshot range
    (spark/.../RemoveNetCarryoverIterator.java:39): a row deleted in one
    snapshot and re-inserted identically in a later one cancels out
    entirely; surviving net changes carry the ordinal/snapshot of their
    last contributing change (max_by — one groupBy, no self-join)."""
    g = (df.groupBy(*cols)
           .agg(F.sum(F.when(F.col(CHANGE_TYPE) == INSERT, 1)
                      .otherwise(-1)).alias("__net"),
                F.max(CHANGE_ORDINAL).alias(CHANGE_ORDINAL),
                F.expr(f"max_by({COMMIT_SNAPSHOT_ID}, {CHANGE_ORDINAL})")
                .alias(COMMIT_SNAPSHOT_ID)))
    g = g.filter(F.col("__net") != 0)
    g = g.withColumn(CHANGE_TYPE,
                     F.when(F.col("__net") > 0, F.lit(INSERT)).otherwise(F.lit(DELETE)))
    g = g.withColumn("__rep", F.explode(F.sequence(F.lit(1), F.abs(F.col("__net")))))
    return g.select(*cols, CHANGE_TYPE, CHANGE_ORDINAL, COMMIT_SNAPSHOT_ID)


def _compute_updates(df, cols, ident) -> DataFrame:
    """Pair DELETE+INSERT with equal identifier columns in the same commit
    into UPDATE_BEFORE / UPDATE_AFTER (ComputeUpdateIterator)."""
    d = df.filter(F.col(CHANGE_TYPE) == DELETE).alias("d")
    i = df.filter(F.col(CHANGE_TYPE) == INSERT).alias("i")
    others = df.filter(~F.col(CHANGE_TYPE).isin(DELETE, INSERT))

    cond = F.col(f"d.{CHANGE_ORDINAL}") == F.col(f"i.{CHANGE_ORDINAL}")
    for k in ident:
        cond = cond & F.col(f"d.{k}").eqNullSafe(F.col(f"i.{k}"))

    paired_d = (d.join(i, cond, "left_semi")
                .withColumn(CHANGE_TYPE, F.lit(UPDATE_BEFORE)))
    unpaired_d = d.join(i, cond, "left_anti")
    paired_i = (i.join(d, cond, "left_semi")
                .withColumn(CHANGE_TYPE, F.lit(UPDATE_AFTER)))
    unpaired_i = i.join(d, cond, "left_anti")

    return (paired_d.unionByName(unpaired_d).unionByName(paired_i)
            .unionByName(unpaired_i).unionByName(others))
