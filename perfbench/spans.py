"""Spans around the engine's layer entry points, recorded from outside.

The tracer replaces each entry point listed in ``TARGETS`` with a wrapper
while it is installed, and restores the original when it is removed. Spans
stay in memory; ``layer_metrics`` turns them into per-layer busy (self)
time, call counts and the counters the wrappers pick off return values.

A span's self time is its duration minus the part of it that child spans
cover. A span opened on a worker thread (the engine plans manifests on a
thread pool) has the client thread's innermost open span as its parent.
An entry point that does not exist in the engine under test is reported
as absent; its metrics read 0.
"""

from __future__ import annotations

import functools
import importlib
import sys
import threading
import time
from collections import defaultdict

# metric prefix -> entry points (module, dotted attribute) timed under it.
TARGETS = {
    "scan.plan_files": [("iceberg_spark.scan", "TableScan.plan_files")],
    "scan.plan_to_df": [("iceberg_spark.scan", "plan_to_df")],
    "manifests.read": [("iceberg_spark.manifests", "read_manifest"),
                       ("iceberg_spark.manifests", "read_manifest_list")],
    "manifests.write": [("iceberg_spark.manifests", "write_manifest"),
                        ("iceberg_spark.manifests", "write_manifest_list")],
    "metadata.refresh": [("iceberg_spark.metadata", "TableOperations.refresh")],
    "metadata.commit": [("iceberg_spark.metadata", "TableOperations.commit")],
    "writes.write_data_files": [("iceberg_spark.writes", "write_data_files")],
    "writes.commit": [("iceberg_spark.writes", "SnapshotProducer.commit")],
    "row_ops.delete": [("iceberg_spark.row_ops", "delete_where")],
    "row_ops.merge": [("iceberg_spark.row_ops", "MergeBuilder.execute")],
    "row_ops.upsert": [("iceberg_spark.row_ops", "equality_upsert")],
    "maintenance.rewrite": [("iceberg_spark.maintenance", "rewrite_data_files")],
    "maintenance.expire": [("iceberg_spark.maintenance", "expire_snapshots")],
    # Spark execution is entered at DataFrame actions and at the reader and
    # writer calls that list or write files.
    "spark.exec": [("pyspark.sql.classic.dataframe", f"DataFrame.{m}")
                   for m in ("collect", "count", "toPandas", "toLocalIterator")]
    + [("pyspark.sql.readwriter", f"DataFrameWriter.{m}")
       for m in ("save", "parquet", "insertInto", "saveAsTable")]
    + [("pyspark.sql.readwriter", f"DataFrameReader.{m}")
       for m in ("load", "parquet")],
}

# Operation classes whose Spark jobs, stages and tasks are counted.
OP_CLASSES = ("point_read", "full_read", "append", "delete", "merge",
              "upsert", "maint")

# Each per-layer metric, with the end-to-end metric it should move and the
# workload where it should move it (mor = mor_churn, scan = scan_many_files).
LAYER_MAP = {
    "scan.plan_files_s": "point_read_* and full_read_p50_s on scan",
    "scan.plan_files_n": "point_read_* and full_read_p50_s on scan",
    "scan.plan_to_df_s": "full_read_p50_s on both",
    "scan.files_per_plan": "point_read_* and full_read_p50_s on both",
    "scan.deletes_per_plan": "full_read_p50_s on mor",
    "scan.manifests_skipped_share": "point_read_* on scan",
    "scan.distributed_share": "full_read_p50_s on scan",
    "manifests.read_s": "point_read_* on scan",
    "manifests.read_n": "point_read_* on scan",
    "manifests.write_s": "append_p50_s on both",
    "manifests.write_n": "append_p50_s on both",
    "metadata.refresh_s": "every read on both",
    "metadata.refresh_n": "every read on both",
    "metadata.commit_s": "every write on both",
    "metadata.commit_n": "every write on both (more than writes = retries)",
    "writes.write_data_files_s": "append, merge, upsert p50 and setup_s",
    "writes.files_written": "append, merge, upsert p50 and setup_s",
    "writes.bytes_written": "append, merge, upsert p50 and bytes_per_row",
    "writes.commit_s": "every write on both",
    "row_ops.delete_s": "delete_p50_s on mor",
    "row_ops.merge_s": "merge_p50_s on mor",
    "row_ops.upsert_s": "upsert_p50_s on mor",
    "maintenance.rewrite_s": "maint_p50_s on mor",
    "maintenance.expire_s": "maint_p50_s on mor",
    "maintenance.files_rewritten": "maint_p50_s, full_read_p50_s, bytes_per_row on mor",
    "maintenance.files_expired": "maint_p50_s, bytes_per_row on mor",
    "spark.exec_s": "every latency on both",
    **{f"spark.{k}.{op}": f"{op} latency"
       for k in ("jobs", "stages", "tasks") for op in OP_CLASSES},
    "trace.overhead": "none: traced over untraced round time",
}


def layer_unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.startswith("spark."):
        return name.split(".")[1] + "/op"
    if name.endswith("_share"):
        return "share"
    if name == "writes.bytes_written":
        return "bytes"
    if name == "trace.overhead":
        return "ratio"
    if name.endswith("_per_plan"):
        return "files/plan"
    return "count"


def _resolve(module: str, dotted: str):
    """(owner, attribute name, original) or None when the entry point is gone."""
    try:
        owner = importlib.import_module(module)
    except ImportError:
        return None
    *path, name = dotted.split(".")
    for part in path:
        owner = getattr(owner, part, None)
        if owner is None:
            return None
    fn = vars(owner).get(name) if isinstance(owner, type) else getattr(owner, name, None)
    if fn is None:
        return None
    return owner, name, fn


class Tracer:
    """Records spans while installed, from any thread."""

    installed = False

    def __init__(self):
        self.spans = []  # [name, start, end, parent index]
        self._lock = threading.Lock()
        self.counters = defaultdict(float)
        self.plans = []  # ScanReport of every planned scan
        self.absent = []
        self._local = threading.local()
        self._client = threading.get_ident()
        self._client_stack = []
        self._patches = []  # (owner, name, original, wrapper)
        self._resolved = []
        for metric, points in TARGETS.items():
            for module, dotted in points:
                r = _resolve(module, dotted)
                if r is None:
                    self.absent.append(f"{module}.{dotted}")
                else:
                    self._resolved.append((metric, r))

    # -- spans -----------------------------------------------------------
    def _stack(self):
        if threading.get_ident() == self._client:
            return self._client_stack
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _wrap(self, metric, fn):
        tracer = self
        after = _AFTER.get(metric)

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            # a module imported while installed keeps this wrapper bound
            if not tracer.installed:
                return fn(*args, **kwargs)
            stack = tracer._stack()
            if stack:
                parent = stack[-1]
            elif tracer._client_stack:
                parent = tracer._client_stack[-1]
            else:
                parent = -1
            span = [metric, time.perf_counter(), None, parent]
            with tracer._lock:
                tracer.spans.append(span)
                stack.append(len(tracer.spans) - 1)
            try:
                result = fn(*args, **kwargs)
            finally:
                span[2] = time.perf_counter()
                stack.pop()
            if after is not None:
                after(tracer, result)
            return result

        return wrapper

    def install(self):
        """Patch every entry point, including names other engine modules
        imported with ``from x import f``."""
        for metric, (owner, name, fn) in self._resolved:
            w = self._wrap(metric, fn)
            self._patches.append((owner, name, fn, w))
            setattr(owner, name, w)
            if isinstance(owner, type):
                continue
            for mod_name, mod in list(sys.modules.items()):
                if (mod is not owner and mod_name.startswith("iceberg_spark")
                        and getattr(mod, name, None) is fn):
                    self._patches.append((mod, name, fn, w))
                    setattr(mod, name, w)
        self.installed = True

    def uninstall(self):
        self.installed = False
        for owner, name, fn, _w in reversed(self._patches):
            setattr(owner, name, fn)
        self._patches.clear()

    # -- reduction -------------------------------------------------------
    def layer_metrics(self) -> dict:
        children = defaultdict(list)
        for _n, s, e, parent in self.spans:
            if parent >= 0 and e is not None:
                children[parent].append((s, e))
        busy = defaultdict(float)
        calls = defaultdict(int)
        for i, (name, s, e, _p) in enumerate(self.spans):
            if e is None:
                continue
            busy[name] += (e - s) - _covered(s, e, children.get(i, ()))
            calls[name] += 1
        out = {}
        for metric in TARGETS:
            out[f"{metric}_s"] = busy.get(metric, 0.0)
        for metric in ("scan.plan_files", "manifests.read", "manifests.write",
                       "metadata.refresh", "metadata.commit"):
            out[f"{metric}_n"] = calls.get(metric, 0)
        n_plans = len(self.plans)
        total_manifests = sum(r.total_manifests for r in self.plans)
        out["scan.files_per_plan"] = (
            sum(r.result_data_files for r in self.plans) / n_plans if n_plans else 0.0)
        out["scan.deletes_per_plan"] = (
            sum(r.result_delete_files for r in self.plans) / n_plans if n_plans else 0.0)
        out["scan.manifests_skipped_share"] = (
            sum(r.skipped_manifests for r in self.plans) / total_manifests
            if total_manifests else 0.0)
        out["scan.distributed_share"] = (
            sum(r.planning_mode == "distributed" for r in self.plans) / n_plans
            if n_plans else 0.0)
        for k in ("writes.files_written", "writes.bytes_written",
                  "maintenance.files_rewritten", "maintenance.files_expired"):
            out[k] = self.counters.get(k, 0)
        return out


def _covered(start, end, intervals) -> float:
    """Length of [start, end] covered by the union of ``intervals``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        s, e = max(s, start), min(e, end)
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _after_plan(tracer, plan):
    report = getattr(plan, "report", None)
    if report is not None:
        tracer.plans.append(report)


def _after_write(tracer, files):
    files = files or ()
    tracer.counters["writes.files_written"] += len(files)
    tracer.counters["writes.bytes_written"] += sum(
        getattr(f, "file_size_in_bytes", 0) for f in files)


def _after_rewrite(tracer, result):
    if isinstance(result, dict):
        tracer.counters["maintenance.files_rewritten"] += result.get("rewritten_files", 0)


def _after_expire(tracer, result):
    if isinstance(result, dict):
        tracer.counters["maintenance.files_expired"] += result.get("deleted_files", 0)


_AFTER = {
    "scan.plan_files": _after_plan,
    "writes.write_data_files": _after_write,
    "maintenance.rewrite": _after_rewrite,
    "maintenance.expire": _after_expire,
}


class JobCounter:
    """Spark jobs, stages and tasks per operation, read from the status
    tracker under one job group per traced operation."""

    def __init__(self, sc):
        self.sc = sc
        self.groups = []  # (op class, group id)

    def begin(self, op: str):
        group = f"perfbench-{op}-{len(self.groups)}"
        self.groups.append((op, group))
        self.sc.setJobGroup(group, op)

    def end(self):
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    def per_op(self) -> dict:
        """Mean jobs, stages and tasks per operation of each class."""
        from py4j.protocol import Py4JError

        try:
            self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        except Py4JError:  # the listener bus is internal; fall back to a pause
            time.sleep(2.0)
        tracker = self.sc.statusTracker()
        sums = {op: [0, 0, 0, 0] for op in OP_CLASSES}
        for op, group in self.groups:
            acc = sums.setdefault(op, [0, 0, 0, 0])
            acc[3] += 1
            for jid in tracker.getJobIdsForGroup(group):
                acc[0] += 1
                info = tracker.getJobInfo(jid)
                for sid in (info.stageIds if info else ()):
                    st = tracker.getStageInfo(sid)
                    if st is not None and st.numCompletedTasks > 0:
                        acc[1] += 1
                        acc[2] += st.numCompletedTasks
        out = {}
        for op, (jobs, stages, tasks, n) in sums.items():
            out[f"spark.jobs.{op}"] = jobs / n if n else 0.0
            out[f"spark.stages.{op}"] = stages / n if n else 0.0
            out[f"spark.tasks.{op}"] = tasks / n if n else 0.0
        return out
