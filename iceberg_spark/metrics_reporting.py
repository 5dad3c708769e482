"""In-memory metrics reporting — the reference MetricsReporter loop.

Reference shape: every scan produces a ScanReport
(core/.../metrics/ScanReport.java) which a configured MetricsReporter
receives; REST clients additionally POST it to the catalog as a
ReportMetricsRequest (core/.../rest/requests/ReportMetricsRequest.java),
and the server-side catalog forwards to ITS reporter. The engine analog:

  * every TableScan.plan_files() reports into the process-wide SINK
    (the InMemoryMetricsReporter.java analog, bounded per table);
  * the REST adapter's POST /v1/.../metrics endpoint parses the request
    and forwards into the same SINK keyed by the table identifier;
  * the `scan_reports` metadata table surfaces a table's received
    reports — closing the observability loop the reference's
    MetricsReporter provides.

Reports are observability data, never planning state: the sink is
bounded (oldest dropped), process-local, and loss-tolerant by design —
exactly the reference contract (reporters must not fail the scan).
"""

from __future__ import annotations

import threading
import time
from collections import deque
from contextlib import contextmanager

_PER_TABLE_CAP = 128


class MetricsSink:
    """Bounded per-table report store (InMemoryMetricsReporter analog)."""

    def __init__(self, cap: int = _PER_TABLE_CAP):
        self._cap = cap
        self._lock = threading.Lock()
        self._by_table: dict = {}

    def report(self, table_name: str, report_type: str, payload: dict):
        row = {"received_at_ms": int(time.time() * 1000),
               "report_type": report_type, "payload": payload}
        with self._lock:
            dq = self._by_table.setdefault(
                table_name, deque(maxlen=self._cap))
            dq.append(row)

    def reports(self, table_name: str) -> list:
        with self._lock:
            return list(self._by_table.get(table_name, ()))

    def clear(self, table_name: str = None):
        with self._lock:
            if table_name is None:
                self._by_table.clear()
            else:
                self._by_table.pop(table_name, None)


SINK = MetricsSink()


def _counter(v) -> dict:
    """CounterResultParser shape: {"unit": "count", "value": n}."""
    return {"unit": "count", "value": int(v)}


def scan_report_json(table_name: str, report, snapshot_id: int,
                     schema_id: int, projected_names=()) -> dict:
    """Engine ScanReport -> the reference ScanReportParser JSON shape
    (core/.../metrics/ScanReportParser.java field names, counters as
    CounterResult objects) so a stored report round-trips through the
    REST ReportMetricsRequest body unchanged."""
    return {
        "table-name": table_name,
        "snapshot-id": int(snapshot_id) if snapshot_id is not None else -1,
        "filter": report.filter_sanitized,
        "schema-id": int(schema_id) if schema_id is not None else 0,
        "projected-field-names": list(projected_names),
        "metrics": {
            "total-data-manifests": _counter(report.total_manifests),
            "skipped-data-manifests": _counter(report.skipped_manifests),
            "total-planning-duration": {
                "unit": "ms",
                "value": round(report.total_planning_duration_ms, 3)},
            "skipped-data-files": _counter(report.skipped_data_files),
            "result-data-files": _counter(report.result_data_files),
            "result-delete-files": _counter(report.result_delete_files),
        },
        "metadata": {"planning-mode": report.planning_mode,
                     "engine-planning-uncached-bytes":
                         str(report.uncached_manifest_bytes),
                     "engine-total-data-files":
                         str(report.total_data_files)},
    }


def parse_report_metrics_request(body: dict) -> tuple:
    """Validate a ReportMetricsRequest body; returns (report_type,
    report_dict). Reference semantics: report-type is required (400 on
    absence), unknown types parse to UNKNOWN and are accepted."""
    if not isinstance(body, dict) or "report-type" not in body:
        raise ValueError("missing report-type")
    rt = str(body["report-type"]).lower().replace("_", "-")
    rep = body.get("report")
    if rep is None:
        # reference ReportMetricsRequestParser reads the report fields
        # from the top level (the request IS the report plus its type)
        rep = {k: v for k, v in body.items() if k != "report-type"}
    if not isinstance(rep, dict):
        raise ValueError("report must be an object")
    if rt not in ("scan-report", "commit-report"):
        rt = "unknown"
    return rt, rep


def scan_reports_df(spark, table_name: str):
    """`scan_reports` metadata table: reports the SINK holds for one
    table (engine scans report automatically; REST-POSTed reports land
    here too). One row per report, metric counters flattened."""
    import json as _json

    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("received_at_ms", T.LongType()),
        T.StructField("report_type", T.StringType()),
        T.StructField("snapshot_id", T.LongType()),
        T.StructField("filter", T.StringType()),
        T.StructField("planning_mode", T.StringType()),
        T.StructField("total_data_manifests", T.LongType()),
        T.StructField("skipped_data_manifests", T.LongType()),
        T.StructField("skipped_data_files", T.LongType()),
        T.StructField("result_data_files", T.LongType()),
        T.StructField("result_delete_files", T.LongType()),
        T.StructField("report_json", T.StringType()),
    ])

    def _int(v):
        # REST-POSTed reports are client-shaped: a malformed field must
        # yield a NULL cell, never an unreadable metadata table
        try:
            return int(v) if v is not None else None
        except (TypeError, ValueError):
            return None

    def _cnt(m, k):
        if not isinstance(m, dict):
            return None
        v = m.get(k)
        return _int(v.get("value") if isinstance(v, dict) else None)

    rows = []
    for r in SINK.reports(table_name):
        p = r["payload"]
        if not isinstance(p, dict):
            p = {}
        m = p.get("metrics") or {}
        rows.append((
            r["received_at_ms"], r["report_type"],
            _int(p.get("snapshot-id")),
            (p.get("filter") if isinstance(p.get("filter"), str)
             else _json.dumps(p.get("filter"))
             if p.get("filter") is not None else None),
            (str(p["metadata"]["planning-mode"])
             if isinstance(p.get("metadata"), dict)
             and p["metadata"].get("planning-mode") is not None
             else None),
            _cnt(m, "total-data-manifests"),
            _cnt(m, "skipped-data-manifests"),
            _cnt(m, "skipped-data-files"),
            _cnt(m, "result-data-files"),
            _cnt(m, "result-delete-files"),
            _json.dumps(p, separators=(",", ":")),
        ))
    return spark.createDataFrame(rows, schema)


@contextmanager
def job_description(spark, text: str):
    """Name the Spark jobs started inside the block (UI and status
    tracker `description`); the caller's description comes back after
    it, and the job group is left alone."""
    sc = spark.sparkContext
    prev = sc.getLocalProperty("spark.job.description")
    sc.setLocalProperty("spark.job.description", text)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.job.description", prev)
