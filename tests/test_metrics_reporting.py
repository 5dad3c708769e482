"""Metrics reporting loop (reference core/.../metrics/ScanReport.java,
InMemoryMetricsReporter.java, rest/requests/ReportMetricsRequest.java):
engine scans report into the in-memory sink, the REST adapter accepts
and stores POSTed ReportMetricsRequests, and the `scan_reports`
metadata table surfaces both."""

import json
import urllib.error
import urllib.request

import pytest
from pyspark.sql import functions as F

from iceberg_spark import expressions as E
from iceberg_spark.metrics_reporting import SINK, scan_report_json
from iceberg_spark.rest_catalog import serve


def _req(port, path, body=None, method="POST"):
    req = urllib.request.Request(
        f"http://127.0.0.1:{port}{path}", method=method,
        data=json.dumps(body).encode() if body is not None else None,
        headers={"Content-Type": "application/json"})
    with urllib.request.urlopen(req) as r:
        return r.status, json.loads(r.read() or b"{}")


def test_engine_scan_reports_into_sink(catalog, spark):
    df = spark.range(0, 100).select(
        "id", (F.col("id") % 4).alias("grp"))
    t = catalog.create_table("db.mrep", df.schema, partition_by=["grp"])
    t.append(df)
    t = t.refresh()
    SINK.clear("db.mrep")
    plan = t.scan(filter=E.col("grp") == 1).plan_files()
    rows = t.metadata_table("scan_reports").collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.report_type == "scan-report"
    assert r.snapshot_id == plan.snapshot.snapshot_id
    assert r.result_data_files == plan.report.result_data_files
    assert r.skipped_data_files == plan.report.skipped_data_files
    assert r.total_data_manifests == plan.report.total_manifests
    assert r.planning_mode == plan.report.planning_mode
    # the planning time plan_files measured, over at least one manifest
    assert r.total_data_manifests >= 1
    dur = json.loads(r.report_json)["metrics"]["total-planning-duration"]
    assert dur["unit"] == "ms" and dur["value"] > 0
    # filter is SANITIZED (ExpressionUtil.toSanitizedString): the
    # literal is replaced by its magnitude/type description
    assert "grp" in r.filter and "digit" in r.filter


def test_rest_metrics_endpoint_stores_and_serves(catalog, spark):
    df = spark.range(0, 40).select("id", (F.col("id") % 4).alias("grp"))
    t = catalog.create_table("db.mrest", df.schema, partition_by=["grp"])
    t.append(df)
    srv, port = serve(catalog)
    try:
        SINK.clear("db.mrest")
        # plan via REST, then POST the matching scan report — the flow a
        # reference REST client runs after a scan
        st, res = _req(port, "/v1/namespaces/db/tables/mrest/plan", {})
        assert st == 200 and res["status"] == "completed"
        n_tasks = len(res.get("file-scan-tasks") or [])
        report = {
            "report-type": "scan-report",
            "report": {
                "table-name": "db.mrest",
                "snapshot-id": t.current_snapshot().snapshot_id,
                "filter": "true", "schema-id": 0,
                "projected-field-names": ["id"],
                "metrics": {
                    "result-data-files":
                        {"unit": "count", "value": n_tasks},
                    "skipped-data-files": {"unit": "count", "value": 0},
                    "total-data-manifests": {"unit": "count", "value": 1},
                    "skipped-data-manifests":
                        {"unit": "count", "value": 0},
                },
            },
        }
        st, _b = _req(port, "/v1/namespaces/db/tables/mrest/metrics",
                      report)
        assert st == 204
        st, back = _req(port, "/v1/namespaces/db/tables/mrest/metrics",
                        method="GET")
        # two reports: the server's own plan reported into the sink
        # (engine scans report automatically) plus the POSTed one
        assert st == 200 and len(back["reports"]) == 2
        got = next(r for r in back["reports"]
                   if r["payload"].get("projected-field-names") == ["id"])
        assert got["report_type"] == "scan-report"
        m = got["payload"]["metrics"]
        # skipped/scanned counts round-trip exactly as POSTed, matching
        # the plan result
        assert m["result-data-files"]["value"] == n_tasks
        assert m["skipped-data-files"]["value"] == 0
        # the same report surfaces in the scan_reports metadata table
        rows = [r for r in catalog.load_table("db.mrest")
                .metadata_table("scan_reports").collect()
                if r.report_type == "scan-report"
                and r.result_data_files == n_tasks]
        assert rows
    finally:
        srv.shutdown()


def test_rest_metrics_validation(catalog, spark):
    t = catalog.create_table(
        "db.mval",
        spark.range(1).select("id").schema)
    srv, port = serve(catalog)
    try:
        # missing report-type -> 400 (reference parser requires it)
        with pytest.raises(urllib.error.HTTPError) as ei:
            _req(port, "/v1/namespaces/db/tables/mval/metrics",
                 {"report": {}})
        assert ei.value.code == 400
        # unknown report type -> accepted, dropped
        SINK.clear("db.mval")
        st, _b = _req(port, "/v1/namespaces/db/tables/mval/metrics",
                      {"report-type": "mystery", "report": {"x": 1}})
        assert st == 204
        assert SINK.reports("db.mval") == []
        # commit-report stored under its type
        st, _b = _req(port, "/v1/namespaces/db/tables/mval/metrics",
                      {"report-type": "commit-report",
                       "report": {"operation": "append"}})
        assert st == 204
        assert SINK.reports("db.mval")[0]["report_type"] == "commit-report"
    finally:
        srv.shutdown()


def test_scan_report_json_shape():
    from iceberg_spark.scan import ScanReport

    rep = ScanReport(total_manifests=4, skipped_manifests=2,
                     total_data_files=10, skipped_data_files=7,
                     result_data_files=3, result_delete_files=1,
                     planning_mode="local", filter_sanitized="x > (int)")
    j = scan_report_json("db.t", rep, 99, 0, ["a", "b"])
    assert j["table-name"] == "db.t" and j["snapshot-id"] == 99
    assert j["metrics"]["result-data-files"] == {"unit": "count",
                                                 "value": 3}
    assert j["metrics"]["skipped-data-manifests"]["value"] == 2
    assert j["projected-field-names"] == ["a", "b"]


def test_sink_bounded():
    from iceberg_spark.metrics_reporting import MetricsSink

    s = MetricsSink(cap=5)
    for i in range(9):
        s.report("t", "scan-report", {"i": i})
    got = s.reports("t")
    assert len(got) == 5 and got[0]["payload"]["i"] == 4


def test_commit_reports_land_in_sink(catalog, spark):
    """Write side of the MetricsReporter loop (reference
    CommitReport.java): every snapshot commit reports operation,
    attempt count, and summary-derived counters into the sink, next to
    the scan reports."""
    df = spark.range(0, 10).select("id")
    SINK.clear("db.crep")
    t = catalog.create_table("db.crep", df.schema)
    t.append(df)
    reps = [r for r in SINK.reports("db.crep")
            if r["report_type"] == "commit-report"]
    assert len(reps) == 1
    p = reps[0]["payload"]
    assert p["operation"] == "append"
    assert p["metrics"]["attempts"]["value"] == 1
    assert p["metrics"]["total-records"]["value"] == 10
    assert p["snapshot-id"] == t.refresh().current_snapshot().snapshot_id
    # surfaced through the metadata table with report_type distinguishing
    rows = [r for r in catalog.load_table("db.crep")
            .metadata_table("scan_reports").collect()
            if r.report_type == "commit-report"]
    assert rows and rows[0].snapshot_id == p["snapshot-id"]


def test_rest_metrics_404_and_malformed_payload(catalog, spark):
    """Unknown tables 404 (no phantom sink growth); a stored report with
    junk-typed fields must yield NULL cells, never an unreadable
    scan_reports table."""
    catalog.create_table("db.m404", spark.range(1).select("id").schema)
    srv, port = serve(catalog)
    try:
        with pytest.raises(urllib.error.HTTPError) as ei:
            _req(port, "/v1/namespaces/db/tables/nope/metrics",
                 {"report-type": "scan-report", "report": {}})
        assert ei.value.code == 404
        with pytest.raises(urllib.error.HTTPError) as ei:
            _req(port, "/v1/namespaces/db/tables/nope/metrics",
                 method="GET")
        assert ei.value.code == 404
        SINK.clear("db.m404")
        st, _b = _req(port, "/v1/namespaces/db/tables/m404/metrics", {
            "report-type": "scan-report",
            "report": {"snapshot-id": "oops",
                       "metrics": {"result-data-files":
                                   {"unit": "count", "value": "junk"}},
                       "metadata": "not-a-dict"}})
        assert st == 204
        rows = (catalog.load_table("db.m404")
                .metadata_table("scan_reports").collect())
        assert len(rows) == 1
        assert rows[0].snapshot_id is None
        assert rows[0].result_data_files is None
        assert rows[0].planning_mode is None
    finally:
        srv.shutdown()
