"""MERGE against a Python model: every clause kind, in copy-on-write and
merge-on-read, with position-delete files and with deletion vectors.

- matched update (conditional), matched delete, conditional insert,
  not-matched-by-source update and delete, over a bucketed table that
  already carries merge-on-read deletes;
- the cardinality check fails the MERGE before anything is written: the
  current snapshot stays, and no file appears under the table location;
  a target row meeting two source rows fails it even when no clause
  condition holds for that row;
- the engine names the Spark jobs of MERGE and compaction and hands the
  caller's job description back afterwards.
"""

import os

import pytest
from pyspark.sql import types as T

from iceberg_spark.expressions import col

SCHEMA = T.StructType([
    T.StructField("id", T.LongType(), False),
    T.StructField("grp", T.IntegerType()),
    T.StructField("v", T.LongType()),
])
MODES = ["copy-on-write", "merge-on-read"]
FORMATS = ["parquet", "dv"]


def _table(catalog, spark, name, fmt):
    t = catalog.create_table(name, SCHEMA, partition_by=["bucket(4, id)"],
                             properties={"write.delete.format": fmt})
    model = {}
    for lo, hi in ((0, 20), (20, 40)):
        rows = [(i, i % 4, i * 10) for i in range(lo, hi)]
        t.append(spark.createDataFrame(rows, SCHEMA))
        model.update({i: (g, v) for i, g, v in rows})
    # merge-on-read deletes the MERGE must apply, and (dv) merge into
    t.delete_where(col("id").isin(3, 26), mode="merge-on-read")
    for k in (3, 26):
        model.pop(k)
    return t.refresh(), model


def _rows(t):
    return sorted((r.id, r.grp, r.v) for r in t.to_df().collect())


def _files(t):
    meta = os.path.join(t.location, "metadata")
    out = set()
    for d, _dirs, names in os.walk(t.location):
        if not d.startswith(meta):
            out.update(os.path.join(d, n) for n in names)
    return out


@pytest.mark.parametrize("fmt", FORMATS)
@pytest.mark.parametrize("mode", MODES)
def test_merge_every_clause_matches_model(catalog, spark, mode, fmt):
    t, model = _table(catalog, spark, f"m.all_{mode[:4]}_{fmt}", fmt)
    src = [(i, i % 4, 1000 + i) for i in range(25, 45)]
    (t.merge(spark.createDataFrame(src, SCHEMA), on=["id"])
     .when_matched_update({"v": "s.v"}, condition="t.grp < 2")
     .when_matched_delete()
     .when_not_matched_insert(condition="s.id % 2 = 0")
     .when_not_matched_by_source_update({"v": "t.v + 1"},
                                        condition="t.id < 10")
     .when_not_matched_by_source_delete(condition="t.id >= 20")
     .execute(mode=mode))

    src_by_id = {i: (g, v) for i, g, v in src}
    want = {}
    for k, (g, v) in model.items():
        if k in src_by_id:  # matched
            if g < 2:
                want[k] = (g, src_by_id[k][1])
        elif k < 10:
            want[k] = (g, v + 1)
        elif k < 20:
            want[k] = (g, v)
    for k, (g, v) in src_by_id.items():
        if k not in model and k % 2 == 0:
            want[k] = (g, v)
    assert _rows(t.refresh()) == sorted((k, g, v) for k, (g, v) in
                                        want.items())
    if mode == "merge-on-read" and fmt == "dv":
        plan = t.refresh().scan().plan_files()
        refs = [d.file.referenced_data_file for d in plan.pos_deletes]
        assert refs and len(refs) == len(set(refs))  # one DV per file
        assert all(d.file.file_format == "puffin" for d in plan.pos_deletes)


@pytest.mark.parametrize("mode", MODES)
def test_merge_cardinality_fails_before_any_write(catalog, spark, mode):
    t, model = _table(catalog, spark, f"m.card_{mode[:4]}", "parquet")
    snap = t.current_snapshot().snapshot_id
    files = _files(t)
    # id 5 meets two source rows; grp 1 < 2, so the update would apply
    dup = [(5, 1, 1), (5, 1, 2), (100, 0, 3)]
    # id 6 meets two source rows; grp 2: no clause condition holds
    quiet = [(6, 2, 1), (6, 2, 2)]
    for src in (dup, quiet):
        with pytest.raises(ValueError, match="cardinality"):
            (t.merge(spark.createDataFrame(src, SCHEMA), on=["id"])
             .when_matched_update({"v": "s.v"}, condition="t.grp < 2")
             .when_not_matched_insert()
             .execute(mode=mode))
        t = t.refresh()
        assert t.current_snapshot().snapshot_id == snap
        assert _files(t) == files
    assert _rows(t) == sorted((k, g, v) for k, (g, v) in model.items())


def _job_descriptions(sc, group):
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    store = sc._jsc.sc().statusStore()
    out = set()
    for jid in sc.statusTracker().getJobIdsForGroup(group):
        d = store.job(jid).description()
        if d.isDefined():
            out.add(d.get())
    return out


def test_merge_and_rewrite_name_their_jobs(catalog, spark):
    t, _model = _table(catalog, spark, "m.named", "parquet")
    sc = spark.sparkContext
    sc.setJobGroup("named-jobs", "caller description")
    try:
        (t.merge(spark.createDataFrame([(7, 3, 1), (50, 2, 2)], SCHEMA),
                 on=["id"])
         .when_matched_update({"v": "s.v"})
         .when_not_matched_insert()
         .execute(mode="merge-on-read"))
        t.refresh().rewrite_data_files()
        assert sc.getLocalProperty("spark.job.description") == \
            "caller description"
        assert sc.getLocalProperty("spark.jobGroup.id") == "named-jobs"
        descs = _job_descriptions(sc, "named-jobs")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert {"iceberg MERGE: route", "iceberg MERGE: write deletes",
            "iceberg MERGE: write data"} <= descs
    assert any(d.startswith("iceberg rewrite_data_files: ") and
               d.endswith(" files") for d in descs)
