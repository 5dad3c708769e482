"""rewrite_data_files keeps its output while binpack reads and writes a
whole commit batch at once.

A `bucket(4, id)` merge-on-read table with position and equality
deletes compacts to rows equal to the model, keeps every row's
`_row_id` and `_last_updated_sequence_number`, and writes exactly one
file per partition value whatever `write.distribution-mode` says;
`partial_progress` still commits k batches. Files of two partition
specs compact into the current spec, one file per partition value, and
`sort` (range-partitioned per group) writes one file per group.
"""

import pytest
from pyspark.sql import types as T

from iceberg_spark.expressions import col
from iceberg_spark.metadata import OP_REPLACE

SCHEMA = T.StructType([
    T.StructField("id", T.LongType(), False),
    T.StructField("grp", T.IntegerType()),
    T.StructField("v", T.LongType()),
])
MOR = {"write.delete.mode": "merge-on-read",
       "write.update.mode": "merge-on-read",
       "write.merge.mode": "merge-on-read"}


def _append(t, spark, model, lo, hi):
    rows = [(i, i % 3, i * 10) for i in range(lo, hi)]
    t.append(spark.createDataFrame(rows, SCHEMA))
    model.update({i: (g, v) for i, g, v in rows})


def _mor_table(catalog, spark, name, **props):
    t = catalog.create_table(name, SCHEMA, partition_by=["bucket(4, id)"],
                             properties={**MOR, **props})
    model = {}
    for lo, hi in ((0, 30), (30, 60), (60, 90)):
        _append(t, spark, model, lo, hi)
    t.refresh().delete_where(col("id") < 12)
    for k in range(12):
        model.pop(k)
    ups = [(k, 9, -k) for k in (40, 41, 70, 95)]
    t.refresh().upsert(spark.createDataFrame(ups, SCHEMA), ["id"])
    model.update({k: (g, v) for k, g, v in ups})
    t = t.refresh()
    plan = t.scan().plan_files()
    assert plan.pos_deletes and plan.eq_deletes
    return t, model


def _rows(t):
    return sorted((r.id, r.grp, r.v) for r in t.to_df().collect())


def _lineage(t):
    return {r.id: (r._row_id, r._last_updated_sequence_number)
            for r in t.to_df(with_lineage=True).collect()}


def _model_rows(model):
    return sorted((k, g, v) for k, (g, v) in model.items())


def _files_per_partition(t):
    counts = {}
    for e in t.scan().plan_files().files:
        key = (e.file.spec_id, tuple(sorted(e.file.partition.items())))
        counts[key] = counts.get(key, 0) + 1
    return counts


@pytest.mark.parametrize("dist", ["hash", "range", "none"])
def test_binpack_keeps_rows_lineage_and_one_file_per_partition(
        catalog, spark, dist):
    t, model = _mor_table(catalog, spark, f"rw.mor_{dist}",
                          **{"write.distribution-mode": dist})
    lineage = _lineage(t)
    res = t.rewrite_data_files()
    assert res["groups"] == 4 and res["commits"] == 1
    t = t.refresh()
    assert _rows(t) == _model_rows(model)
    assert _lineage(t) == lineage
    counts = _files_per_partition(t)
    assert len(counts) == 4 and set(counts.values()) == {1}
    assert res["added_files"] == 4
    plan = t.scan().plan_files()
    assert not plan.pos_deletes and not plan.eq_deletes


def test_binpack_partial_progress_commits_k_batches(catalog, spark):
    t, model = _mor_table(catalog, spark, "rw.partial")
    before = len(t.snapshots())
    res = t.rewrite_data_files(partial_progress=True,
                               partial_progress_max_commits=3)
    assert res["commits"] == 3
    t = t.refresh()
    # the rewrite commits; removing dangling deletes adds no data file
    rewrites = [s for s in t.snapshots()[before:]
                if s.operation == OP_REPLACE
                and int(s.summary.get("added-data-files", 0)) > 0]
    assert len(rewrites) == 3
    assert _rows(t) == _model_rows(model)
    assert set(_files_per_partition(t).values()) == {1}


def test_binpack_across_partition_specs(catalog, spark):
    t = catalog.create_table("rw.evolved", SCHEMA)
    model = {}
    _append(t, spark, model, 0, 20)
    _append(t.refresh(), spark, model, 20, 40)
    t.refresh().update_spec().add_field("id", "bucket(4)").commit()
    t = t.refresh()
    _append(t, spark, model, 40, 60)
    _append(t.refresh(), spark, model, 60, 80)
    t = t.refresh()
    specs = {e.file.spec_id for e in t.scan().plan_files().files}
    assert len(specs) == 2
    res = t.rewrite_data_files()
    assert res["groups"] == 5  # one unpartitioned group, four buckets
    t = t.refresh()
    assert _rows(t) == _model_rows(model)
    counts = _files_per_partition(t)
    assert {k[0] for k in counts} == {t.metadata.spec.spec_id}
    assert len(counts) == 4 and set(counts.values()) == {1}


def test_sort_rewrites_each_group_on_its_own(catalog, spark):
    t, model = _mor_table(catalog, spark, "rw.sorted")
    res = t.rewrite_data_files(strategy="sort", sort_by=["v"])
    assert res["groups"] == 4 and res["added_files"] == 4
    t = t.refresh()
    assert _rows(t) == _model_rows(model)
    counts = _files_per_partition(t)
    assert len(counts) == 4 and set(counts.values()) == {1}
