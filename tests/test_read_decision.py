"""The read decision record (scan._decide_read): every tier a read takes
is a plain value in the record, decided once from plan metadata before
any relation is built. Each case also reads the table back, so the
record and the rows it yields are checked together."""

import pytest
from pyspark.sql import types as T

from iceberg_spark import jvm_probe
from iceberg_spark import scan as S
from iceberg_spark.expressions import col
from iceberg_spark.row_ops import write_equality_deletes
from iceberg_spark.writes import RowDelta


def _decide(t, **kw):
    S._EQ_LITERAL_FILTER_CACHE.clear()  # tiers re-decided from constants
    scan = t.scan()
    return S._decide_read(scan, scan.plan_files(), **kw)


def _id_table(catalog, spark, ident, dtype, chunks):
    """One data file per chunk of ids."""
    schema = T.StructType([T.StructField("id", dtype),
                           T.StructField("v", T.DoubleType())])
    t = catalog.create_table(ident, schema, properties={
        "write.delete.mode": "merge-on-read"})
    for ids in chunks:
        t.append(spark.createDataFrame([(i, float(i)) for i in ids],
                                       schema).coalesce(1))
    return t.refresh(), schema


def _eq_delete(t, spark, schema, keys):
    dels = write_equality_deletes(
        t, spark.createDataFrame([(k,) for k in keys],
                                 T.StructType([schema["id"]])), ["id"])
    RowDelta(t, [], dels).commit()
    return t.refresh()


@pytest.mark.parametrize("keys,tier", [
    ([None], "trivial"),                  # NULL-only set
    (list(range(100, 400)), "range"),     # one adjacency run
    (list(range(0, 50, 5)), "isin"),      # few scattered keys
    ([i * 3 for i in range(300)], "probe"),  # over the isin cap
])
def test_eq_inline_tiers(catalog, spark, keys, tier):
    if tier == "probe" and not jvm_probe.available(spark):
        pytest.skip("no JDK for the probe helper jar")
    t, schema = _id_table(catalog, spark, f"dec.eq_{tier}", T.LongType(),
                          [range(1000)])
    t = _eq_delete(t, spark, schema, keys)
    d = _decide(t)
    assert d.splits == []
    [b] = d.branches
    assert b.uniform_eq and not b.need_meta and b.pos_tier is None
    [g] = b.eq_groups
    assert (g.tier, g.key_cols, len(g.deletes)) == (tier, ["id"], 1)
    assert g.filter is not None
    assert t.to_df().count() == 1000 - len([k for k in keys if k is not None])


@pytest.mark.parametrize("bcast_bytes,tier", [(None, "broadcast"),
                                              (0, "shuffle")])
def test_eq_join_tiers(catalog, spark, monkeypatch, bcast_bytes, tier):
    # double keys have no exact literal semantics: join path only
    t, schema = _id_table(catalog, spark, f"dec.eqj_{tier}",
                          T.DoubleType(), [[float(i) for i in range(20)]])
    t = _eq_delete(t, spark, schema, [float(i) for i in range(0, 20, 2)])
    if bcast_bytes is not None:
        monkeypatch.setattr(S, "POS_DELETE_BROADCAST_BYTES", bcast_bytes)
    [b] = _decide(t).branches
    [g] = b.eq_groups
    assert (g.tier, g.filter) == (tier, None)
    assert b.uniform_eq and not b.need_meta
    assert t.to_df().count() == 10


def test_eq_sequence_tagged_join(catalog, spark):
    """Data files on both sides of a delete's sequence number: the join
    carries the data seq < delete seq scoping, and _file is projected
    to attach each row's data sequence number."""
    t, schema = _id_table(catalog, spark, "dec.eqseq", T.LongType(),
                          [range(10)])
    t = _eq_delete(t, spark, schema, [5])            # reaches file 1 only
    t.append(spark.createDataFrame([(i, float(i)) for i in range(10, 20)],
                                   schema).coalesce(1))
    t = _eq_delete(t.refresh(), spark, schema, [3, 15])  # reaches both
    d = _decide(t)
    assert d.splits == []
    [b] = d.branches
    assert len(b.files) == 2 and not b.uniform_eq and b.need_meta
    [g] = b.eq_groups
    assert (g.tier, len(g.deletes)) == ("seq-tagged", 2)
    got = sorted(r.id for r in t.to_df().collect())
    assert got == [i for i in range(20) if i not in (3, 5, 15)]


def test_eq_clear_dirty_split(catalog, spark, monkeypatch):
    """Cheap pushable tiers read every file as one relation; a join
    tier splits off the files no delete can reach."""
    t, schema = _id_table(catalog, spark, "dec.eqsplit", T.LongType(),
                          [range(10), range(100, 110)])
    t = _eq_delete(t, spark, schema, [105, 107])
    d = _decide(t)
    assert d.splits == []
    [b] = d.branches
    assert len(b.files) == 2 and [g.tier for g in b.eq_groups] == ["isin"]

    monkeypatch.setattr(S, "EQ_DELETE_MAX_LITERAL_KEYS", 0)
    monkeypatch.setattr(S, "EQ_DELETE_MAX_PROBE_KEYS", 0)
    d = _decide(t)
    assert d.splits == ["eq"]
    clear, dirty = d.branches
    assert [e.file.record_count for e in clear.files] == [10]
    assert clear.eq_groups == [] and clear.pos_tier is None
    assert [g.tier for g in dirty.eq_groups] == ["broadcast"]
    assert dirty.files[0].file.stats["id"][:2] == (100, 109)
    assert t.to_df().count() == 18
    S._EQ_LITERAL_FILTER_CACHE.clear()


@pytest.fixture()
def pos_table(catalog, spark):
    """Two data files; position deletes reach the second one only."""
    t, _ = _id_table(catalog, spark, "dec.pos", T.LongType(),
                     [range(10), range(100, 110)])
    t.delete_where((col("id") >= 104) & (col("id") <= 106),
                   mode="merge-on-read")
    return t.refresh()


def _second_file(t):
    return max(t.scan().plan_files().files,
               key=lambda e: e.file.stats["id"][0]).file.file_path


def test_pos_inline_runs(pos_table):
    d = _decide(pos_table)
    assert d.splits == []
    [b] = d.branches
    assert b.pos_tier == "inline" and not b.need_pos and not b.need_meta
    assert b.pos_ranges == [(_second_file(pos_table), 4, 6)]
    assert pos_table.to_df().count() == 17


def test_pos_post_projection_runs(pos_table):
    """Metadata columns are projected anyway: the runs test the projected
    _file/_pos after the read, and the untouched file splits off."""
    d = _decide(pos_table, with_metadata_columns=True)
    assert d.splits == ["pos"]
    clear, dirty = d.branches
    assert (clear.pos_tier, clear.pos_deletes) == (None, [])
    assert dirty.pos_tier == "post" and dirty.need_pos
    assert dirty.pos_ranges == [(_second_file(pos_table), 4, 6)]
    assert [e.file.file_path for e in dirty.files] == [_second_file(pos_table)]
    assert pos_table.scan().df(with_metadata_columns=True).count() == 17


@pytest.mark.parametrize("bcast_bytes,tier", [(None, "broadcast"),
                                              (0, "shuffle")])
def test_pos_join_tiers(pos_table, monkeypatch, bcast_bytes, tier):
    monkeypatch.setattr(S, "POS_DELETE_DRIVER_BYTES", 0)
    if bcast_bytes is not None:
        monkeypatch.setattr(S, "POS_DELETE_BROADCAST_BYTES", bcast_bytes)
    d = _decide(pos_table)
    assert d.splits == ["pos"]
    clear, dirty = d.branches
    assert clear.pos_tier is None and len(clear.files) == 1
    assert (dirty.pos_tier, dirty.pos_ranges) == (tier, None)
    assert dirty.need_pos and dirty.need_meta
    assert pos_table.to_df().count() == 17
