"""Deletion vectors (v3, format/spec.md:1372) + plan-time delete pruning."""

from pyspark.sql import Row

from iceberg_spark.expressions import col
from iceberg_spark.maintenance import rewrite_position_delete_files


def _seed(catalog, spark, parts=3, rows=10):
    df = spark.createDataFrame(
        [Row(id=i, p=i % parts, v=float(i)) for i in range(rows)])
    t = catalog.create_table(
        "dv.t", df.schema, partition_by=["p"],
        properties={"write.delete.mode": "merge-on-read"})
    t.append(df)
    return t


def test_dv_conversion(catalog, spark):
    t = _seed(catalog, spark)
    t.delete_where(col("id").isin(0, 1, 2), mode="merge-on-read")
    t.delete_where(col("id") == 4, mode="merge-on-read")
    before = sorted(r.id for r in t.to_df().collect())

    res = rewrite_position_delete_files(t, to_dvs=True)
    assert res["rewritten"] >= 1 and res["added"] >= 1

    t = catalog.load_table("dv.t")
    plan = t.scan().plan_files()
    # every delete blob references exactly one data file
    assert all(d.file.referenced_data_file for d in plan.pos_deletes)
    refs = [d.file.referenced_data_file for d in plan.pos_deletes]
    assert len(refs) == len(set(refs))  # one DV per data file
    assert sorted(r.id for r in t.to_df().collect()) == before


def test_dv_pruning_skips_unrelated_deletes(catalog, spark):
    t = _seed(catalog, spark)
    # delete rows only in partition 0
    t.delete_where((col("p") == 0) & (col("id") >= 6), mode="merge-on-read")
    rewrite_position_delete_files(t, to_dvs=True)
    t = catalog.load_table("dv.t")
    # scanning partition 1 must attach zero delete files
    plan = t.scan(filter=col("p") == 1).plan_files()
    assert plan.report.result_delete_files == 0
    # scanning partition 0 attaches its DV(s)
    plan0 = t.scan(filter=col("p") == 0).plan_files()
    assert len(plan0.pos_deletes) >= 1
    rows = t.scan(filter=col("p") == 0).df().collect()
    assert sorted(r.id for r in rows) == [0, 3]


def test_dv_puffin_byte_layout(catalog, spark):
    """The rewritten DVs are spec-encoded: Puffin container, blob at the
    manifest-tracked offset/length, framed len+magic+vector+CRC
    (format/puffin-spec.md deletion-vector-v1)."""
    import struct
    import zlib

    from iceberg_spark.deletion_vectors import DV_MAGIC, DV_V1, parse_dv_blob
    from iceberg_spark.puffin import MAGIC, read_puffin

    t = _seed(catalog, spark)
    t.delete_where(col("id").isin(1, 3, 5), mode="merge-on-read")
    rewrite_position_delete_files(t, to_dvs=True)
    t = catalog.load_table("dv.t")
    plan = t.scan().plan_files()
    assert plan.pos_deletes, "expected DVs after rewrite"
    for d in plan.pos_deletes:
        f = d.file
        assert f.file_format == "puffin"
        assert f.content_offset is not None and f.content_size_in_bytes
        raw = open(f.file_path, "rb").read()
        assert raw[:4] == MAGIC and raw[-4:] == MAGIC
        # manifest offset/length must exactly match the Puffin footer
        meta, _ = read_puffin(f.file_path)
        bm = [b for b in meta["blobs"]
              if b["offset"] == f.content_offset]
        assert len(bm) == 1 and bm[0]["length"] == f.content_size_in_bytes
        assert bm[0]["type"] == DV_V1
        assert bm[0]["snapshot-id"] == -1 and bm[0]["sequence-number"] == -1
        props = bm[0].get("properties", {})
        assert props.get("referenced-data-file") == f.referenced_data_file
        blob = raw[f.content_offset:f.content_offset + f.content_size_in_bytes]
        (ln,) = struct.unpack_from(">i", blob, 0)
        assert ln + 8 == len(blob) and blob[4:8] == DV_MAGIC
        (crc,) = struct.unpack_from(">I", blob, len(blob) - 4)
        assert crc == (zlib.crc32(blob[4:-4]) & 0xFFFFFFFF)
        positions = parse_dv_blob(blob)
        assert len(positions) == f.record_count == int(props["cardinality"])


def test_dv_roundtrip_serialization():
    """Unit: portable-64-bit roaring across container kinds + framing."""
    import numpy as np
    import pytest

    from iceberg_spark.deletion_vectors import dv_blob, parse_dv_blob

    rng = np.random.default_rng(7)
    cases = [
        np.array([], dtype=np.int64),
        np.array([0]),
        np.array([5, 5, 7, 100000]),                       # dup collapses
        rng.choice(1_000_000, 200_000, replace=False),     # bitmap containers
        rng.choice(2**40, 5_000, replace=False),           # 64-bit keys
        np.arange(70_000),                                 # container boundary
    ]
    for c in cases:
        want = np.unique(np.asarray(c, dtype=np.int64))
        assert np.array_equal(parse_dv_blob(dv_blob(c)), want)
    corrupted = bytearray(dv_blob(np.arange(100)))
    corrupted[20] ^= 0xFF
    with pytest.raises(ValueError, match="CRC"):
        parse_dv_blob(bytes(corrupted))
    with pytest.raises(ValueError):
        dv_blob(np.array([-1]))


def test_dv_reader_accepts_run_containers():
    """Reference-written vectors may use the run-container roaring format
    (cookie 12347) — the reader must parse it although the writer never
    emits it."""
    import struct

    import numpy as np

    from iceberg_spark.deletion_vectors import deserialize_positions

    # hand-craft: one 32-bit map (key 0) with 2 containers: a run
    # container [10..20] in high-key 0, and an array container {1, 2} in
    # high-key 1. cookie 12347, size=2 < NO_OFFSET_THRESHOLD -> no offsets
    body = struct.pack("<HH", 12347, 1)            # cookie, size-1
    body += bytes([0b00000001])                    # container 0 is a run
    body += struct.pack("<HH", 0, 10)              # key 0, card-1 = 10
    body += struct.pack("<HH", 1, 1)               # key 1, card-1 = 1
    body += struct.pack("<HHH", 1, 10, 10)         # 1 run: start 10 len-1 10
    body += struct.pack("<HH", 1, 2)               # array {1,2}
    vec = struct.pack("<q", 1) + struct.pack("<I", 0) + body
    got = deserialize_positions(vec)
    want = np.concatenate([np.arange(10, 21), [65537, 65538]])
    assert np.array_equal(got, want.astype(np.int64))


def test_dv_large_delete_distributed_tier(catalog, spark, monkeypatch):
    """A DV big enough to skip the driver tier still applies correctly via
    the executor-expanded anti-join path."""
    from pyspark.sql import functions as F

    df = spark.range(0, 20000).select(
        F.col("id"), (F.col("id") % 2).alias("p"),
        F.col("id").cast("double").alias("v"))
    t = catalog.create_table(
        "dv.big", df.schema, partition_by=["p"],
        properties={"write.delete.mode": "merge-on-read"})
    t.append(df)
    t.delete_where(col("id") < 6666, mode="merge-on-read")
    rewrite_position_delete_files(t, to_dvs=True)
    t = catalog.load_table("dv.big")
    # force the join tier by shrinking the driver threshold to zero
    from iceberg_spark import scan as S

    with monkeypatch.context() as m:
        m.setattr(S, "POS_DELETE_DRIVER_BYTES", 0)
        n = t.to_df().count()
    assert n == 20000 - 6666


def test_position_deletes_metadata_table_reads_dvs(catalog, spark):
    t = _seed(catalog, spark, rows=12)
    t.delete_where(col("id").isin(2, 7, 9), mode="merge-on-read")
    rewrite_position_delete_files(t, to_dvs=True)
    t = catalog.load_table("dv.t")
    rows = t.metadata_table("position_deletes").collect()
    assert len(rows) == 3
    assert sorted(r.pos for r in rows) == sorted(
        r.pos for r in rows)  # shape check; positions are per-file


def test_dangling_keeps_shared_puffin_with_live_refs(catalog, spark):
    """CoW-overwrite one partition after DV rewrite: the shared Puffin
    file still holds a live partition's DV, so it must survive dangling
    cleanup; once every referenced file dies, it goes."""
    from iceberg_spark.maintenance import remove_dangling_deletes

    t = _seed(catalog, spark, parts=2, rows=10)
    t.delete_where(col("id").isin(0, 1, 3), mode="merge-on-read")
    rewrite_position_delete_files(t, to_dvs=True)
    t = catalog.load_table("dv.t")
    before = sorted(r.id for r in t.to_df().collect())
    # rewrite partition p=0's data files (CoW delete of remaining rows)
    t.delete_where((col("p") == 0) & (col("id") >= 8), mode="copy-on-write")
    t = t.refresh()
    n = remove_dangling_deletes(t)
    t = t.refresh()
    plan = t.scan().plan_files()
    # p=1's DV must still be attached (its data file is alive)
    assert any(d.file.file_format == "puffin" for d in plan.pos_deletes)
    got = sorted(r.id for r in t.to_df().collect())
    assert got == [i for i in before if not (i % 2 == 0 and i >= 8)]


def _dv_table(catalog, spark, name="dv.native", parts=2, rows=20):
    from pyspark.sql import Row

    df = spark.createDataFrame(
        [Row(id=i, p=i % parts, v=float(i)) for i in range(rows)])
    t = catalog.create_table(
        name, df.schema, partition_by=["p"],
        properties={"write.delete.mode": "merge-on-read",
                    "write.update.mode": "merge-on-read",
                    "write.merge.mode": "merge-on-read",
                    "write.delete.format": "dv"})
    t.append(df)
    return t


def test_native_dv_delete_writes_puffin(catalog, spark):
    """write.delete.format=dv: a MoR DELETE writes deletion vectors
    directly — no parquet position-delete files ever exist."""
    t = _dv_table(catalog, spark)
    t.delete_where(col("id").isin(0, 3, 5), mode="merge-on-read")
    t = t.refresh()
    plan = t.scan().plan_files()
    assert plan.pos_deletes, "expected DVs"
    assert all(d.file.file_format == "puffin" for d in plan.pos_deletes)
    assert all(d.file.content_offset is not None for d in plan.pos_deletes)
    got = sorted(r.id for r in t.to_df().collect())
    assert got == [i for i in range(20) if i not in (0, 3, 5)]


def test_native_dv_second_delete_merges_one_dv_per_file(catalog, spark):
    """Spec format/spec.md:1384: at most ONE DV per data file in a
    snapshot — a second delete touching the same file must merge the
    prior vector into the new one and replace the superseded entry."""
    t = _dv_table(catalog, spark, name="dv.native2")
    t.delete_where(col("id").isin(0, 2), mode="merge-on-read")
    t = t.refresh()
    t.delete_where(col("id").isin(4, 6), mode="merge-on-read")
    t = t.refresh()
    plan = t.scan().plan_files()
    refs = [d.file.referenced_data_file for d in plan.pos_deletes]
    assert len(refs) == len(set(refs)), f"multiple DVs per file: {refs}"
    # merged vector holds BOTH commits' positions
    total = sum(d.file.record_count for d in plan.pos_deletes)
    assert total == 4
    got = sorted(r.id for r in t.to_df().collect())
    assert got == [i for i in range(20) if i not in (0, 2, 4, 6)]


def test_native_dv_update_and_merge(catalog, spark):
    """MoR UPDATE and MERGE under write.delete.format=dv keep one DV per
    file and correct results."""
    from pyspark.sql import Row

    t = _dv_table(catalog, spark, name="dv.native3")
    t.update(col("id") == 7, {"v": 700.0}, mode="merge-on-read")
    t = t.refresh()
    src = spark.createDataFrame([Row(id=8, p=0, v=800.0),
                                 Row(id=100, p=0, v=1000.0)])
    (t.merge(src, on=["id"])
     .when_matched_update({"v": "s.v"})
     .when_not_matched_insert()
     .execute())
    t = t.refresh()
    rows = {r.id: r.v for r in t.to_df().collect()}
    assert rows[7] == 700.0 and rows[8] == 800.0 and rows[100] == 1000.0
    assert len(rows) == 21
    plan = t.scan().plan_files()
    refs = [d.file.referenced_data_file for d in plan.pos_deletes]
    assert len(refs) == len(set(refs))
    assert all(d.file.file_format == "puffin" for d in plan.pos_deletes)


def test_changelog_over_native_dvs(catalog, spark):
    """changes() reports per-row DELETEs from Puffin DVs, and two DV
    entries sharing one container are not collapsed by the differ."""
    t = _dv_table(catalog, spark, name="dv.cdc", parts=2, rows=10)
    s0 = t.snapshots()[-1].snapshot_id
    # touches BOTH partitions -> two DVs, likely one shared Puffin file
    t.delete_where(col("id").isin(2, 3), mode="merge-on-read")
    t = t.refresh()
    ch = t.changes(from_snapshot_id=s0)
    rows = [(r.id, r._change_type) for r in ch.collect()]
    assert (2, "DELETE") in rows and (3, "DELETE") in rows
    assert len([r for r in rows if r[1] == "DELETE"]) == 2


def test_dv_roundtrip_property():
    """Property-based: any set of valid positions round-trips exactly
    through the blob framing, across container-kind boundaries."""
    from hypothesis import given, settings
    from hypothesis import strategies as st
    import numpy as np

    from iceberg_spark.deletion_vectors import dv_blob, parse_dv_blob

    @settings(max_examples=60, deadline=None)
    @given(st.lists(
        st.one_of(
            st.integers(min_value=0, max_value=2**16 + 8),     # container edge
            st.integers(min_value=0, max_value=2**32 + 8),     # key edge
            st.integers(min_value=0, max_value=2**62),         # deep 64-bit
        ), max_size=300))
    def check(posns):
        want = np.unique(np.asarray(posns, dtype=np.int64)) \
            if posns else np.empty(0, dtype=np.int64)
        got = parse_dv_blob(dv_blob(np.asarray(posns, dtype=np.int64)))
        assert np.array_equal(got, want)

    check()


def test_compaction_applies_dvs(catalog, spark):
    """rewrite_data_files over a DV table applies the vectors into the
    rewritten data and dangling cleanup drops the spent containers."""
    t = _dv_table(catalog, spark, name="dv.compact", parts=2, rows=40)
    t.delete_where(col("id") < 8, mode="merge-on-read")
    t = t.refresh()
    assert any(d.file.file_format == "puffin"
               for d in t.scan().plan_files().pos_deletes)
    t.rewrite_data_files(strategy="binpack")
    t = t.refresh()
    plan = t.scan().plan_files()
    assert not plan.pos_deletes, "DVs must be applied and removed"
    assert sorted(r.id for r in t.to_df().collect()) == list(range(8, 40))


def test_concurrent_dv_replacement_conflicts_loudly(catalog, spark):
    """Two writers merging DVs for the SAME data file from the same base:
    the first commit wins; the second's retry must fail validation (its
    replaced entry is gone) instead of silently dropping the winner's
    deletes — the one-DV-per-file invariant under optimistic concurrency."""
    import pytest

    from iceberg_spark.row_ops import write_row_deletes
    from iceberg_spark.writes import RowDelta, ValidationException

    t = _dv_table(catalog, spark, name="dv.conc", parts=1, rows=12)
    t.delete_where(col("id") == 0, mode="merge-on-read")
    t = t.refresh()

    # writer 1: prepare a merge replacing the existing DV (not committed)
    scan1 = t.scan(filter=col("id") == 3)
    plan1 = scan1.plan_files()
    m1 = scan1.df(with_metadata_columns=True).filter("id = 3")
    files1, removed1 = write_row_deletes(t, m1, plan1)
    assert removed1, "expected the existing DV entry to be replaced"

    # writer 2 commits first, replacing the same file's DV
    t.delete_where(col("id") == 5, mode="merge-on-read")

    # writer 1's commit retries on the new base and must fail loudly:
    # its removed ref no longer exists there
    with pytest.raises(ValidationException, match="no longer exist"):
        RowDelta(t, [], files1, removed_delete_refs=removed1).commit()

    t = t.refresh()
    got = sorted(r.id for r in t.to_df().collect())
    assert got == [i for i in range(12) if i not in (0, 5)]
