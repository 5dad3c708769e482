"""Position-delete + deletion-vector encryption on `encryption.key-id`
tables (reference: delete writers share the data-file encryption
plumbing, core/.../encryption/): pos-delete parquet encrypts with
modular encryption (PARE magic), DV Puffin containers as whole AES GCM
Streams (AGS1) with ags1-kms key_metadata — an encrypted table leaks
no row-position or file-path plaintext anywhere under its location.
Matrix (documented in parquet_crypto.py): `encryption.key-id` covers
the DATA plane; metadata (manifests/metadata.json) encrypts separately
via catalog metadata_key.
"""

import glob
import os

import pytest
from pyspark.sql import functions as F

from iceberg_spark import parquet_crypto as PC
from iceberg_spark.expressions import col
from iceberg_spark.table import Catalog

KEY = bytes(range(16))


def _data_files(location):
    out = []
    for p in glob.glob(os.path.join(location, "data", "**", "*"),
                       recursive=True):
        if os.path.isfile(p) and not os.path.basename(p).startswith(
                ("_", ".")):
            out.append(p)
    return out


@pytest.fixture()
def enc_table(spark, tmp_path):
    PC.register_key("delenc", KEY)
    cat = Catalog(spark, str(tmp_path / "wh"))
    df = spark.range(0, 500).selectExpr(
        "id", "id % 5 as g", "cast(id * 2.5 as double) as v")
    t = cat.create_table("db.e", df.schema, properties={
        PC.KEY_ID_PROP: "delenc", "write.delete.mode": "merge-on-read"})
    t.append(df)
    yield cat, t
    PC.register_key("delenc", KEY)  # restore for other tests


def test_pos_deletes_encrypt_and_scan(spark, enc_table):
    cat, t = enc_table
    t.delete_where(col("id") <= 100, mode="merge-on-read")
    t = cat.load_table("db.e")
    assert t.to_df().count() == 399
    dels = t.scan().plan_files().pos_deletes
    assert dels and all(d.file.key_metadata for d in dels)
    for p in _data_files(t.location):
        assert open(p, "rb").read(4) in (b"PARE", b"AGS1"), p


def test_dv_rewrite_encrypts_puffin(spark, enc_table):
    cat, t = enc_table
    t.delete_where(col("id") <= 100, mode="merge-on-read")
    from iceberg_spark.maintenance import rewrite_position_delete_files

    rewrite_position_delete_files(t.refresh(), to_dvs=True)
    t = cat.load_table("db.e")
    assert t.to_df().count() == 399
    dvs = [d for d in t.scan().plan_files().pos_deletes
           if d.file.file_format == "puffin"]
    assert dvs and all(d.file.key_metadata for d in dvs)
    for d in dvs:
        assert open(d.file.file_path, "rb").read(4) == b"AGS1"
        kid, wrapped, aad = PC.decode_stream_key_metadata(
            d.file.key_metadata)
        assert kid == "delenc" and wrapped != KEY
    # distributed expansion (mapInPandas) decrypts executor-side;
    # cardinality matches exactly (fully-matching files were dropped
    # metadata-only, so only boundary files carry vectors)
    from iceberg_spark.scan import pos_delete_rows_df

    assert pos_delete_rows_df(spark, dvs).count() == \
        sum(d.file.record_count for d in dvs) > 0


def test_partitioned_pos_deletes_encrypt(spark, tmp_path):
    PC.register_key("delenc2", KEY)
    cat = Catalog(spark, str(tmp_path / "wh2"))
    df = spark.range(0, 300).selectExpr("id", "id % 3 as g")
    t = cat.create_table("db.p", df.schema, partition_by=["g"],
                         properties={PC.KEY_ID_PROP: "delenc2",
                                     "write.delete.mode": "merge-on-read"})
    t.append(df)
    t.delete_where(col("id") <= 30, mode="merge-on-read")
    t = cat.load_table("db.p")
    assert t.to_df().count() == 269
    dels = t.scan().plan_files().pos_deletes
    assert dels and all(d.file.key_metadata for d in dels)
    # partition fanout preserved: delete files carry partition tuples
    assert any(d.file.partition for d in dels)
    for p in _data_files(t.location):
        assert open(p, "rb").read(4) in (b"PARE", b"AGS1"), p


def test_keyless_dv_read_fails_loudly(spark, enc_table):
    cat, t = enc_table
    t.delete_where(col("id") <= 100, mode="merge-on-read")
    from iceberg_spark.maintenance import rewrite_position_delete_files

    rewrite_position_delete_files(t.refresh(), to_dvs=True)
    t = cat.load_table("db.e")
    PC.unregister_key("delenc")
    with pytest.raises(ValueError, match="not available"):
        t.to_df().count()


def test_dangling_check_reads_encrypted_deletes(spark, enc_table):
    cat, t = enc_table
    t.delete_where(col("id") <= 100, mode="merge-on-read")
    from iceberg_spark.maintenance import remove_dangling_deletes

    # nothing dangling — but the walk must DECRYPT the path-scoped
    # delete files rather than crash on the JVM parquet reader
    assert remove_dangling_deletes(cat.load_table("db.e")) == 0


def test_fallback_decoder_reads_deletes_in_joins(spark, tmp_path,
                                                 monkeypatch):
    """Without the JVM crypto path, encrypted position- and equality-
    delete files decode through pyarrow on executors. With every
    driver-side tier capped to 0 the broadcast position tier and the
    equality anti-join read them, and so do the changelog and
    remove_dangling_deletes."""
    from iceberg_spark import scan as S
    from iceberg_spark.maintenance import remove_dangling_deletes

    monkeypatch.setenv("ICEBERG_SPARK_JVM_CRYPTO", "0")
    for cap in ("POS_DELETE_DRIVER_BYTES", "EQ_DELETE_DRIVER_BYTES",
                "EQ_DELETE_MAX_LITERAL_KEYS", "EQ_DELETE_MAX_PROBE_KEYS"):
        monkeypatch.setattr(S, cap, 0)
    S._EQ_LITERAL_FILTER_CACHE.clear()
    PC.register_key("delenc3", KEY)
    try:
        cat = Catalog(spark, str(tmp_path / "wh3"))

        def rows(lo, hi):
            return spark.range(lo, hi).selectExpr(
                "id", "cast(id * 2.5 as double) as v").coalesce(1)

        t = cat.create_table("db.f", rows(0, 1).schema, properties={
            PC.KEY_ID_PROP: "delenc3", "write.delete.mode": "merge-on-read"})
        for lo in (0, 100, 200):  # files A, B, C
            t.append(rows(lo, lo + 100))
        # two position-delete files, each naming two data files: B+C, A+B
        t = t.refresh()
        t.delete_where(col("id").isin(150, 250), mode="merge-on-read")
        t = t.refresh()
        t.delete_where(col("id").isin(5, 160), mode="merge-on-read")
        t = t.refresh()
        t.upsert(spark.createDataFrame([(7, -1.0), (120, -2.0)],
                                       rows(0, 1).schema), keys=["id"])
        t = cat.load_table("db.f")
        plan = t.scan().plan_files()
        assert len(plan.pos_deletes) == 2 and plan.eq_deletes
        assert all(d.file.key_metadata
                   for d in plan.pos_deletes + plan.eq_deletes)
        d = S._decide_read(t.scan(), plan, False, False)
        assert {b.pos_tier for b in d.branches if b.pos_deletes} == \
            {"broadcast"}
        eq_tiers = {g.tier for b in d.branches for g in b.eq_groups}
        assert eq_tiers and eq_tiers <= {"broadcast", "shuffle",
                                         "seq-tagged"}
        got = {r["id"]: r["v"] for r in t.to_df().collect()}
        assert len(got) == 300 - 4
        assert (got[7], got[120]) == (-1.0, -2.0)
        assert not {5, 150, 160, 250} & set(got)
        for mode in ("local", "distributed"):
            ch = t.changes(mode=mode).collect()
            assert sorted(r["id"] for r in ch
                          if r["_change_type"] == "DELETE") == \
                [5, 7, 120, 150, 160, 250], mode
        # B and C go: the B+C delete file dangles, the A+B one does not
        t.delete_where(col("id") >= 100, mode="copy-on-write")
        assert remove_dangling_deletes(cat.load_table("db.f")) == 1
        t = cat.load_table("db.f")
        assert len(t.scan().plan_files().pos_deletes) == 1
        got = {r["id"]: r["v"] for r in t.to_df().collect()}
        assert sorted(got) == [i for i in range(100) if i != 5]
        assert got[7] == -1.0
    finally:
        S._EQ_LITERAL_FILTER_CACHE.clear()
        PC.unregister_key("delenc3")
