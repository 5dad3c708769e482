"""Equality deletes (format/spec.md:1415): writer, sequence scoping,
target-read-free upsert, plan-time key-range pruning."""

from pyspark.sql import Row

from iceberg_spark.expressions import col
from iceberg_spark.row_ops import equality_upsert


def _seed(catalog, spark, ident="eq.t"):
    df = spark.createDataFrame(
        [Row(id=i, v=float(i)) for i in range(10)])
    t = catalog.create_table(ident, df.schema)
    t.append(df)
    return t


def test_equality_upsert_semantics(catalog, spark):
    t = _seed(catalog, spark)
    # upsert: replace ids 3,4 and add 100 — no target read
    up = spark.createDataFrame(
        [Row(id=3, v=300.0), Row(id=4, v=400.0), Row(id=100, v=1.0)])
    t.upsert(up, keys=["id"])
    raw = t.to_df().collect()
    assert len(raw) == 11  # no duplicate key rows survive
    rows = {r.id: r.v for r in raw}
    assert rows[3] == 300.0 and rows[4] == 400.0 and rows[100] == 1.0
    # second upsert hits rows written by the first (seq scoping chain)
    t.upsert(spark.createDataFrame([Row(id=3, v=333.0)]), keys=["id"])
    raw = t.to_df().collect()
    assert len(raw) == 11
    assert {r.id: r.v for r in raw}[3] == 333.0


def test_eq_delete_files_in_plan(catalog, spark):
    t = _seed(catalog, spark, "eq.plan")
    t.upsert(spark.createDataFrame([Row(id=5, v=55.0)]), keys=["id"])
    plan = t.scan().plan_files()
    assert len(plan.eq_deletes) == 1
    d = plan.eq_deletes[0].file
    assert d.equality_ids and d.record_count == 1
    # key stats present -> range scoping possible
    assert d.stats["id"][0] == 5 and d.stats["id"][1] == 5


def test_eq_delete_key_range_pruning(catalog, spark):
    df = spark.createDataFrame([Row(id=i, p=i // 5, v=float(i)) for i in range(10)])
    t = catalog.create_table("eq.part", df.schema, partition_by=["p"])
    t.append(df)
    # upsert touches only ids 0..2 (partition 0's range)
    t.upsert(spark.createDataFrame(
        [Row(id=i, p=0, v=-1.0) for i in range(3)]), keys=["id"])
    # scan of partition 1 (ids 5..9): delete file's id range [0,2] is
    # disjoint -> planner must drop it
    plan = t.scan(filter=col("p") == 1).plan_files()
    assert plan.report.result_delete_files == 0
    rows = t.scan(filter=col("p") == 1).df().collect()
    assert sorted(r.v for r in rows) == [5.0, 6.0, 7.0, 8.0, 9.0]
    # partition 0 applies it
    rows0 = {r.id: r.v for r in t.scan(filter=col("p") == 0).df().collect()}
    assert rows0[0] == -1.0 and rows0[3] == 3.0


def test_equality_upsert_sink_idempotent(catalog, spark):
    t = _seed(catalog, spark, "eq.sink")
    from iceberg_spark.streaming import equality_upsert_sink

    fn = equality_upsert_sink(t, keys=["id"], query_id="q1")
    batch = spark.createDataFrame([Row(id=1, v=11.0), Row(id=200, v=2.0)])
    fn(batch, 0)
    fn(batch, 0)  # same epoch replayed -> no-op
    t = catalog.load_table("eq.sink")
    rows = {r.id: r.v for r in t.to_df().collect()}
    assert rows[1] == 11.0 and rows[200] == 2.0 and len(rows) == 11
    assert len(t.snapshots()) == 2  # seed + one upsert commit


def test_changelog_over_equality_upsert(catalog, spark):
    t = _seed(catalog, spark, "eq.cdc")
    first = t.current_snapshot().snapshot_id
    t.upsert(spark.createDataFrame([Row(id=2, v=22.0), Row(id=50, v=5.0)]),
             keys=["id"])
    ch = t.changes(from_snapshot_id=first).collect()
    by_type = {}
    for r in ch:
        by_type.setdefault(r._change_type, []).append((r.id, r.v))
    assert sorted(by_type["INSERT"]) == [(2, 22.0), (50, 5.0)]
    assert by_type["DELETE"] == [(2, 2.0)]  # old row killed by the eq delete
    # update pairing turns the delete+insert on id=2 into UPDATE_BEFORE/AFTER
    ch2 = t.changes(from_snapshot_id=first, compute_updates=True,
                    identifier_columns=["id"]).collect()
    types = {r._change_type for r in ch2 if r.id == 2}
    assert types == {"UPDATE_BEFORE", "UPDATE_AFTER"}


def test_upsert_in_batch_duplicate_keys(catalog, spark):
    # ADVICE r1: same-key rows within one batch must collapse (last wins,
    # matching equality_upsert_sink) — eq deletes only scope to older seqs
    t = _seed(catalog, spark, "eq.dup")
    up = spark.createDataFrame(
        [Row(id=3, v=30.0), Row(id=3, v=31.0), Row(id=200, v=2.0)])
    t.upsert(up, keys=["id"])
    raw = t.to_df().collect()
    assert len(raw) == 11  # one survivor for id=3
    assert {r.id: r.v for r in raw}[3] == 31.0


def test_eq_deletes_survive_column_rename(catalog, spark):
    """Eq-delete files written before a rename read by their WRITE-time
    column name (field-ID mapped); reading by the current name would
    silently return all-NULL keys and delete nothing."""
    from pyspark.sql import types as T

    from iceberg_spark.row_ops import write_equality_deletes
    from iceberg_spark.writes import RowDelta

    schema = T.StructType([T.StructField("id", T.LongType()),
                           T.StructField("v", T.StringType())])
    t = catalog.create_table("db.eqren", schema)
    t.append(spark.createDataFrame([(i, f"v{i}") for i in range(10)], schema))
    keys = spark.createDataFrame([(2,), (5,)], "id long")
    eq_files = write_equality_deletes(t, keys, ["id"])
    RowDelta(t, [], eq_files).commit()
    t = t.refresh()
    t.update_schema().rename_column("id", "id2").commit()
    t = t.refresh()
    got = sorted(r.id2 for r in t.to_df().collect())
    assert got == [i for i in range(10) if i not in (2, 5)]


def test_upsert_eq_deletes_survive_column_rename(catalog, spark):
    """Same-commit upsert deletes (non-uniform seq path) also read by the
    WRITE-time key column name after a rename."""
    from pyspark.sql import types as T

    schema = T.StructType([T.StructField("id", T.LongType()),
                           T.StructField("v", T.StringType())])
    t = catalog.create_table("db.eqren2", schema)
    t.append(spark.createDataFrame([(i, f"v{i}") for i in range(8)], schema))
    t.upsert(spark.createDataFrame([(3, "NEW3"), (100, "NEW100")], schema),
             keys=["id"])
    t = t.refresh()
    t.update_schema().rename_column("id", "id2").commit()
    t = t.refresh()
    got = {r.id2: r.v for r in t.to_df().collect()}
    assert got[3] == "NEW3" and got[100] == "NEW100"
    assert len(got) == 9


def test_partition_scoped_equality_deletes(catalog, spark):
    """When spec source columns are a subset of the delete key columns,
    equality deletes fan out partition-scoped (Flink equality-writer
    shape): tuples recorded, partition-pruned scans attach none."""
    from pyspark.sql import types as T

    from iceberg_spark import col
    from iceberg_spark.row_ops import write_equality_deletes
    from iceberg_spark.writes import RowDelta

    schema = T.StructType([T.StructField("grp", T.IntegerType()),
                           T.StructField("id", T.LongType()),
                           T.StructField("v", T.StringType())])
    t = catalog.create_table("db.eqpart", schema, partition_by=["grp"])
    t.append(spark.createDataFrame(
        [(i % 3, i, f"v{i}") for i in range(30)], schema))
    keys = spark.createDataFrame([(0, 0), (1, 1)], "grp int, id long")
    dels = write_equality_deletes(t, keys, ["grp", "id"])
    assert all(d.partition.get("grp") is not None for d in dels)
    RowDelta(t, [], dels).commit()
    t = t.refresh()
    assert t.to_df().count() == 28
    # scan of an untouched partition attaches ZERO equality deletes
    plan = t.scan(filter=col("grp") == 2).plan_files()
    assert plan.files and not plan.eq_deletes
    # touched partition attaches only its own partition's delete file
    plan1 = t.scan(filter=col("grp") == 1).plan_files()
    assert all(d.file.partition.get("grp") == 1 for d in plan1.eq_deletes)
    assert t.scan(filter=col("grp") == 1).df().count() == 9


def test_eq_literal_filter_fast_path(catalog, spark):
    """Small single-key delete sets committed AFTER the data (uniform
    sequence layout) apply as a codegen'd NOT-IN filter — no join stage
    in the plan — with anti-join-identical semantics, including NULL
    keys: a NULL delete key removes NULL rows (eqNullSafe), and NULL
    data rows survive otherwise."""
    from pyspark.sql import types as T

    from iceberg_spark.row_ops import write_equality_deletes
    from iceberg_spark.writes import RowDelta

    schema = T.StructType([T.StructField("id", T.LongType()),
                           T.StructField("v", T.DoubleType())])
    t = catalog.create_table("eq.lit", schema)
    t.append(spark.createDataFrame(
        [(i, float(i)) for i in range(10)] + [(None, 99.0)], schema))
    dels = write_equality_deletes(
        t, spark.createDataFrame([(3,), (7,)], ["id"]), ["id"])
    RowDelta(t, [], dels).commit()
    t = t.refresh()
    df = t.to_df()
    assert "Join" not in df._jdf.queryExecution().executedPlan().toString()
    got = sorted((r.id, r.v) for r in df.collect()
                 if r.id is not None)
    assert [g[0] for g in got] == [0, 1, 2, 4, 5, 6, 8, 9]
    assert df.filter("id is null").count() == 1  # NULL row survives

    # now delete the NULL key: eqNullSafe removes the NULL row too
    dels2 = write_equality_deletes(
        t, spark.createDataFrame([(None,)], schema["id"].dataType and
                                 T.StructType([schema["id"]])), ["id"])
    RowDelta(t, [], dels2).commit()
    t = t.refresh()
    assert t.to_df().filter("id is null").count() == 0
    assert t.to_df().count() == 8


def test_eq_literal_filter_falls_back_when_big(catalog, spark, monkeypatch):
    """Above the driver-bytes cap the distributed anti-join applies —
    same result either way (the cap only picks the strategy)."""
    from pyspark.sql import types as T

    from iceberg_spark.row_ops import write_equality_deletes
    from iceberg_spark.writes import RowDelta

    schema = T.StructType([T.StructField("id", T.LongType()),
                           T.StructField("v", T.DoubleType())])
    t = catalog.create_table("eq.big", schema)
    t.append(spark.createDataFrame([(i, float(i)) for i in range(50)],
                                   schema))
    dels = write_equality_deletes(
        t, spark.createDataFrame([(i,) for i in range(0, 50, 5)], ["id"]),
        ["id"])
    RowDelta(t, [], dels).commit()
    t = t.refresh()
    from iceberg_spark import scan as S

    with monkeypatch.context() as m:
        m.setattr(S, "EQ_DELETE_DRIVER_BYTES", 1)
        # the probe path has its own byte cap — lower it too, otherwise a
        # small-but-over-isin-bytes set legitimately probes instead
        m.setattr(S, "EQ_DELETE_PROBE_BYTES", 1)
        S._EQ_LITERAL_FILTER_CACHE.clear()
        df = t.to_df()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Join" in plan  # anti-join path
        assert df.count() == 40
    S._EQ_LITERAL_FILTER_CACHE.clear()
    assert t.to_df().count() == 40  # literal path agrees


def _eq_table(catalog, spark, ident, rows, extra=()):
    from pyspark.sql import types as T

    schema = T.StructType([T.StructField("id", T.LongType()),
                           T.StructField("v", T.DoubleType())])
    t = catalog.create_table(ident, schema)
    t.append(spark.createDataFrame(
        [(i, float(i)) for i in range(rows)] + list(extra), schema))
    return t


def test_eq_probe_filter_large_key_set(catalog, spark):
    """Above the isin-literal cap (4096) but under the probe cap the
    delete set applies as ONE compiled StaticInvoke binary-search node:
    no join stage, no per-key literal tree, anti-join-identical
    semantics including NULL handling."""
    from iceberg_spark import jvm_probe
    from iceberg_spark.row_ops import write_equality_deletes
    from iceberg_spark.writes import RowDelta

    if not jvm_probe.available(spark):
        import pytest

        pytest.skip("no JDK for the probe helper jar")
    t = _eq_table(catalog, spark, "eq.probe", 12000,
                  extra=[(None, 99.0)])
    dels = write_equality_deletes(
        t, spark.createDataFrame([(i,) for i in range(0, 12000, 2)],
                                 ["id"]), ["id"])
    RowDelta(t, [], dels).commit()
    t = t.refresh()
    df = t.to_df()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    assert "static_invoke" in plan or "SortedSetProbe" in plan
    assert df.count() == 6001  # odd ids + the NULL row
    assert df.filter("id is null").count() == 1
    assert df.filter("id = 4000").count() == 0
    assert df.filter("id = 4001").count() == 1

    # NULL delete key through the probe path: NULL rows go too
    from pyspark.sql import types as T

    dels2 = write_equality_deletes(
        t, spark.createDataFrame(
            [(i,) for i in range(1, 12000, 2)] + [(None,)],
            T.StructType([T.StructField("id", T.LongType())])), ["id"])
    RowDelta(t, [], dels2).commit()
    t = t.refresh()
    assert t.to_df().count() == 0


def test_eq_probe_filter_string_keys(catalog, spark):
    """String keys probe through a sorted UTF8String[] — including
    values with quotes/backticks that would break SQL rendering."""
    from pyspark.sql import types as T

    from iceberg_spark import jvm_probe
    from iceberg_spark.row_ops import write_equality_deletes
    from iceberg_spark.writes import RowDelta

    if not jvm_probe.available(spark):
        import pytest

        pytest.skip("no JDK for the probe helper jar")
    schema = T.StructType([T.StructField("k", T.StringType()),
                           T.StructField("v", T.DoubleType())])
    t = catalog.create_table("eq.probestr", schema)
    odd = ["it's`x\\" + str(i) for i in range(4200)]
    keep = [f"keep{i}" for i in range(100)]
    t.append(spark.createDataFrame(
        [(k, 1.0) for k in odd + keep], schema))
    dels = write_equality_deletes(
        t, spark.createDataFrame([(k,) for k in odd], ["k"]), ["k"])
    RowDelta(t, [], dels).commit()
    t = t.refresh()
    df = t.to_df()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    got = sorted(r.k for r in df.collect())
    assert got == sorted(keep)


def test_eq_probe_disabled_falls_back_to_join(catalog, spark,
                                              monkeypatch):
    """ICEBERG_SPARK_JVM_PROBE=0 keeps the distributed anti-join for
    large sets — same results either way."""
    from iceberg_spark import jvm_probe, scan
    from iceberg_spark.row_ops import write_equality_deletes
    from iceberg_spark.writes import RowDelta

    # stride-2 keys: scattered (one run per key), so neither the r14
    # range tier nor the literal tier applies — with the probe disabled
    # the anti-join is the only remaining path, which is the fallback
    # under test
    t = _eq_table(catalog, spark, "eq.probeoff", 5000)
    dels = write_equality_deletes(
        t, spark.createDataFrame([(i,) for i in range(0, 4200, 2)],
                                 ["id"]), ["id"])
    RowDelta(t, [], dels).commit()
    t = t.refresh()
    monkeypatch.setenv("ICEBERG_SPARK_JVM_PROBE", "0")
    monkeypatch.setattr(jvm_probe, "_session_state", {})
    scan._EQ_LITERAL_FILTER_CACHE.clear()
    try:
        df = t.to_df()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Join" in plan
        assert df.count() == 5000 - 2100
    finally:
        scan._EQ_LITERAL_FILTER_CACHE.clear()
    monkeypatch.delenv("ICEBERG_SPARK_JVM_PROBE")
    monkeypatch.setattr(jvm_probe, "_session_state", {})
    assert t.to_df().count() == 5000 - 2100  # probe path agrees


def test_eq_split_scan_clear_files_skip_join(catalog, spark, monkeypatch):
    """DeleteFileIndex analog: data files whose key bounds no delete
    file overlaps read on a plain union branch — correct rows, and the
    executed plan is a Union with the delete filter on one side only."""
    from pyspark.sql import Row

    t = _eq_table(catalog, spark, "eq.split", 10)          # ids 0..9
    t.append(spark.createDataFrame(
        [Row(id=i, v=float(i)) for i in range(100, 110)]))  # 2nd file
    # force the join path (not literal) so the split is observable:
    # delete keys live only in the second file's range
    from iceberg_spark import scan as S

    with monkeypatch.context() as m:
        m.setattr(S, "EQ_DELETE_MAX_LITERAL_KEYS", 0)
        m.setattr(S, "EQ_DELETE_MAX_PROBE_KEYS", 0)
        S._EQ_LITERAL_FILTER_CACHE.clear()
        t.upsert(spark.createDataFrame(
            [Row(id=105, v=-1.0), Row(id=107, v=-2.0)]), keys=["id"])
        df = t.to_df()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Union" in plan and "Join" in plan
        rows = {r.id: r.v for r in df.collect()}
        assert len(rows) == 20
        assert rows[105] == -1.0 and rows[107] == -2.0
        assert rows[3] == 3.0
    S._EQ_LITERAL_FILTER_CACHE.clear()


def test_eq_split_null_keys_stay_dirty(catalog, spark):
    """A delete file carrying NULL keys must still reach data files
    whose bounds are disjoint when those files may hold NULL keys
    (bounds describe non-NULL values only)."""
    from pyspark.sql import Row, types as T

    from iceberg_spark.row_ops import write_equality_deletes
    from iceberg_spark.writes import RowDelta

    schema = T.StructType([T.StructField("id", T.LongType()),
                           T.StructField("v", T.DoubleType())])
    t = catalog.create_table("eq.splitnull", schema)
    t.append(spark.createDataFrame(
        [(None, 1.0), (None, 2.0)], schema))            # all-NULL file
    t.append(spark.createDataFrame(
        [(100, 3.0), (101, 4.0)], schema))              # bounded file
    dels = write_equality_deletes(
        t, spark.createDataFrame([(100,), (None,)],
                                 T.StructType([schema["id"]])), ["id"])
    RowDelta(t, [], dels).commit()
    t = t.refresh()
    got = sorted(r.v for r in t.to_df().collect())
    assert got == [4.0]  # both NULL rows AND id=100 deleted


def test_eq_delete_nan_key_survives_bounds_scoping(catalog, spark):
    """A NaN-keyed equality delete must delete NaN data rows: data-file
    bounds exclude NaN and `NaN between lo,hi` is false, so the
    build-side bounds scoping must keep NaN keys explicitly or the
    deleted rows silently resurrect (r12 ADVICE)."""
    from pyspark.sql import types as T

    from iceberg_spark.row_ops import write_equality_deletes
    from iceberg_spark.writes import RowDelta

    nan = float("nan")
    schema = T.StructType([T.StructField("id", T.DoubleType()),
                           T.StructField("v", T.DoubleType())])
    t = catalog.create_table("eq.nankey", schema)
    # one file mixing finite and NaN keys: its manifest bounds are the
    # finite [1.0, 2.0], which is what makes the naive between() drop
    # the NaN delete key from the build side
    t.append(spark.createDataFrame(
        [(1.0, 10.0), (2.0, 20.0), (nan, 30.0)], schema))
    dels = write_equality_deletes(
        t, spark.createDataFrame([(nan,)], T.StructType([schema["id"]])),
        ["id"])
    RowDelta(t, [], dels).commit()
    t = t.refresh()
    got = sorted(r.v for r in t.to_df().collect())
    assert got == [10.0, 20.0]  # NaN row deleted, finite rows kept


def test_delete_build_cache_reuse(catalog, spark, monkeypatch):
    """The anti-join build side persists across scans of the same
    delete files (reference SparkExecutorCache analog) and evicts
    oldest-first."""
    from pyspark.sql import types as T

    from iceberg_spark import scan
    from iceberg_spark.row_ops import write_equality_deletes
    from iceberg_spark.writes import RowDelta

    schema = T.StructType([T.StructField("id", T.DoubleType()),
                           T.StructField("v", T.DoubleType())])
    t = catalog.create_table("eq.cache", schema)
    t.append(spark.createDataFrame(
        [(float(i), float(i)) for i in range(20)], schema))
    # double keys never take the literal/probe path -> join + cache
    dels = write_equality_deletes(
        t, spark.createDataFrame([(float(i),) for i in range(0, 20, 2)],
                                 ["id"]), ["id"])
    RowDelta(t, [], dels).commit()
    t = t.refresh()
    before = dict(scan._DELETE_BUILD_CACHE)
    assert t.to_df().count() == 10
    added = {k: v for k, v in scan._DELETE_BUILD_CACHE.items()
             if k not in before}
    assert len(added) == 1
    dd = next(iter(added.values()))
    assert dd.storageLevel.useMemory  # persisted
    assert t.to_df().count() == 10  # second scan: cache hit, no rebuild
    assert [k for k in scan._DELETE_BUILD_CACHE if k not in before] \
        == list(added)


def test_eq_probe_filter_date_keys(catalog, spark, monkeypatch):
    """Date keys probe on epoch days (DATEDIFF cast) — caps lowered so
    a small fixture exercises the large-set path."""
    import datetime as dt

    from pyspark.sql import types as T

    from iceberg_spark import jvm_probe, scan as S
    from iceberg_spark.row_ops import write_equality_deletes
    from iceberg_spark.writes import RowDelta

    if not jvm_probe.available(spark):
        import pytest

        pytest.skip("no JDK for the probe helper jar")
    schema = T.StructType([T.StructField("d", T.DateType()),
                           T.StructField("v", T.DoubleType())])
    t = catalog.create_table("eq.probedate", schema)
    days = [dt.date(2024, 1, 1) + dt.timedelta(days=i) for i in range(60)]
    t.append(spark.createDataFrame([(d, 1.0) for d in days], schema))
    dels = write_equality_deletes(
        t, spark.createDataFrame([(d,) for d in days[::2]], ["d"]), ["d"])
    RowDelta(t, [], dels).commit()
    t = t.refresh()
    with monkeypatch.context() as m:
        m.setattr(S, "EQ_DELETE_MAX_LITERAL_KEYS", 8)
        S._EQ_LITERAL_FILTER_CACHE.clear()
        df = t.to_df()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Join" not in plan and "static_invoke" in plan
        got = sorted(r.d for r in df.collect())
        assert got == days[1::2]
    S._EQ_LITERAL_FILTER_CACHE.clear()


def test_eq_crossover_mid_size_sets_use_probe(catalog, spark, monkeypatch):
    """r13: the literal->probe crossover default dropped 4096 -> 256.
    A 300-key delete set (above the new cap, below the old) must apply
    through the compiled SortedSetProbe StaticInvoke — not a 300-literal
    INSET tree and not a join — with results identical to the literal
    tier forced through its cap constant."""
    from pyspark.sql import types as T

    from iceberg_spark.row_ops import write_equality_deletes
    from iceberg_spark.writes import RowDelta

    schema = T.StructType([T.StructField("id", T.LongType()),
                           T.StructField("v", T.DoubleType())])
    t = catalog.create_table("eq.crossover", schema)
    t.append(spark.createDataFrame(
        [(i, float(i)) for i in range(1000)], schema))
    dels = write_equality_deletes(
        t, spark.createDataFrame([(i * 3,) for i in range(300)], ["id"]),
        ["id"])
    RowDelta(t, [], dels).commit()
    t = t.refresh()

    plan = t.to_df()._jdf.queryExecution().executedPlan().toString()
    assert "SortedSetProbe" in plan, plan
    assert "INSET" not in plan, plan
    assert "Join" not in plan, plan
    got = sorted(r.id for r in t.to_df().collect())

    # literal tier forced by its cap constant must agree exactly
    from iceberg_spark import scan as _scan

    with monkeypatch.context() as m:
        m.setattr(_scan, "EQ_DELETE_MAX_LITERAL_KEYS", 4096)
        _scan._EQ_LITERAL_FILTER_CACHE.clear()
        lit_plan = t.to_df()._jdf.queryExecution().executedPlan().toString()
        assert "INSET" in lit_plan, lit_plan
        assert sorted(r.id for r in t.to_df().collect()) == got
    _scan._EQ_LITERAL_FILTER_CACHE.clear()
    expected = sorted(set(range(1000)) - {i * 3 for i in range(300)})
    assert got == expected


def test_eq_range_run_tier_contiguous_keys(catalog, spark, monkeypatch):
    """r14: a delete-key set that compresses to few adjacency runs
    applies as a parquet-PUSHABLE range-complement predicate — no join,
    no compiled probe — with results identical to the probe tier forced
    by its constant. The pushable filter is the point: on key-clustered
    layouts parquet skips row groups wholly inside a deleted run."""
    from iceberg_spark import scan as S
    from iceberg_spark.row_ops import write_equality_deletes
    from iceberg_spark.writes import RowDelta

    t = _eq_table(catalog, spark, "eq.range", 12000)
    # 4000 contiguous keys + one extra singleton: 2 runs
    dels = write_equality_deletes(
        t, spark.createDataFrame(
            [(i,) for i in range(1000, 5000)] + [(7777,)], ["id"]),
        ["id"])
    RowDelta(t, [], dels).commit()
    t = t.refresh()
    S._EQ_LITERAL_FILTER_CACHE.clear()
    df = t.to_df()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan
    assert "SortedSetProbe" not in plan and "static_invoke" not in plan, \
        plan
    assert "INSET" not in plan, plan
    # the range predicate must reach the parquet scan (row-group
    # skipping evidence): PushedFilters carries the key column
    fmt = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode
        .fromString("formatted"))
    pushed = [ln for ln in fmt.splitlines() if "PushedFilters" in ln]
    assert pushed and any("id" in ln for ln in pushed), fmt
    got = sorted(r.id for r in df.collect())
    expected = sorted(set(range(12000)) - set(range(1000, 5000)) - {7777})
    assert got == expected

    # probe tier forced (range tier off) must agree exactly
    with monkeypatch.context() as m:
        m.setattr(S, "EQ_DELETE_MAX_RANGE_RUNS", 0)
        S._EQ_LITERAL_FILTER_CACHE.clear()
        assert sorted(r.id for r in t.to_df().collect()) == got
    S._EQ_LITERAL_FILTER_CACHE.clear()


def test_eq_range_run_tier_null_semantics(catalog, spark):
    """NULL rows survive a range-tier delete unless the delete set
    carried a NULL key (eqNullSafe parity with the join path)."""
    from pyspark.sql import types as T

    from iceberg_spark import scan as S
    from iceberg_spark.row_ops import write_equality_deletes
    from iceberg_spark.writes import RowDelta

    schema = T.StructType([T.StructField("id", T.LongType()),
                           T.StructField("v", T.DoubleType())])
    t = catalog.create_table("eq.rangenull", schema)
    t.append(spark.createDataFrame(
        [(i, float(i)) for i in range(600)] + [(None, -1.0)], schema))
    # contiguous 400-key run, above the 256 literal cap -> range tier
    dels = write_equality_deletes(
        t, spark.createDataFrame([(i,) for i in range(100, 500)], ["id"]),
        ["id"])
    RowDelta(t, [], dels).commit()
    t = t.refresh()
    S._EQ_LITERAL_FILTER_CACHE.clear()
    df = t.to_df()
    assert "Join" not in df._jdf.queryExecution().executedPlan().toString()
    assert df.count() == 201  # 0..99, 500..599, and the NULL row
    assert df.filter("id is null").count() == 1

    # now delete NULL too: the NULL row must go
    dels2 = write_equality_deletes(
        t, spark.createDataFrame([(None,)], T.StructType([schema["id"]])),
        ["id"])
    RowDelta(t, [], dels2).commit()
    t = t.refresh()
    S._EQ_LITERAL_FILTER_CACHE.clear()
    assert t.to_df().filter("id is null").count() == 0


def test_eq_range_run_helper():
    """Unit coverage of the adjacency-run compression itself."""
    import datetime as dt

    from iceberg_spark.scan import _eq_key_runs

    assert _eq_key_runs(list(range(100, 200)), "long", 16) == [(100, 199)]
    assert _eq_key_runs([1, 2, 3, 7, 8, 50], "int", 16) == \
        [(1, 3), (7, 8), (50, 50)]
    # scattered: no compression -> None (keeps isin/probe tiers)
    assert _eq_key_runs(list(range(0, 100, 2)), "long", 16) is None
    # over the cap -> None
    assert _eq_key_runs([i * 3 for i in range(20)], "long", 16) is None
    # strings are not exactly rangeable
    assert _eq_key_runs(["a", "b"], "string", 16) is None
    # dates compress on day adjacency
    d0 = dt.date(2024, 1, 1)
    days = [d0 + dt.timedelta(days=i) for i in range(30)]
    assert _eq_key_runs(days, "date", 16) == [(days[0], days[-1])]
    assert _eq_key_runs(days[::2], "date", 16) is None
    # cap 0 disables the tier
    assert _eq_key_runs([1, 2, 3], "long", 0) is None
