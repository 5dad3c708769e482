"""JVM-native parquet modular encryption (jvm_crypto.py): encrypted
tables read through Spark's vectorized reader and write through the
native parquet writer when the compiled KmsClient is on the session
classpath — identical plans to plaintext — with the pyarrow mapInPandas
paths as the probed fallback. Interop is bidirectional: either writer's
files decrypt through either reader (pyarrow CryptoFactory and
parquet-mr KeyToolkit share the PKMT1 key-material spec)."""

import glob
import os

import pytest
from pyspark.sql import functions as F

from iceberg_spark import jvm_crypto as JC
from iceberg_spark import parquet_crypto as PC
from iceberg_spark.expressions import col
from iceberg_spark.table import Catalog

KEY = bytes(range(16))


def test_probe_available_in_suite_session(spark):
    # conftest puts the jar on spark.jars, so the probe must pass here
    assert JC.available(spark) is True


def test_native_plan_and_python_fallback_agree(spark, tmp_path,
                                               monkeypatch):
    PC.register_key("jvmk", KEY)
    cat = Catalog(spark, str(tmp_path / "wh"))
    df = spark.range(0, 300).selectExpr("id", "id % 3 as g",
                                        "cast(id as string) as s")
    t = cat.create_table("db.j", df.schema, properties={
        PC.KEY_ID_PROP: "jvmk", "write.delete.mode": "merge-on-read"})
    t.append(df)
    t.delete_where(col("id") < 30, mode="merge-on-read")
    t = cat.load_table("db.j")

    # native path: the scan is a real FileScan (vectorized, codegen),
    # not a mapInPandas python plan
    sdf = t.to_df()
    plan = sdf._jdf.queryExecution().executedPlan().toString()
    assert "FileScan parquet" in plan
    assert "MapInPandas" not in plan
    native = sorted(r["id"] for r in sdf.collect())

    # filter pushdown reaches the (decrypting) scan
    fplan = (t.scan(filter=col("id") >= 250).df()
             ._jdf.queryExecution().executedPlan().toString())
    assert "PushedFilters: [" in fplan and "GreaterThanOrEqual" in fplan

    # python fallback returns the identical result on the same files
    monkeypatch.setenv("ICEBERG_SPARK_JVM_CRYPTO", "0")
    pyr = sorted(r["id"] for r in t.to_df().collect())
    assert pyr == native == list(range(30, 300))


def test_jvm_written_files_read_by_pyarrow(spark, tmp_path):
    """collect_data_files / footer stats run through pyarrow's
    decrypting reader over NATIVE-writer files — the wrap formats must
    round-trip both ways."""
    PC.register_key("jvmw", KEY)
    cat = Catalog(spark, str(tmp_path / "wh"))
    df = spark.range(0, 100).selectExpr("id", "cast(id*2 as double) as v")
    t = cat.create_table("db.w", df.schema,
                         properties={PC.KEY_ID_PROP: "jvmw"})
    t.append(df)
    t = cat.load_table("db.w")
    files = t.scan().plan_files().files
    assert files
    for e in files:
        assert open(e.file.file_path, "rb").read(4) == b"PARE"
        # footer stats were collected through the pyarrow decrypt path
        assert e.file.stats["id"][0] is not None
    # and pruning on those stats still works
    assert len(t.scan(filter=col("id") > 10_000).plan_files().files) == 0


def test_python_written_files_read_by_jvm(spark, tmp_path):
    """Files written by the pyarrow fallback writer read through the
    native reader (the upgrade path for tables written before the JVM
    plane existed)."""
    import os as _os

    _os.environ["ICEBERG_SPARK_JVM_CRYPTO"] = "0"
    try:
        PC.register_key("jvmr", KEY)
        cat = Catalog(spark, str(tmp_path / "wh"))
        df = spark.range(0, 100).selectExpr("id")
        t = cat.create_table("db.r", df.schema,
                             properties={PC.KEY_ID_PROP: "jvmr"})
        t.append(df)  # pyarrow writer
    finally:
        _os.environ.pop("ICEBERG_SPARK_JVM_CRYPTO", None)
    t = cat.load_table("db.r")
    sdf = t.to_df()
    plan = sdf._jdf.queryExecution().executedPlan().toString()
    assert "FileScan parquet" in plan  # native reader over pyarrow files
    assert sdf.count() == 100


def _fresh_tmpdir(monkeypatch, path):
    import tempfile

    path.mkdir()
    monkeypatch.setenv("TMPDIR", str(path))
    monkeypatch.setattr(tempfile, "tempdir", None)  # gettempdir re-reads


def test_helper_jar_cached_across_temp_dirs(tmp_path, monkeypatch):
    """The compiled jar lives in the per-user cache, so a process with a
    fresh TMPDIR reuses it instead of running javac again."""
    import subprocess

    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    _fresh_tmpdir(monkeypatch, tmp_path / "t1")
    monkeypatch.setattr(JC, "_jar_path_cache", [])
    first = JC._build_jar()
    if first is None:
        pytest.skip("no JDK to compile the helper jar")
    assert first.startswith(str(tmp_path / "cache"))
    # only the published jar remains: the private build dir is gone
    assert os.listdir(os.path.dirname(first)) == ["iceberg-spark-kms.jar"]

    _fresh_tmpdir(monkeypatch, tmp_path / "t2")
    monkeypatch.setattr(JC, "_jar_path_cache", [])
    calls = []
    real_run = subprocess.run

    def counting_run(*a, **kw):
        calls.append(a)
        return real_run(*a, **kw)

    monkeypatch.setattr(subprocess, "run", counting_run)
    assert JC._build_jar() == first
    assert calls == []


def test_helper_jar_falls_back_to_temp_dir(tmp_path, monkeypatch):
    blocker = tmp_path / "not-a-dir"
    blocker.write_text("")
    monkeypatch.setenv("XDG_CACHE_HOME", str(blocker))
    _fresh_tmpdir(monkeypatch, tmp_path / "t")
    monkeypatch.setattr(JC, "_jar_path_cache", [])
    jar = JC._build_jar()
    if jar is None:
        pytest.skip("no JDK to compile the helper jar")
    assert jar.startswith(str(tmp_path / "t"))
    assert os.path.exists(jar)
