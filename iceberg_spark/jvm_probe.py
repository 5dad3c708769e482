"""Codegen-friendly NOT-IN filters for large equality-delete key sets.

The MoR equality-delete fast paths have a cost cliff between "small"
and "large" key sets:

- ``Column.isin(keys)`` builds one ``Literal`` per key through py4j
  (~0.65 ms each) and Catalyst re-walks the 15k-literal ``In`` tree on
  EVERY query (~0.5 s of driver time at 15k keys).
- The distributed anti-join pays a delete-file read job, a broadcast
  build, and a join stage per query (~0.2-0.3 s of fixed overhead that
  does not shrink with a faster scan).
- Catalyst's own ``InSet`` probes a boxed Scala set (~220 ns/row
  measured at sf1).

This module builds the filter the way whole-stage codegen wants it: a
single ``StaticInvoke`` of ``SortedSetProbe.containsLong/containsUtf8``
(compiled into the engine's helper jar, see ``jvm_crypto``) over a
sorted primitive array that rides the plan as one ``ObjectType``
literal. One expression node, one binary-search call per row, ordinary
plan serialization to executors. Measured at sf1 (1.5M rows, 15k
delete keys): scan+agg ratio vs the no-delete twin drops from 2.4x
(anti-join) to ~1.25x.

Everything degrades loudly-but-safely: any failure to compile, attach,
or construct returns None and the caller keeps the anti-join.
Disable explicitly with ICEBERG_SPARK_JVM_PROBE=0.
"""

from __future__ import annotations

import os
import sys

PROBE_CLASS = "org.iceberg_spark.util.SortedSetProbe"

_session_state: dict = {}  # id(sparkContext) -> bool (jar usable)


def available(spark) -> bool:
    """True when the session's JVM can resolve the probe class. Builds
    and attaches the shared helper jar on first call (same jar as the
    crypto helpers — one javac per source version per user), which also
    carries `org.iceberg_spark.util.FileStatuses`, the one-call
    leaf-file array of relations.files_df."""
    if os.environ.get("ICEBERG_SPARK_JVM_PROBE", "").lower() in (
            "0", "false", "off"):
        return False
    sc = spark.sparkContext
    key = id(sc)
    hit = _session_state.get(key)
    if hit is not None:
        return hit
    ok = False
    from . import jvm_crypto

    jar = jvm_crypto._build_jar()
    if jar is not None:
        jvm = spark._jvm
        try:
            sc._jsc.addJar(jar)  # executors fetch on first task
        except Exception:  # noqa: BLE001
            pass
        try:
            loader = (jvm.java.lang.Thread.currentThread()
                      .getContextClassLoader())
            loader.addURL(jvm.java.io.File(jar).toURI().toURL())
        except Exception:  # noqa: BLE001
            pass
        try:
            loader = (jvm.java.lang.Thread.currentThread()
                      .getContextClassLoader())
            jvm.java.lang.Class.forName(PROBE_CLASS, True, loader)
            ok = True
        except Exception as e:  # noqa: BLE001
            print("iceberg_spark: JVM set-probe unavailable (large "
                  f"eq-delete sets keep the anti-join): "
                  f"{type(e).__name__}", file=sys.stderr)
    _session_state[key] = ok
    return ok


def _to_seq(jvm, items):
    al = jvm.java.util.ArrayList()
    for x in items:
        al.add(x)
    return (jvm.scala.jdk.CollectionConverters
            .ListHasAsScala(al).asScala().toSeq())


def not_in_filter(spark, col_name: str, keys, ftype: str, saw_null: bool):
    """A Column equivalent to the eq-delete anti-join for a single key
    column: rows survive iff their key is NOT in `keys` (NULL keys
    survive unless the delete set carried a NULL — eqNullSafe parity
    with the join path). Returns None when the type is unsupported or
    the JVM helper is unavailable; exceptions never escape."""
    if ftype not in ("int", "long", "string", "date"):
        return None
    try:
        if not available(spark):
            return None
        return _build(spark, col_name, keys, ftype, saw_null)
    except Exception as e:  # noqa: BLE001 — fallback is always correct
        print(f"iceberg_spark: set-probe filter build failed "
              f"({type(e).__name__}), using anti-join", file=sys.stderr)
        return None


def pos_covered_filter(spark, pos_ranges, path_lit=lambda fp: fp,
                       path_expr="_metadata.file_path",
                       pos_expr="_metadata.row_index"):
    """A Column that is TRUE for rows whose (file, position) lies in a
    deleted position run — the compiled twin of _ranges_filter's
    path+pos chain. `pos_ranges` is [(file_path, lo, hi)] with
    inclusive run bounds; `path_lit` maps a manifest path to the form
    the `path_expr` column carries at runtime (URI or plain). Encoded
    as (file_ordinal << 40) | position over the sorted path array, so
    whole-stage codegen emits ONE static call per row (memoized path
    ordinal + binary search) instead of a per-file string-equality
    chain. Returns None when unavailable/ineligible; the caller keeps
    the expression-chain filter."""
    try:
        if not available(spark):
            return None
        return _build_covered(spark, pos_ranges, path_lit, path_expr,
                              pos_expr)
    except Exception as e:  # noqa: BLE001 — fallback is always correct
        print(f"iceberg_spark: pos-covered probe build failed "
              f"({type(e).__name__}), using expression filter",
              file=sys.stderr)
        return None


def _build_covered(spark, pos_ranges, path_lit, path_expr, pos_expr):
    from pyspark.sql.classic.column import Column as CCol

    # Python str sort = code-point order = UTF-8 byte order (UTF-8 is
    # order-preserving), so these ordinals match the UTF8String sort
    # fromStrings applies JVM-side
    paths = sorted({path_lit(fp) for fp, _, _ in pos_ranges})
    if len(paths) >= (1 << 23):
        return None
    ordm = {p: i for i, p in enumerate(paths)}
    runs = []
    for fp, lo, hi in pos_ranges:
        if lo < 0 or hi >= (1 << 40) or lo > hi:
            return None  # outside the encoding's position budget
        base = ordm[path_lit(fp)] << 40
        runs.append((base | int(lo), base | int(hi)))
    runs.sort()
    for i in range(1, len(runs)):
        if runs[i][0] <= runs[i - 1][1]:
            return None  # overlapping runs: binary search would misread
    jvm = spark._jvm
    loader = jvm.java.lang.Thread.currentThread().getContextClassLoader()
    cls = jvm.java.lang.Class.forName(PROBE_CLASS, True, loader)
    probe = jvm.org.iceberg_spark.util.SortedSetProbe
    arr_p = probe.fromStrings(list(paths))
    # both arrays are already ascending (disjoint runs, ordinal-major
    # encoding), so parseCsvLongs' sort is a no-op and alignment holds
    arr_s = probe.parseCsvLongs(",".join(str(s) for s, _ in runs))
    arr_e = probe.parseCsvLongs(",".join(str(e) for _, e in runs))
    parser = spark._jsparkSession.sessionState().sqlParser()
    lit = jvm.org.apache.spark.sql.catalyst.expressions.Literal
    si = jvm.org.apache.spark.sql.catalyst.expressions.objects \
        .StaticInvoke(
            cls, jvm.org.apache.spark.sql.types.DataTypes.BooleanType,
            "coveredFilePos",
            _to_seq(jvm, [lit.fromObject(arr_p), lit.fromObject(arr_s),
                          lit.fromObject(arr_e),
                          parser.parseExpression(path_expr),
                          parser.parseExpression(pos_expr)]),
            _to_seq(jvm, []),
            True,   # propagateNull (metadata columns are never NULL)
            False,  # returnNullable
            True,   # isDeterministic
            jvm.scala.Option.empty())
    return CCol(jvm.org.apache.spark.sql.classic.ExpressionUtils
                .column(si))


def _build(spark, col_name, keys, ftype, saw_null):
    from pyspark.sql import functions as F
    from pyspark.sql.classic.column import Column as CCol

    jvm = spark._jvm
    loader = jvm.java.lang.Thread.currentThread().getContextClassLoader()
    cls = jvm.java.lang.Class.forName(PROBE_CLASS, True, loader)
    probe = jvm.org.iceberg_spark.util.SortedSetProbe
    parser = spark._jsparkSession.sessionState().sqlParser()
    quoted = "`" + col_name.replace("`", "``") + "`"
    if ftype == "string":
        arr = probe.fromStrings([str(k) for k in keys])
        fn = "containsUtf8"
        child = parser.parseExpression(quoted)
    elif ftype == "date":
        # probe on epoch days (the internal date representation)
        import datetime as _dt

        epoch = _dt.date(1970, 1, 1)
        arr = probe.parseCsvLongs(",".join(
            str((k - epoch).days) for k in keys))
        fn = "containsLong"
        child = parser.parseExpression(
            f"CAST(DATEDIFF({quoted}, DATE '1970-01-01') AS BIGINT)")
    else:
        # int widens to bigint losslessly; one CSV string crosses py4j
        arr = probe.parseCsvLongs(",".join(str(int(k)) for k in keys))
        fn = "containsLong"
        child = (parser.parseExpression(quoted) if ftype == "long"
                 else parser.parseExpression(
                     f"CAST({quoted} AS BIGINT)"))
    lit = jvm.org.apache.spark.sql.catalyst.expressions.Literal \
        .fromObject(arr)
    si = jvm.org.apache.spark.sql.catalyst.expressions.objects \
        .StaticInvoke(
            cls, jvm.org.apache.spark.sql.types.DataTypes.BooleanType,
            fn, _to_seq(jvm, [lit, child]), _to_seq(jvm, []),
            True,   # propagateNull: NULL key -> NULL, handled below
            False,  # returnNullable
            True,   # isDeterministic
            jvm.scala.Option.empty())
    contains = CCol(jvm.org.apache.spark.sql.classic.ExpressionUtils
                    .column(si))
    c = F.col(col_name)
    if saw_null:
        # a NULL delete key deletes NULL data rows (eqNullSafe parity)
        return c.isNotNull() & ~contains
    return c.isNull() | ~contains
