"""The two benchmark workloads and the Python models their results are
checked against.

Each workload builds a table through the engine's public API, then yields
a fixed, seeded sequence of operations in rounds of the same mix. An
operation is ``(round, op class, thunk)``; the thunk runs the operation
and checks what it returned against the workload's model, raising
``Mismatch`` when they differ.
"""

from __future__ import annotations

import datetime
import functools
import os
import random
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql import types as T

from iceberg_spark import Catalog
from iceberg_spark import expressions as E
from iceberg_spark.murmur3 import hash_long


class Mismatch(Exception):
    """A result read back from the table differs from the model."""


def _check(what, got, expected):
    if got != expected:
        raise Mismatch(f"{what}: got {got!r}, expected {expected!r}")


def rounds(seconds: float, round_s: float) -> int:
    """Rounds of a workload's fixed mix in a run of about ``seconds``; at
    least two, so a traced run has a traced and an untraced round."""
    return max(2, round(seconds / round_s))


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


class _Workload:
    def catalog(self) -> Catalog:
        """A fresh catalog over the workload's warehouse."""
        return Catalog(self.spark, os.path.join(self.root, "warehouse"))

    def drop(self):
        """Drop the current table (set-up builds it more than once)."""
        self.catalog().drop_table(self.ident)


# ---------------------------------------------------------------------------
# scan_many_files
# ---------------------------------------------------------------------------

BASE_DAY = datetime.datetime(2024, 1, 1)
_P = 1_000_003


class ScanManyFiles(_Workload):
    """Read-mostly: point reads and full aggregates over a day-partitioned
    table of many small files, with a small append of a new day every
    eight point reads.

    Sizes against the engine's caps: 70 day manifests at the start and 79
    at the end of a 20 s run (above the 64-manifest switch to distributed
    planning, so full reads plan distributed; below the 256-manifest
    cache); 1,050 to 1,059 data files, far more than the 128-entry
    relation cache, which point reads (one file each) therefore mostly
    miss while the full-read path set is one entry that re-reads hit. A
    point read keeps one manifest and plans locally.
    ``commit.manifest.min-count-to-merge`` is set above the manifest count
    so appends never merge manifests (the default merges past 32).
    """

    name = "scan_many_files"
    DAYS = 70
    FILES_PER_DAY = 15
    ROWS_PER_FILE = 200
    POINT_ROWS = 50
    # one round: four times (append a day, eight point reads), then three
    # full reads; the first full read of a round is the only one that sees
    # a new snapshot, so the full-read median sits among re-reads
    APPENDS_PER_ROUND = 4
    POINTS_PER_APPEND = 8
    FULLS_PER_ROUND = 3
    ROUND_S = 10.0  # nominal round time at 4 cores

    SCHEMA = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("v", T.LongType()),
    ])
    PROPS = {"commit.manifest.min-count-to-merge": "100000"}

    def __init__(self, spark, root: str, seed: int):
        self.spark = spark
        self.root = root
        self.rng = random.Random(seed)
        self.mult = self.rng.randrange(1_000, 10_000)
        self.salt = self.rng.randrange(_P)
        self.table = None
        self.ident = None
        self.days = {}  # day index -> list of (first id, rows, sum of v)

    # -- model ------------------------------------------------------------
    def _values(self, ids: np.ndarray) -> np.ndarray:
        return (ids * self.mult + self.salt) % _P

    def _file_ids(self, day: int, slot: int) -> int:
        return (day * self.FILES_PER_DAY + slot) * self.ROWS_PER_FILE

    def _add_to_model(self, day: int, slot: int):
        lo = self._file_ids(day, slot)
        ids = np.arange(lo, lo + self.ROWS_PER_FILE, dtype=np.int64)
        self.days.setdefault(day, []).append(
            (lo, self.ROWS_PER_FILE, int(self._values(ids).sum())))

    def live_rows(self) -> int:
        return sum(n for files in self.days.values() for _lo, n, _s in files)

    def _totals(self):
        rows = self.live_rows()
        sum_v = sum(s for files in self.days.values() for _lo, _n, s in files)
        lo = min(f[0] for files in self.days.values() for f in files)
        hi = max(f[0] + f[1] - 1 for files in self.days.values() for f in files)
        return rows, sum_v, lo, hi

    # -- set-up -----------------------------------------------------------
    def build(self, rep: int):
        """Create the table and add one day of files per commit."""
        self.ident = f"bench.scan_many_files_{rep}"
        t = self.catalog().create_table(self.ident, self.SCHEMA,
                                        partition_by=["day(ts)"], properties=self.PROPS)
        self.days = {}
        arrow_schema = pa.schema([("id", pa.int64()),
                                  ("ts", pa.timestamp("us", tz="UTC")),
                                  ("v", pa.int64())])
        for day in range(self.DAYS):
            start = BASE_DAY + datetime.timedelta(days=day)
            ddir = os.path.join(t.location, "landing", f"ts_day={start:%Y-%m-%d}")
            os.makedirs(ddir)
            paths = []
            for slot in range(self.FILES_PER_DAY):
                lo = self._file_ids(day, slot)
                ids = np.arange(lo, lo + self.ROWS_PER_FILE, dtype=np.int64)
                ts = np.datetime64(start, "us") + (ids % 86_400) * np.timedelta64(1, "s")
                path = os.path.join(ddir, f"part-{slot:05d}.parquet")
                pq.write_table(pa.table({"id": ids, "ts": ts, "v": self._values(ids)},
                                        schema=arrow_schema), path)
                paths.append(path)
            t.add_files(paths)
            for slot in range(self.FILES_PER_DAY):
                self._add_to_model(day, slot)
        self.table = t

    # -- operations -------------------------------------------------------
    def _append(self):
        day = max(self.days) + 1
        lo = self._file_ids(day, 0)
        start = BASE_DAY + datetime.timedelta(days=day)
        epoch = int((start - datetime.datetime(1970, 1, 1)).total_seconds())
        df = self.spark.range(lo, lo + self.ROWS_PER_FILE).select(
            F.col("id"),
            F.timestamp_seconds(F.lit(epoch) + F.col("id") % 86_400).alias("ts"),
            ((F.col("id") * self.mult + self.salt) % _P).alias("v"))

        def run():
            self.table.append(df)
            self._add_to_model(day, 0)
        return run

    def _point_read(self):
        day = self.rng.choice(sorted(self.days))
        lo, n, _s = self.rng.choice(self.days[day])
        first = lo + self.rng.randrange(n - self.POINT_ROWS + 1)
        start = BASE_DAY + datetime.timedelta(days=day)
        ids = np.arange(first, first + self.POINT_ROWS, dtype=np.int64)
        expected = list(zip(ids.tolist(), self._values(ids).tolist()))
        expr = ((E.col("ts") >= start)
                & (E.col("ts") < start + datetime.timedelta(days=1))
                & (E.col("id") >= first)
                & (E.col("id") < first + self.POINT_ROWS))

        def run():
            rows = self.table.scan(filter=expr).df().select("id", "v").collect()
            _check(f"point read day {day} ids {first}+{self.POINT_ROWS}",
                   sorted((r.id, r.v) for r in rows), expected)
        return run

    def _full_read(self):
        def run():
            r = self.table.to_df().agg(F.count("*"), F.sum("v"), F.min("id"),
                                       F.max("id")).collect()[0]
            _check("full aggregate", tuple(r), self._totals())
        return run

    def warm_up(self):
        # no full read: it costs seconds, and the loop's first full read is
        # a cold one (after an append) whatever the warm-up does
        yield "append", self._append()
        for _ in range(self.POINTS_PER_APPEND):
            yield "point_read", self._point_read()

    def ops(self, seconds: float):
        for r in range(rounds(seconds, self.ROUND_S)):
            for _ in range(self.APPENDS_PER_ROUND):
                yield r, "append", self._append()
                for _ in range(self.POINTS_PER_APPEND):
                    yield r, "point_read", self._point_read()
            for _ in range(self.FULLS_PER_ROUND):
                yield r, "full_read", self._full_read()

    def verify(self):
        """Reload through a fresh catalog and check every day against the
        model."""
        t = self.catalog().load_table(self.ident)
        got = {
            (r.day - BASE_DAY.date()).days: (r.n, r.sv, r.lo, r.hi)
            for r in t.to_df().groupBy(F.to_date("ts").alias("day")).agg(
                F.count("*").alias("n"), F.sum("v").alias("sv"),
                F.min("id").alias("lo"), F.max("id").alias("hi")).collect()
        }
        expected = {
            day: (sum(f[1] for f in files), sum(f[2] for f in files),
                  min(f[0] for f in files), max(f[0] + f[1] - 1 for f in files))
            for day, files in self.days.items()
        }
        _check("reloaded table by day", got, expected)


# ---------------------------------------------------------------------------
# mor_churn
# ---------------------------------------------------------------------------


class MorChurn(_Workload):
    """Write-heavy: a merge-on-read table under append, range DELETE,
    MERGE and upsert, with reads after each row-level commit and
    maintenance (rewrite, then expire) closing every cycle.

    Sizes: 20,000 live rows throughout (each cycle adds 300 rows and
    deletes 300), bucket(8, id), so every write adds up to 8 files. Within
    a cycle the table grows from 8 data files to about 32 data files, 16
    position-delete files and 8 equality-delete files; maintenance brings
    it back to 8 data files and one snapshot, so every cycle starts from
    the same state and each operation class sees the same table shapes.
    Manifest merging stays at the engine default (past 32 manifests,
    never reached). After the DELETE, the MERGE and the upsert come a full
    read, then four point reads, each in a bucket the others have not
    read. Every read follows a commit; the reads after one commit share
    its snapshot but no entry of the engine's relation cache, and no
    earlier read has seen their data files (the MERGE and the upsert
    write data files in every bucket, and the DELETE follows maintenance
    and an append no read saw).
    """

    name = "mor_churn"
    ROWS = 20_000
    BUCKETS = 8
    APPEND_ROWS = 200
    DELETE_ROWS = 300
    MERGE_UPDATES = 50
    MERGE_INSERTS = 50
    UPSERT_UPDATES = 50
    UPSERT_INSERTS = 50
    POINTS_PER_COMMIT = 4
    CYCLE_S = 12.5  # nominal cycle time at 4 cores

    SCHEMA = T.StructType([
        T.StructField("id", T.LongType(), False),
        T.StructField("grp", T.IntegerType()),
        T.StructField("val", T.LongType()),
    ])
    PROPS = {
        "write.delete.mode": "merge-on-read",
        "write.update.mode": "merge-on-read",
        "write.merge.mode": "merge-on-read",
    }

    def __init__(self, spark, root: str, seed: int):
        self.spark = spark
        self.root = root
        self.rng = random.Random(seed)
        self.table = None
        self.ident = None
        self.rows = {}  # id -> (grp, val)
        self.lo = 0  # lowest id not yet range-deleted
        self.hi = 0  # next fresh id

    def live_rows(self) -> int:
        return len(self.rows)

    def _val(self) -> int:
        return self.rng.randrange(1_000_000_000)

    def _df(self, rows):
        return self.spark.createDataFrame(rows, self.SCHEMA)

    def _fresh(self, n):
        rows = [(i, i % 16, self._val()) for i in range(self.hi, self.hi + n)]
        self.hi += n
        return rows

    def _existing(self, n):
        # every id in [lo, hi) is live: deletes only remove ids below lo
        keys = self.rng.sample(range(self.lo, self.hi), n)
        return [(k, self.rows[k][0], self._val()) for k in keys]

    def _apply(self, rows):
        for k, g, v in rows:
            self.rows[k] = (g, v)

    # -- set-up -----------------------------------------------------------
    def build(self, rep: int):
        self.ident = f"bench.mor_churn_{rep}"
        t = self.catalog().create_table(self.ident, self.SCHEMA,
                                        partition_by=[f"bucket({self.BUCKETS}, id)"],
                                        properties=self.PROPS)
        self.rows, self.lo, self.hi = {}, 0, 0
        rows = self._fresh(self.ROWS)
        t.append(self._df(rows))
        self._apply(rows)
        self.table = t

    # -- operations -------------------------------------------------------
    def _append(self):
        rows = self._fresh(self.APPEND_ROWS)
        df = self._df(rows)

        def run():
            self.table.append(df)
            self._apply(rows)
        return run

    def _delete(self):
        lo, hi = self.lo, self.lo + self.DELETE_ROWS
        self.lo = hi

        def run():
            self.table.delete_where((E.col("id") >= lo) & (E.col("id") < hi))
            for k in range(lo, hi):
                self.rows.pop(k, None)
        return run

    def _merge(self):
        rows = self._existing(self.MERGE_UPDATES) + self._fresh(self.MERGE_INSERTS)
        df = self._df(rows)

        def run():
            (self.table.merge(df, on=["id"])
             .when_matched_update({"val": "s.val"})
             .when_not_matched_insert()
             .execute())
            self._apply(rows)
        return run

    def _upsert(self):
        rows = self._existing(self.UPSERT_UPDATES) + self._fresh(self.UPSERT_INSERTS)
        df = self._df(rows)

        def run():
            self.table.upsert(df, ["id"])
            self._apply(rows)
        return run

    def _full_read(self):
        def run():
            r = self.table.to_df().agg(F.count("*"), F.sum("val")).collect()[0]
            _check("full aggregate", tuple(r),
                   (len(self.rows), sum(v for _g, v in self.rows.values())))
        return run

    def _point_read(self, buckets_read: set):
        # a key in a bucket no other point read since the last commit has
        # touched, so none finds another's relation in the relation cache
        while True:
            key = self.rng.randrange(self.lo, self.hi)
            bucket = (hash_long(key) & 0x7FFFFFFF) % self.BUCKETS
            if bucket not in buckets_read:
                break
        buckets_read.add(bucket)

        def run():
            rows = self.table.scan(filter=E.col("id") == key).df().collect()
            _check(f"point read id {key}",
                   [(r.id, r.grp, r.val) for r in rows], [(key,) + self.rows[key]])
        return run

    def _maintain(self):
        def run():
            self.table.rewrite_data_files()
            self.table.expire_snapshots(older_than_ms=int(time.time() * 1000) + 1,
                                        retain_last=1)
        return run

    def _cycle(self):
        # thunks are made lazily, so each sees the model after the previous
        # operation ran
        yield "append", self._append
        for op, make in (("delete", self._delete), ("merge", self._merge),
                         ("upsert", self._upsert)):
            yield op, make
            yield "full_read", self._full_read
            buckets_read = set()
            for _ in range(self.POINTS_PER_COMMIT):
                yield "point_read", functools.partial(self._point_read, buckets_read)
        yield "maint", self._maintain

    def warm_up(self):
        for op, make in self._cycle():
            yield op, make()

    def ops(self, seconds: float):
        for r in range(rounds(seconds, self.CYCLE_S)):
            for op, make in self._cycle():
                yield r, op, make()

    def verify(self):
        t = self.catalog().load_table(self.ident)
        got = {r.id: (r.grp, r.val) for r in t.to_df().collect()}
        if got != self.rows:
            missing = len(self.rows.keys() - got.keys())
            extra = len(got.keys() - self.rows.keys())
            changed = sum(1 for k in got.keys() & self.rows.keys() if got[k] != self.rows[k])
            raise Mismatch(f"reloaded table: {missing} rows missing, {extra} extra, "
                           f"{changed} with other values")


WORKLOADS = {w.name: w for w in (ScanManyFiles, MorChurn)}
