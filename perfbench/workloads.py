"""The workloads: seeded inputs, table bootstrap, closed loop, checks.

Each workload is a closed loop with one client: the next operation is
sent only after the previous one returns. ``step`` runs the next
operation of the workload's fixed sequence, and the loop stops at the
first operation boundary after ``seconds``, once every timed operation
kind has run at least once.

Every call into the program goes through the public lake API:
``PaimonLakeCatalog`` / ``PaimonLakeTable`` reads, ``write_lake_append``,
``write_lake_pk_append``, ``compact_lake`` and ``expire_lake_snapshots``.
"""

from __future__ import annotations

import datetime
import os
import time
import traceback

import numpy as np

from perfbench import data
from perfbench.trace import list_dir

WARM_HEAVY = 2


def _day(offset: int) -> datetime.date:
    return data.DAY0 + datetime.timedelta(days=int(offset))


def _agg(df, *exprs):
    return df.selectExpr(*exprs).collect()[0]


def _full_scan(df):
    """Full merged scan: row count and order-independent checksum."""
    row = _agg(df, "count(*) AS n", f"coalesce(sum({data.CHECKSUM_SQL}), 0) AS h")
    return (int(row["n"]), int(row["h"])), int(row["n"])


def _row_tuple(row: dict) -> tuple:
    """A row as comparable plain values; timestamps as UTC epoch micros."""
    ts = row["ts"]
    if ts.tzinfo is None:
        ts = ts.replace(tzinfo=datetime.timezone.utc)
    delta = ts - datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)
    micros = (delta.days * 86_400 + delta.seconds) * 1_000_000 + delta.microseconds
    return (row["day"], int(row["k"]), micros, int(row["i"]), float(row["d"]), row["s"])


class Workload:
    """Shared flow. A subclass defines ``SIZES`` (the measured table),
    ``TINY`` (the warm-up table), ``WARM_STEPS`` (steps that run every
    timed operation kind once), ``light`` and ``heavy`` (the operation
    kinds behind ``light_cpu_ms`` and ``heavy_cpu_ms``), and the methods
    ``bootstrap`` and ``grow`` (building the table in set-up), ``step``
    and ``verify``."""

    name = ""
    pk = False
    SIZES: dict = {}
    TINY: dict = {}
    WARM_STEPS = 1
    light = heavy = ""

    def __init__(self, spark, rec, seed: int, work: str, tiny: bool = False):
        self.c = self.TINY if tiny else self.SIZES
        self.spark = spark
        self.rec = rec
        self.seed = seed
        self.work = work
        self.table_path = None
        self.failures = []
        self.staged_bytes = 0
        self._seen = {}
        self._before_loop = set()

    # -- program calls --

    def catalog_table(self, rep_dir: str) -> str:
        from paimon_python_spark.paimon_lake import PaimonLakeCatalog

        catalog = PaimonLakeCatalog.create({"warehouse": os.path.join(rep_dir, "wh")})
        catalog.create_database("bench", ignore_if_exists=True)
        schema = self.spark.read.parquet(self.base_path).schema
        return catalog.create_table(
            "bench.t",
            schema,
            partition_keys=["day"],
            primary_keys=["day", "k"] if self.pk else None,
            options={"bucket": str(self.c["buckets"])} if self.pk else {},
        ).table_path

    def commit(self, path: str, rows: int, kind_col=None):
        from paimon_python_spark.paimon_lake import write_lake_append, write_lake_pk_append

        df = self.spark.read.parquet(path)
        if not self.pk:
            fn = lambda: write_lake_append(self.table_path, df)
        else:
            fn = lambda: write_lake_pk_append(self.table_path, df, row_kind_col=kind_col)
        self.rec.write("commit", self.table_path, fn, rows_in=rows)
        if self.rec.phase == "loop":
            self.staged_bytes += os.path.getsize(path)
            self._note_new_files()

    def compact(self):
        from paimon_python_spark.paimon_lake import compact_lake

        self.rec.write("compact", self.table_path, lambda: compact_lake(self.table_path))
        if self.rec.phase == "loop":
            self._note_new_files()

    def expire(self, keep: int):
        from paimon_python_spark.paimon_lake import expire_lake_snapshots

        self.rec.write(
            "expire",
            self.table_path,
            lambda: expire_lake_snapshots(self.table_path, keep_last_n=keep),
        )

    def read(self, kind: str, configure, action, expected):
        """Run one read and check it; a mismatch is a failed operation."""
        from paimon_python_spark.paimon_lake import PaimonLakeTable

        def make_read():
            return configure(PaimonLakeTable(self.table_path).new_read_builder()).new_read()

        got, op = self.rec.read(kind, make_read, action,
                                live_files=lambda: self.live()["files"])
        if got != expected:
            op["ok"] = False
            self.failures.append(f"{kind}: got {got!r}, expected {expected!r}")

    def live(self) -> dict:
        """Data files the latest snapshot references, and their bytes."""
        from paimon_python_spark.paimon_import import plan_paimon_files

        entries = plan_paimon_files(self.table_path)
        return {"files": len(entries), "bytes": sum(e.file_size for e in entries)}

    # -- amplification --

    def _note_new_files(self):
        for p, size in list_dir(self.table_path).items():
            if p not in self._before_loop:
                self._seen.setdefault(p, size)

    def write_amp(self) -> float:
        """Bytes of files first seen in the table directory during the
        loop over bytes of the staged input committed in it."""
        return sum(self._seen.values()) / self.staged_bytes if self.staged_bytes else 0.0

    def space_amp(self) -> float:
        """Table-directory bytes over the model's live rows written once
        as parquet, at the end of the run."""
        table_bytes = sum(list_dir(self.table_path).values())
        live = data.parquet_bytes(self.live_rows(), os.path.join(self.work, "live.parquet"))
        return table_bytes / live

    # -- the run --

    def grow(self):
        pass

    def prepare_model(self):
        pass

    def ready(self) -> bool:
        return True

    def warm_up(self, rep_dir: str):
        """Bootstrap and one operation of every timed kind, untimed."""
        self.bootstrap(rep_dir)
        self.grow()
        self.prepare_model()
        self.rec.phase = "loop"
        for _ in range(self.WARM_STEPS):
            self.step()
        self.rec.phase = "verify"

    def warm_heavy(self):
        """Untimed steps on the measured table until ``WARM_HEAVY`` heavy
        operations have run. Even after the tiny-table warm-up, the CPU
        time of an operation falls steeply over its first few runs on
        the measured table, as the JVM compiles hot code; past them the
        fall is slow, so a timed loop that starts there depends less on
        how many operations a busy host lets it finish."""
        first = len(self.rec.ops)
        while sum(o["kind"] == self.heavy for o in self.rec.ops[first:]) < WARM_HEAVY:
            self.step()

    def run_loop(self, seconds: float) -> float:
        self.rec.phase = "loop"
        self._before_loop = set(list_dir(self.table_path))
        t0 = time.perf_counter()
        try:
            while self.step():
                if time.perf_counter() - t0 >= seconds and self.ready():
                    break
        except Exception:
            # a failed call leaves the table state unknown: stop the loop
            # and let the failure count against the run
            traceback.print_exc()
            self.failures.append(f"{self.rec.ops[-1]['kind']} raised")
        elapsed = time.perf_counter() - t0
        self.rec.phase = "verify"
        return elapsed


class CdcIngest(Workload):
    """Changelog batches into a fixed-bucket PK lake; compaction and
    snapshot expiry after every ``commits_per_cycle`` commits."""

    name = "cdc_ingest"
    pk = True
    SIZES = {"base_rows": 100_000, "days": 8, "buckets": 4, "batch_rows": 5_000,
             "commits_per_cycle": 2, "keep_last_n": 2, "max_batches": 60}
    TINY = dict(SIZES, base_rows=2_000, batch_rows=200, commits_per_cycle=1,
                max_batches=1)
    WARM_STEPS = 2
    light, heavy = "commit", "compact"

    def bootstrap(self, rep_dir: str):
        c = self.c
        self.rep_dir = rep_dir
        keys = np.arange(c["base_rows"], dtype=np.int64)
        self.base_path = data.stage(
            data.rows(data.rng_for(self.seed, 1), keys, keys % c["days"]),
            os.path.join(rep_dir, "base.parquet"),
        )
        self.table_path = self.catalog_table(rep_dir)
        self.commit(self.base_path, c["base_rows"])

    def grow(self):
        """Stage the changelog batches the loop commits."""
        import pyarrow as pa

        c = self.c
        self.batches = []
        top = c["base_rows"]
        n_upd = int(c["batch_rows"] * 0.75)
        n_ins = int(c["batch_rows"] * 0.20)
        n_del = c["batch_rows"] - n_upd - n_ins
        for j in range(c["max_batches"]):
            r = data.rng_for(self.seed, 2, j)
            # updates lean toward recent (high) keys; deletes are uniform
            upd = np.unique(top - 1 - (top * r.random(n_upd) ** 3).astype(np.int64))
            dele = np.setdiff1d(np.unique(r.integers(0, top, n_del)), upd)
            ins = np.arange(top, top + n_ins, dtype=np.int64)
            top += n_ins
            keys = np.concatenate([upd, ins, dele])
            kinds = np.concatenate(
                [np.full(len(upd), 2), np.zeros(len(ins)), np.full(len(dele), 3)]
            ).astype(np.int32)
            t = data.rows(r, keys, keys % c["days"]).append_column("rk", pa.array(kinds))
            path = os.path.join(self.rep_dir, f"batch-{j:04d}.parquet")
            self.batches.append((data.stage(t, path), t.num_rows))
        self.committed = 0
        self.checkpoints = []  # (table bytes, commits) after each expiry

    def step(self) -> bool:
        c = self.c
        if self.committed and self.committed % c["commits_per_cycle"] == 0 and (
            not self.checkpoints or self.checkpoints[-1][1] != self.committed
        ):
            self.compact()
            self.expire(c["keep_last_n"])
            self.checkpoints.append(
                (sum(list_dir(self.table_path).values()), self.committed)
            )
            return True
        if self.committed >= len(self.batches):
            return False
        path, n = self.batches[self.committed]
        self.commit(path, n, kind_col="rk")
        self.committed += 1
        return True

    def ready(self) -> bool:
        return bool(self.rec.loop_ops("compact"))

    def _state(self, commits: int):
        return data.lww_state(self.base_path, [p for p, _ in self.batches[:commits]], "rk")

    def verify(self):
        live = self._state(self.committed)
        self.read("scan", lambda b: b, _full_scan, (live.num_rows, data.row_checksum(live)))

    def space_amp(self) -> float:
        """At the last compaction-and-expiry boundary, so the figure does
        not depend on where in a cycle the run stopped."""
        table_bytes, commits = self.checkpoints[-1]
        live = data.parquet_bytes(self._state(commits), os.path.join(self.work, "live.parquet"))
        return table_bytes / live


class PkRead(Workload):
    """Merge-on-read over six overlapping level-0 sorted runs per
    (partition, bucket), the base commit plus five upsert runs: full
    merged scans, projected scans with a value filter, and point lookups
    by the full primary key. Writes nothing while timed."""

    name = "pk_read"
    pk = True
    SIZES = {"base_rows": 200_000, "days": 4, "buckets": 2, "runs": 5,
             "run_rows": 20_000, "lookup_keys": 256,
             "rotation": ("lookup", "scan", "lookup", "lookup", "scan", "lookup",
                          "proj")}
    TINY = dict(SIZES, base_rows=2_000, runs=1, run_rows=200, lookup_keys=10,
                rotation=("lookup", "scan", "proj"))
    WARM_STEPS = 3
    light, heavy = "lookup", "scan"

    def bootstrap(self, rep_dir: str):
        c = self.c
        self.rep_dir = rep_dir
        keys = np.arange(c["base_rows"], dtype=np.int64)
        self.base_path = data.stage(
            data.rows(data.rng_for(self.seed, 1), keys, keys % c["days"]),
            os.path.join(rep_dir, "base.parquet"),
        )
        self.table_path = self.catalog_table(rep_dir)
        self.commit(self.base_path, c["base_rows"])

    def grow(self):
        """Stage and commit the overlapping upsert runs."""
        c = self.c
        self.runs = []
        for j in range(c["runs"]):
            r = data.rng_for(self.seed, 2, j)
            ks = np.unique(r.integers(0, c["base_rows"], c["run_rows"]))
            path = os.path.join(self.rep_dir, f"run-{j}.parquet")
            self.runs.append(data.stage(data.rows(r, ks, ks % c["days"]), path))
            self.commit(path, ks.size)
        self.steps = self.n_lookups = 0

    def prepare_model(self):
        """Expected answers for every read of the rotation."""
        import pyarrow as pa
        import pyarrow.compute as pc

        c = self.c
        self.model = data.lww_state(self.base_path, self.runs)
        self.full_expected = (self.model.num_rows, data.row_checksum(self.model))
        sel = self.model["i"].to_numpy() < 1_000
        k = self.model["k"].to_numpy()[sel]
        d = self.model["d"].to_numpy()[sel]
        self.proj_expected = (int(sel.sum()), int(k.sum()), int((d * 1024).astype(np.int64).sum()))
        rng = data.rng_for(self.seed, 3)
        n = c["lookup_keys"]
        present = rng.choice(self.model["k"].to_numpy(), int(n * 0.9), replace=False)
        absent = c["base_rows"] + rng.choice(10 * c["base_rows"], n - present.size, replace=False)
        keys = np.concatenate([present, absent])
        rng.shuffle(keys)
        hits = self.model.filter(pc.is_in(self.model["k"], value_set=pa.array(keys)))
        by_key = {row["k"]: row for row in hits.to_pylist()}
        self.lookups = [(int(x), by_key.get(int(x))) for x in keys]

    def full_scan(self):
        self.read("scan", lambda b: b, _full_scan, self.full_expected)

    def projected_scan(self):
        def configure(b):
            pb = b.new_predicate_builder()
            return b.with_filter(pb.less_than("i", 1_000)).with_projection(["k", "d"])

        def action(df):
            row = _agg(df, "count(*) AS n", "coalesce(sum(k), 0) AS sk",
                       "coalesce(sum(CAST(d * 1024 AS BIGINT)), 0) AS sd")
            return (int(row["n"]), int(row["sk"]), int(row["sd"])), int(row["n"])

        self.read("proj", configure, action, self.proj_expected)

    def lookup(self, n: int):
        key, want = self.lookups[n % len(self.lookups)]
        day = _day(key % self.c["days"])

        def configure(b):
            pb = b.new_predicate_builder()
            return b.with_filter(pb.and_predicates([pb.equal("day", day), pb.equal("k", key)]))

        def action(df):
            got = [_row_tuple(r.asDict()) for r in df.collect()]
            return got, len(got)

        self.read("lookup", configure, action, [_row_tuple(want)] if want else [])

    def step(self) -> bool:
        """The next read of the fixed rotation."""
        rotation = self.c["rotation"]
        kind = rotation[self.steps % len(rotation)]
        self.steps += 1
        if kind == "scan":
            self.full_scan()
        elif kind == "proj":
            self.projected_scan()
        else:
            self.lookup(self.n_lookups)
            self.n_lookups += 1
        return True

    def ready(self) -> bool:
        return all(self.rec.loop_ops(k) for k in ("scan", "proj", "lookup"))

    def verify(self):
        pass

    def live_rows(self):
        return self.model


class AppendLog(Workload):
    """An append-only event log: each step appends a batch to the newest
    day, then aggregates a filtered window of recent days."""

    name = "append_log"
    pk = False
    SIZES = {"base_rows": 200_000, "days": 30, "batch_rows": 10_000,
             "window_days": 4, "min_i": 5_000, "max_batches": 60}
    TINY = dict(SIZES, base_rows=2_000, batch_rows=200, max_batches=1)
    WARM_STEPS = 1
    light, heavy = "commit", "agg"

    def bootstrap(self, rep_dir: str):
        c = self.c
        self.rep_dir = rep_dir
        rng = data.rng_for(self.seed, 1)
        keys = np.arange(c["base_rows"], dtype=np.int64)
        self.base_path = data.stage(
            data.rows(rng, keys, rng.integers(0, c["days"], c["base_rows"])),
            os.path.join(rep_dir, "base.parquet"),
        )
        self.table_path = self.catalog_table(rep_dir)
        self.commit(self.base_path, c["base_rows"])

    def grow(self):
        """Stage the batches the loop appends to the newest day."""
        c = self.c
        self.batches = []
        top = c["base_rows"]
        for j in range(c["max_batches"]):
            ks = np.arange(top, top + c["batch_rows"], dtype=np.int64)
            top += c["batch_rows"]
            t = data.rows(data.rng_for(self.seed, 2, j), ks, np.full(ks.size, c["days"] - 1))
            self.batches.append(
                data.stage(t, os.path.join(self.rep_dir, f"batch-{j:04d}.parquet"))
            )
        self.appended = 0

    def step(self) -> bool:
        c = self.c
        if self.appended >= len(self.batches):
            return False
        self.commit(self.batches[self.appended], c["batch_rows"])
        self.appended += 1
        lo, hi = c["days"] - c["window_days"], c["days"] - 1
        expected = data.window_aggregate(
            [self.base_path] + self.batches[: self.appended], lo, hi, c["min_i"]
        )

        def configure(b):
            pb = b.new_predicate_builder()
            return b.with_filter(pb.and_predicates([
                pb.between("day", _day(lo), _day(hi)),
                pb.greater_or_equal("i", c["min_i"]),
            ]))

        def action(df):
            from pyspark.sql import functions as F

            got = {
                r[0]: (int(r[1]), int(r[2]), float(r[3]), float(r[4]))
                for r in df.groupBy("day").agg(
                    F.count("*"), F.sum("i"), F.min("d"), F.max("d")
                ).collect()
            }
            return got, sum(v[0] for v in got.values())

        self.read("agg", configure, action, expected)
        return True

    def verify(self):
        pass

    def live_rows(self):
        import duckdb

        con = duckdb.connect()
        try:
            return con.execute(
                "SELECT day, k, ts, i, d, s FROM read_parquet("
                + data.parquet_list([self.base_path] + self.batches[: self.appended])
                + ")"
            ).arrow()
        finally:
            con.close()


WORKLOADS = {w.name: w for w in (CdcIngest, PkRead, AppendLog)}
