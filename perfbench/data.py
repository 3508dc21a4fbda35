"""Seeded inputs and the independent correctness model.

Inputs are generated with NumPy from the seed and staged as parquet with
pyarrow, so the program under test only ever receives staged files. The
model reads the same staged files back with DuckDB; it shares no code
with the program.

Every table has the schema ``day DATE, k BIGINT, ts TIMESTAMP, i INT,
d DOUBLE, s STRING`` (about 150 B a row). ``d`` is a multiple of 1/1024
and ``s`` is 64 hex characters, so the checksum below is exact on both
sides. ``ts`` is staged as a UTC-adjusted timestamp, which Spark reads
as its default ``TIMESTAMP`` type.
"""

from __future__ import annotations

import datetime
import os
import zlib

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DAY0 = datetime.date(2026, 1, 1)
DAY0_EPOCH = (DAY0 - datetime.date(1970, 1, 1)).days
US_PER_DAY = 86_400 * 1_000_000
HEX = np.frombuffer(b"0123456789abcdef", dtype=np.uint8)
COLS = ["day", "k", "ts", "i", "d", "s"]

# Order-independent row checksum, evaluated by Spark over the program's
# output. ``row_checksum`` below is the same formula in NumPy.
CHECKSUM_SQL = (
    "pmod(k * 1000003 + CAST(i AS BIGINT) * 7919 + unix_micros(ts)"
    " + CAST(d * 1024 AS BIGINT) * 131 + crc32(s) * 31"
    " + CAST(unix_date(day) AS BIGINT) * 97, 2147483647)"
)


def rng_for(seed: int, *stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, *stream])


def rows(rng: np.random.Generator, keys: np.ndarray, days: np.ndarray) -> pa.Table:
    """One row per key; ``days`` are day offsets from DAY0."""
    n = len(keys)
    raw = rng.integers(0, 256, size=(n, 32), dtype=np.uint8)
    hexed = np.empty((n, 64), dtype=np.uint8)
    hexed[:, 0::2] = HEX[raw >> 4]
    hexed[:, 1::2] = HEX[raw & 15]
    offsets = np.arange(0, 64 * (n + 1), 64, dtype=np.int32)
    s = pa.StringArray.from_buffers(
        n, pa.py_buffer(offsets), pa.py_buffer(hexed.tobytes())
    )
    epoch_day = days.astype(np.int64) + DAY0_EPOCH
    ts = epoch_day * US_PER_DAY + rng.integers(0, US_PER_DAY, size=n)
    return pa.table(
        {
            "day": pa.array(epoch_day.astype(np.int32), pa.int32()).cast(pa.date32()),
            "k": pa.array(keys.astype(np.int64)),
            "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
            "i": pa.array(rng.integers(0, 10_000, size=n, dtype=np.int32)),
            "d": pa.array(rng.integers(0, 1 << 20, size=n) / 1024.0),
            "s": s,
        }
    )


def stage(table: pa.Table, path: str) -> str:
    pq.write_table(table, path)
    return path


def row_checksum(t: pa.Table) -> int:
    """NumPy twin of CHECKSUM_SQL, summed over the rows of ``t``."""
    if t.num_rows == 0:
        return 0
    k = t["k"].to_numpy().astype(np.int64)
    i = t["i"].to_numpy().astype(np.int64)
    ts = t["ts"].cast(pa.int64()).to_numpy()
    d = (t["d"].to_numpy() * 1024).astype(np.int64)
    crc = np.fromiter(
        (zlib.crc32(x.encode()) for x in t["s"].to_pylist()),
        dtype=np.int64,
        count=t.num_rows,
    )
    day = t["day"].cast(pa.int32()).to_numpy().astype(np.int64)
    h = (k * 1000003 + i * 7919 + ts + d * 131 + crc * 31 + day * 97) % 2147483647
    return int(h.sum())


def parquet_list(paths) -> str:
    return "[" + ", ".join("'" + p.replace("'", "''") + "'" for p in paths) + "]"


def lww_state(base: str, batches, kind_col: "str | None" = None) -> pa.Table:
    """Last-writer-wins merge of staged files in commit order: the newest
    version of each (day, k) wins, and a newest version of kind -D (3)
    removes the key. This is the model of a deduplicate PK table."""
    parts = [f"SELECT {', '.join(COLS)}, 0 AS kind, 0 AS b FROM read_parquet('{base}')"]
    for j, p in enumerate(batches, start=1):
        kind = kind_col if kind_col else "0"
        parts.append(
            f"SELECT {', '.join(COLS)}, {kind} AS kind, {j} AS b FROM read_parquet('{p}')"
        )
    sql = (
        f"SELECT {', '.join(COLS)} FROM ("
        f" SELECT *, row_number() OVER (PARTITION BY day, k ORDER BY b DESC) AS rn"
        f" FROM ({' UNION ALL '.join(parts)})"
        f") WHERE rn = 1 AND kind <> 3"
    )
    con = duckdb.connect()
    try:
        con.execute("SET TimeZone = 'UTC'")
        return con.execute(sql).arrow()
    finally:
        con.close()


def window_aggregate(paths, day_lo: int, day_hi: int, min_i: int) -> dict:
    """Model of the append-log query: per day in [day_lo, day_hi] (day
    offsets), rows with i >= min_i -> (count, sum(i), min(d), max(d))."""
    lo = DAY0 + datetime.timedelta(days=day_lo)
    hi = DAY0 + datetime.timedelta(days=day_hi)
    con = duckdb.connect()
    try:
        got = con.execute(
            f"SELECT day, count(*), sum(i), min(d), max(d)"
            f" FROM read_parquet({parquet_list(paths)})"
            f" WHERE day BETWEEN DATE '{lo}' AND DATE '{hi}' AND i >= {min_i}"
            f" GROUP BY day"
        ).fetchall()
    finally:
        con.close()
    return {r[0]: (int(r[1]), int(r[2]), float(r[3]), float(r[4])) for r in got}


def parquet_bytes(t: pa.Table, path: str) -> int:
    """Size of the live rows written once as parquet: space_amp's base."""
    pq.write_table(t, path)
    return os.path.getsize(path)
