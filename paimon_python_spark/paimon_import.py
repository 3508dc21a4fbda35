"""Import a REAL Apache Paimon warehouse table into this engine.

The reference SDK reads genuine Paimon tables by delegating metadata
planning to a JVM (reference
pypaimon/py4j/java_implementation.py:154-205 — TableScan.plan runs in
Java over avro manifest lists, and partition values cross the bridge as
serialized BinaryRows decoded by
paimon-python-java-bridge/.../ParallelBytesReader.java). This engine
defines its own JSON metadata (metadata.py), so a user with an existing
Flink/Spark-written Paimon lake needs a bridge. This module is that
bridge, built from the PUBLISHED format spec
(https://paimon.apache.org/docs/master/concepts/spec/) with no JVM:

- ``schema/schema-<i>``   JSON table schema (typed field list, partition
  keys, primary keys, options);
- ``snapshot/snapshot-<i>`` + ``snapshot/LATEST`` hint — JSON snapshots
  pointing at base/delta manifest LISTS;
- ``manifest/manifest-list-*`` and ``manifest/*`` — avro files of
  nested records (read with the engine codec's generic reader);
- BinaryRow-encoded partition values / stats (8-byte-aligned null
  bitset with header byte, 8-byte fixed slots, offset+length or
  inline-compact var-length fields — Flink's BinaryRowData layout that
  Paimon inherits), length-prefixed with the 4-byte arity the
  ``SerializationUtils.serializeBinaryRow`` wire form uses.

``plan_paimon_files`` folds the manifest chain into the live file set
(driver-side metadata walk, same cost shape as the engine's own
planner). ``import_paimon_table`` materializes the table through this
engine's commit protocol: append tables copy data files verbatim
(parquet/orc are already the engine's formats) and commit them with
harvested stats; primary-key tables read the key-value files (columns
``_KEY_<k>``, ``_SEQUENCE_NUMBER``, ``_VALUE_KIND``, values) through a
distributed Spark scan, resolve the merge, and commit the merged state
— state-identical to what the JVM readers produce, with history
flattened to one snapshot (documented trade).

Container caveat, stated plainly: no Paimon JVM exists in this
environment, so the test fixture is BUILT TO THE SPEC by
``tests/test_paimon_import.py`` rather than written by Flink itself.
Byte-level conventions asserted there (bitset width, inline-string
compaction, arity prefix endianness) are exactly the documented
BinaryRow layout; validating against a Flink-written lake is the first
thing to run where one exists.
"""

from __future__ import annotations

import json
import os
import re
import struct
from dataclasses import dataclass, field
from typing import Any, List, Optional

from pyspark.sql import types as T

from paimon_python_spark._localdf import local_df

# ---- type strings ----

_SIMPLE_TYPES = {
    "BOOLEAN": T.BooleanType(),
    "TINYINT": T.ByteType(),
    "SMALLINT": T.ShortType(),
    "INT": T.IntegerType(),
    "INTEGER": T.IntegerType(),
    "BIGINT": T.LongType(),
    "FLOAT": T.FloatType(),
    "DOUBLE": T.DoubleType(),
    "STRING": T.StringType(),
    "BYTES": T.BinaryType(),
    "DATE": T.DateType(),
}


def _split_type_args(s: str) -> list:
    """Split 'K, V' / row-field lists on top-level commas (angle
    brackets and parens nest; backquoted names may contain commas)."""
    parts, depth, buf, i = [], 0, [], 0
    while i < len(s):
        ch = s[i]
        if ch == "`":
            j = s.index("`", i + 1)
            buf.append(s[i : j + 1])
            i = j + 1
            continue
        if ch in "<(":
            depth += 1
        elif ch in ">)":
            depth -= 1
        if ch == "," and depth == 0:
            parts.append("".join(buf).strip())
            buf = []
        else:
            buf.append(ch)
        i += 1
    if buf:
        parts.append("".join(buf).strip())
    return parts


def parse_paimon_type(s) -> tuple[T.DataType, bool]:
    """Parse a Paimon schema-file type into a Spark type + nullability.

    Accepts BOTH spec serializations: the string form ('INT NOT NULL',
    'VARCHAR(10)', 'DECIMAL(10, 2)', nested 'ARRAY<INT>' /
    'MAP<INT, STRING>' / 'ROW<`a` INT, `b` STRING>') and the JSON
    object form real Paimon's DataTypeJsonParser writes for nested
    types ({"type": "ARRAY", "element": ...}, {"type": "MAP", "key":
    ..., "value": ...}, {"type": "ROW", "fields": [...]}, with
    'ARRAY NOT NULL'-style container nullability)."""
    if isinstance(s, dict):
        t = str(s["type"]).strip()
        nullable = True
        if t.upper().endswith("NOT NULL"):
            nullable = False
            t = t[: -len("NOT NULL")].strip()
        tu = t.upper()
        if tu == "ARRAY":
            et, en = parse_paimon_type(s["element"])
            return T.ArrayType(et, containsNull=en), nullable
        if tu == "MAP":
            kt, _kn = parse_paimon_type(s["key"])
            vt, vn = parse_paimon_type(s["value"])
            return T.MapType(kt, vt, valueContainsNull=vn), nullable
        if tu == "ROW":
            fields = []
            for fd in s["fields"]:
                ft, fn = parse_paimon_type(fd["type"])
                fields.append(T.StructField(fd["name"], ft, fn))
            return T.StructType(fields), nullable
        return parse_paimon_type(t if nullable else f"{t} NOT NULL")
    s = s.strip()
    nullable = True
    if s.upper().endswith("NOT NULL"):
        nullable = False
        s = s[: -len("NOT NULL")].strip()
    m = re.fullmatch(r"(?is)ARRAY\s*<(.*)>", s)
    if m:
        et, en = parse_paimon_type(m.group(1))
        return T.ArrayType(et, containsNull=en), nullable
    m = re.fullmatch(r"(?is)MAP\s*<(.*)>", s)
    if m:
        args = _split_type_args(m.group(1))
        if len(args) != 2:
            raise ValueError(f"paimon_import: bad MAP type string {s!r}")
        kt, _kn = parse_paimon_type(args[0])
        vt, vn = parse_paimon_type(args[1])
        return T.MapType(kt, vt, valueContainsNull=vn), nullable
    m = re.fullmatch(r"(?is)ROW\s*<(.*)>", s)
    if m:
        fields = []
        for part in _split_type_args(m.group(1)):
            fm = re.match(r"\s*(?:`([^`]+)`|(\w+))\s+(.*)", part, re.DOTALL)
            if not fm:
                raise ValueError(f"paimon_import: bad ROW field {part!r}")
            fname = fm.group(1) or fm.group(2)
            ft, fn = parse_paimon_type(fm.group(3))
            fields.append(T.StructField(fname, ft, fn))
        return T.StructType(fields), nullable
    u = s.upper()
    if u in _SIMPLE_TYPES:
        return _SIMPLE_TYPES[u], nullable
    m = re.fullmatch(r"(VARCHAR|CHAR)\((\d+)\)", u)
    if m:
        return T.StringType(), nullable
    m = re.fullmatch(r"(VARBINARY|BINARY)\((\d+)\)", u)
    if m:
        return T.BinaryType(), nullable
    m = re.fullmatch(r"DECIMAL\((\d+)\s*,\s*(\d+)\)", u)
    if m:
        return T.DecimalType(int(m.group(1)), int(m.group(2))), nullable
    m = re.fullmatch(r"TIMESTAMP(?:\((\d+)\))?", u)
    if m:
        return T.TimestampNTZType(), nullable
    m = re.fullmatch(r"TIMESTAMP(?:\((\d+)\))? WITH LOCAL TIME ZONE", u)
    if m:
        return T.TimestampType(), nullable
    raise ValueError(f"paimon_import: unsupported Paimon type string {s!r}")


# ---- schema / snapshot files ----


@dataclass
class PaimonSchemaInfo:
    id: int
    spark_schema: T.StructType
    partition_keys: List[str]
    primary_keys: List[str]
    options: dict = field(default_factory=dict)
    #: Paimon field ids parallel to ``spark_schema.fields`` — the
    #: stable identity rename/reorder evolution maps by (reference
    #: data_file_record_reader.py:86-98 builds the same index mapping)
    field_ids: List[int] = field(default_factory=list)


def read_paimon_schema(table_path: str, schema_id: Optional[int] = None) -> PaimonSchemaInfo:
    sdir = os.path.join(table_path, "schema")
    if schema_id is None:
        ids = [
            int(n.split("-")[1])
            for n in os.listdir(sdir)
            if n.startswith("schema-")
        ]
        schema_id = max(ids)
    with open(os.path.join(sdir, f"schema-{schema_id}")) as f:
        d = json.load(f)
    fields = []
    fids = []
    for i, fld in enumerate(d["fields"]):
        dt, nullable = parse_paimon_type(fld["type"])
        fields.append(T.StructField(fld["name"], dt, nullable))
        fids.append(int(fld.get("id", i)))
    return PaimonSchemaInfo(
        id=int(d.get("id", schema_id)),
        spark_schema=T.StructType(fields),
        partition_keys=list(d.get("partitionKeys", [])),
        primary_keys=list(d.get("primaryKeys", [])),
        options=dict(d.get("options", {})),
        field_ids=fids,
    )


def latest_paimon_snapshot_id(table_path: str) -> int:
    # the LATEST hint is best-effort, exactly as in real Paimon: a
    # concurrent committer may be mid-rewrite (empty/partial read) or
    # the file may vanish between exists() and open() — any failure
    # falls back to listing the snapshot dir, never raises
    hint = os.path.join(table_path, "snapshot", "LATEST")
    try:
        with open(hint) as f:
            return int(f.read().strip())
    except (FileNotFoundError, ValueError, OSError):
        pass
    ids = [
        int(n.split("-")[1])
        for n in os.listdir(os.path.join(table_path, "snapshot"))
        if n.startswith("snapshot-") and n.split("-")[1].isdigit()
    ]
    if not ids:
        raise FileNotFoundError(f"no snapshots in {table_path}")
    return max(ids)


def write_hint_atomic(path: str, value) -> None:
    """Write a snapshot-dir hint (LATEST/EARLIEST) atomically: plain
    open(.., "w") truncates first, so a concurrent reader can observe an
    EMPTY hint mid-rewrite (seen in practice under streaming commits).
    Real Paimon's hints are rename-published too; readers additionally
    treat them as best-effort (latest_paimon_snapshot_id falls back to
    listing)."""
    import tempfile as _tf

    d = os.path.dirname(path)
    fd, tmp = _tf.mkstemp(prefix=".hint-", dir=d)
    try:
        with os.fdopen(fd, "w") as f:
            f.write(str(value))
        # mkstemp creates 0600 — a shared-filesystem lake written by
        # one user must stay readable by others (plain open honored
        # the umask); restore umask-relative world-readable perms
        cur = os.umask(0)
        os.umask(cur)
        os.chmod(tmp, 0o666 & ~cur)
        os.replace(tmp, path)
    except BaseException:
        try:
            os.remove(tmp)
        except OSError:
            pass
        raise


def read_paimon_snapshot(table_path: str, snapshot_id: Optional[int] = None) -> dict:
    if snapshot_id is None:
        snapshot_id = latest_paimon_snapshot_id(table_path)
    with open(os.path.join(table_path, "snapshot", f"snapshot-{snapshot_id}")) as f:
        return json.load(f)


# ---- BinaryRow ----
#
# Layout (Flink BinaryRowData, inherited by Paimon's BinaryRow):
#   [ null bitset: ((arity + 64 + 7) // 64) * 8 bytes, bit 0-7 = header
#     (row kind), bit (8+i) = field i null flag ]
#   [ arity × 8-byte slots ]  [ variable-length region ]
# Fixed-width values sit little-endian in their slot. Var-length values
# store (offset << 32 | length) where offset counts from the row start
# — unless the value is ≤ 7 bytes, which is stored INLINE: highest bit
# of the slot's 8th byte set, 7th byte's low bits = length, data in the
# slot's first bytes ("compact string" optimization).
# The manifest wire form prefixes the row bytes with a 4-byte arity
# (SerializationUtils.serializeBinaryRow), little-endian like the
# MemorySegment accessors that write it.

_INLINE_MARK = 0x80


def _bitset_bytes(arity: int) -> int:
    return ((arity + 63 + 8) // 64) * 8


def decode_binary_row(data: bytes, types: List[T.DataType]) -> List[Any]:
    if len(data) < 4:
        raise ValueError("truncated binary row: missing arity prefix")
    arity = struct.unpack("<i", data[:4])[0]
    if arity != len(types):
        raise ValueError(
            f"binary row arity {arity} != expected {len(types)} fields"
        )
    row = data[4:]
    nb = _bitset_bytes(arity)
    if len(row) < nb + arity * 8:
        raise ValueError(
            f"truncated binary row: {len(row)} bytes < fixed region "
            f"{nb + arity * 8} (bitset {nb} + {arity}×8 slots)"
        )
    out: List[Any] = []
    for i, dt in enumerate(types):
        bit = 8 + i
        if row[bit >> 3] & (1 << (bit & 7)):
            out.append(None)
            continue
        slot = nb + i * 8
        if isinstance(dt, (T.IntegerType, T.DateType)):
            out.append(struct.unpack_from("<i", row, slot)[0])
        elif isinstance(dt, T.LongType):
            out.append(struct.unpack_from("<q", row, slot)[0])
        elif isinstance(dt, T.ShortType):
            out.append(struct.unpack_from("<h", row, slot)[0])
        elif isinstance(dt, T.ByteType):
            out.append(struct.unpack_from("<b", row, slot)[0])
        elif isinstance(dt, T.BooleanType):
            out.append(row[slot] != 0)
        elif isinstance(dt, T.FloatType):
            out.append(struct.unpack_from("<f", row, slot)[0])
        elif isinstance(dt, T.DoubleType):
            out.append(struct.unpack_from("<d", row, slot)[0])
        elif isinstance(dt, (T.StringType, T.BinaryType)):
            if row[slot + 7] & _INLINE_MARK:
                ln = row[slot + 7] & 0x7F
                raw = row[slot : slot + ln]
            else:
                offset_len = struct.unpack_from("<q", row, slot)[0]
                ln = offset_len & 0xFFFFFFFF
                off = offset_len >> 32
                if off + ln > len(row):
                    raise ValueError(
                        f"truncated binary row: var-length field {i} points "
                        f"past the buffer ({off}+{ln} > {len(row)})"
                    )
                raw = row[off : off + ln]
            out.append(raw.decode() if isinstance(dt, T.StringType) else bytes(raw))
        else:
            raise ValueError(f"binary row: unsupported partition type {dt}")
    return out


def encode_binary_row(values: List[Any], types: List[T.DataType]) -> bytes:
    """Spec-conformant encoder — used by the fixture builder and kept
    next to the decoder so the two byte-level conventions cannot
    drift."""
    arity = len(types)
    nb = _bitset_bytes(arity)
    fixed = bytearray(nb + arity * 8)
    var = bytearray()
    for i, (v, dt) in enumerate(zip(values, types)):
        slot = nb + i * 8
        if v is None:
            bit = 8 + i
            fixed[bit >> 3] |= 1 << (bit & 7)
            continue
        if isinstance(dt, (T.IntegerType, T.DateType)):
            struct.pack_into("<i", fixed, slot, int(v))
        elif isinstance(dt, T.LongType):
            struct.pack_into("<q", fixed, slot, int(v))
        elif isinstance(dt, T.ShortType):
            struct.pack_into("<h", fixed, slot, int(v))
        elif isinstance(dt, T.ByteType):
            struct.pack_into("<b", fixed, slot, int(v))
        elif isinstance(dt, T.BooleanType):
            fixed[slot] = 1 if v else 0
        elif isinstance(dt, T.FloatType):
            struct.pack_into("<f", fixed, slot, float(v))
        elif isinstance(dt, T.DoubleType):
            struct.pack_into("<d", fixed, slot, float(v))
        elif isinstance(dt, (T.StringType, T.BinaryType)):
            raw = v.encode() if isinstance(v, str) else bytes(v)
            if len(raw) <= 7:
                fixed[slot : slot + len(raw)] = raw
                fixed[slot + 7] = _INLINE_MARK | len(raw)
            else:
                off = nb + arity * 8 + len(var)
                struct.pack_into("<q", fixed, slot, (off << 32) | len(raw))
                var += raw
                # real writers word-align every var-length region
                # (BinaryRowWriter.roundNumberOfBytesToNearestWord), so
                # sizeInBytes is always a multiple of 8 — required for
                # the word-wise hashCode the bucket extractor uses, and
                # byte-exact with what a JVM writer would emit
                if len(raw) % 8:
                    var += b"\x00" * (8 - len(raw) % 8)
        else:
            raise ValueError(f"binary row: unsupported partition type {dt}")
    return struct.pack("<i", arity) + bytes(fixed) + bytes(var)


def logical_value(v, dt: T.DataType):
    """One pandas/Row/literal value as the logical value
    ``encode_binary_row`` takes: None/NA → None, numpy scalars unboxed,
    DATE → epoch days (a datetime under a DATE field counts as its
    date)."""
    import datetime

    import pandas as pd

    if v is None or (not isinstance(v, (bytes, str)) and pd.isna(v)):
        return None
    if hasattr(v, "item"):
        v = v.item()
    if isinstance(dt, T.DateType):
        if isinstance(v, datetime.datetime):
            v = v.date()
        if isinstance(v, datetime.date):
            return (v - datetime.date(1970, 1, 1)).days
    return v


#: Spark types the BinaryRow codec encodes — every primary-key,
#: bucket-key and partition column of a lake must be one of them
BINARY_ROW_TYPES = (
    T.IntegerType,
    T.LongType,
    T.ShortType,
    T.ByteType,
    T.BooleanType,
    T.FloatType,
    T.DoubleType,
    T.DateType,
    T.StringType,
    T.BinaryType,
)


def murmur_hash_words(data: bytes, seed: int = 42) -> int:
    """Murmur3-32 over little-endian 4-byte words, Paimon flavor: the
    public ``MurmurHashUtils.hashBytesByWords`` (seed 42, no tail
    handling — BinaryRow bytes are always word-aligned). Returns the
    SIGNED Java int, because ``BinaryRow.hashCode()`` is this value and
    the bucket math depends on its sign convention."""
    if len(data) % 4:
        raise ValueError(f"hashBytesByWords needs 4-byte alignment, got {len(data)}")
    h1 = seed
    for i in range(0, len(data), 4):
        k1 = int.from_bytes(data[i : i + 4], "little")
        k1 = (k1 * 0xCC9E2D51) & 0xFFFFFFFF
        k1 = ((k1 << 15) | (k1 >> 17)) & 0xFFFFFFFF
        k1 = (k1 * 0x1B873593) & 0xFFFFFFFF
        h1 ^= k1
        h1 = ((h1 << 13) | (h1 >> 19)) & 0xFFFFFFFF
        h1 = (h1 * 5 + 0xE6546B64) & 0xFFFFFFFF
    h1 ^= len(data)
    h1 ^= h1 >> 16
    h1 = (h1 * 0x85EBCA6B) & 0xFFFFFFFF
    h1 ^= h1 >> 13
    h1 = (h1 * 0xC2B2AE35) & 0xFFFFFFFF
    h1 ^= h1 >> 16
    return h1 - 0x100000000 if h1 >= 0x80000000 else h1


def fixed_bucket(values: List[Any], types: List[T.DataType], num_buckets: int) -> int:
    """Paimon's fixed-bucket assignment for one row's bucket key:
    ``Math.abs(bucketKey.hashCode() % numBuckets)`` where the hashCode
    is the word-wise murmur over the bucket key's BinaryRow bytes
    (public ``FixedBucketRowKeyExtractor`` → ``KeyAndBucketExtractor
    .bucket(bucketKeyHashCode(...), numBuckets)``). The 4-byte arity
    prefix is our manifest wire envelope, not part of the row — it is
    excluded from the hash."""
    return abs(murmur_hash_words(encode_binary_row(values, types)[4:])) % num_buckets


# ---- JVM-native BinaryRow hash (plan-time expression) ----
#
# Spark's built-in ``hash()`` over a BinaryType column IS Paimon's
# ``MurmurHashUtils.hashBytesByWords`` for word-aligned input: both are
# Murmur3-32 with seed 42, identical block mixing, and the same
# ``h ^= length`` finalizer; BinaryRow bytes are always a multiple of 8
# so Spark's byte-tail loop never runs (verified value-equal over
# randomized word-aligned buffers AND encode_binary_row outputs in
# tests/test_bucketing.py). So the per-row Python hash UDF on the lake
# write path can be replaced by a pure-JVM expression that SYNTHESIZES
# the BinaryRow bytes (hex-string assembly -> unhex -> hash):
# every lake commit previously paid a Python-worker round trip in its
# pre-shuffle map stage (~100-140 ms profiled per commit at any batch
# size) just to route rows — with the expression the stage is
# whole-stage-codegen JVM and the boundary disappears (guide §4.1).

_BRH_SUPPORTED = (
    T.LongType,
    T.IntegerType,
    T.ShortType,
    T.ByteType,
    T.BooleanType,
    T.DateType,
    T.StringType,
    T.BinaryType,
)


def _le_hex(value_sql: str, n_bytes: int) -> str:
    """SQL producing the little-endian ``n_bytes`` hex of a BIGINT-typed
    SQL expression (two's complement, like struct.pack('<q'/'<i'/...))."""
    width = 2 * n_bytes
    if n_bytes == 8:
        # hex(bigint) is already the full 16-char two's complement for
        # negatives; masking with 2^64-1 would parse as DECIMAL(20,0)
        h = f"lpad(hex({value_sql}), {width}, '0')"
    else:
        h = f"lpad(hex(({value_sql}) & {(1 << (8 * n_bytes)) - 1}L), {width}, '0')"
    parts = [f"substr({h}, {i}, 2)" for i in range(width - 1, 0, -2)]
    return "concat(" + ", ".join(parts) + ")" if len(parts) > 1 else parts[0]


def binary_row_hash_expr(col_names, types) -> "str | None":
    """SQL expression (a string for ``F.expr``) computing
    ``murmur_hash_words(encode_binary_row(values)[4:])`` — the signed
    int32 BinaryRow hashCode Paimon's bucket routing is built on —
    entirely in JVM built-ins. Returns ``None`` when any key type is
    outside the supported set: only float and double keys take the
    vectorized pandas-UDF route (the BinaryRow codec has no DECIMAL or
    TIMESTAMP encoding, so ``create_lake_table`` refuses those keys).

    Byte layout reproduced (see encode_binary_row): 8-byte null bitset
    (bit 8+i marks field i null), one 8-byte little-endian slot per
    field (strings/binaries <= 7 bytes inline with a 0x80|len marker
    byte; longer ones an (offset << 32 | len) word pointing into the
    var region), then each var payload zero-padded to a word multiple.
    """
    arity = len(types)
    if arity == 0 or arity > 55:  # bitset must fit one 8-byte word
        return None
    for dt in types:
        if not isinstance(dt, _BRH_SUPPORTED):
            return None

    nb = 8  # _bitset_bytes(arity) for arity <= 55
    q = [f"`{str(c).replace(chr(96), chr(96) * 2)}`" for c in col_names]

    # null bitset word (little-endian hex of the OR of per-field bits)
    bit_terms = [
        f"CASE WHEN {q[i]} IS NULL THEN {1 << (8 + i)}L ELSE 0L END"
        for i in range(arity)
    ]
    bitset_hex = _le_hex(" + ".join(bit_terms), 8)

    # var-length fields: byte length / raw hex / padded size (in bytes)
    raw_hex: dict = {}
    blen: dict = {}
    var_bytes_sql: dict = {}
    for i, dt in enumerate(types):
        if isinstance(dt, (T.StringType, T.BinaryType)):
            raw = (
                f"hex(encode({q[i]}, 'UTF-8'))"
                if isinstance(dt, T.StringType)
                else f"hex({q[i]})"
            )
            ln = (
                f"octet_length({q[i]})"
                if isinstance(dt, T.StringType)
                else f"length({q[i]})"
            )
            raw_hex[i] = raw
            blen[i] = ln
            # bytes this field occupies in the var region (0 when
            # null or inlined; else len rounded up to a word)
            var_bytes_sql[i] = (
                f"CASE WHEN {q[i]} IS NULL OR {ln} <= 7 THEN 0L "
                f"ELSE cast(ceil(({ln}) / 8.0) * 8 as bigint) END"
            )

    def var_offset_sql(i: int) -> str:
        """Byte offset of field i's var payload inside the row."""
        prior = [var_bytes_sql[j] for j in sorted(var_bytes_sql) if j < i]
        base = nb + arity * 8
        return f"({base}L + {' + '.join(prior)})" if prior else f"{base}L"

    slots = []
    var_parts = []
    for i, dt in enumerate(types):
        null_slot = "'0000000000000000'"
        if isinstance(dt, T.LongType):
            body = _le_hex(q[i], 8)
        elif isinstance(dt, (T.IntegerType,)):
            body = f"concat({_le_hex(f'cast({q[i]} as bigint)', 4)}, '00000000')"
        elif isinstance(dt, T.DateType):
            body = f"concat({_le_hex(f'cast(unix_date({q[i]}) as bigint)', 4)}, '00000000')"
        elif isinstance(dt, T.ShortType):
            body = f"concat({_le_hex(f'cast({q[i]} as bigint)', 2)}, '000000000000')"
        elif isinstance(dt, T.ByteType):
            body = f"concat({_le_hex(f'cast({q[i]} as bigint)', 1)}, '00000000000000')"
        elif isinstance(dt, T.BooleanType):
            body = f"concat(CASE WHEN {q[i]} THEN '01' ELSE '00' END, '00000000000000')"
        else:  # string/binary
            inline = (
                f"concat(rpad({raw_hex[i]}, 14, '0'), "
                f"lpad(hex(128 + {blen[i]}), 2, '0'))"
            )
            pointer = _le_hex(
                f"(cast({var_offset_sql(i)} as bigint) << 32) | cast({blen[i]} as bigint)",
                8,
            )
            body = f"CASE WHEN {blen[i]} <= 7 THEN {inline} ELSE {pointer} END"
            var_parts.append(
                f"CASE WHEN {q[i]} IS NULL OR {blen[i]} <= 7 THEN '' "
                f"ELSE rpad({raw_hex[i]}, cast(ceil(({blen[i]}) / 8.0) * 16 as int), '0') END"
            )
        slots.append(f"CASE WHEN {q[i]} IS NULL THEN {null_slot} ELSE {body} END")

    row_hex = "concat(" + ", ".join([bitset_hex, *slots, *var_parts]) + ")"
    return f"hash(unhex({row_hex}))"


def binary_row_bucket_expr(col_names, types, num_buckets: int) -> "str | None":
    """SQL expression for Paimon's fixed-bucket routing
    (``abs(BinaryRow hashCode) % num_buckets``, Java abs semantics —
    the bigint cast makes abs(INT_MIN) exact), or ``None`` when the
    key types need the pandas-UDF fallback."""
    h = binary_row_hash_expr(col_names, types)
    if h is None:
        return None
    return f"cast(abs(cast({h} as bigint)) % {num_buckets} as int)"


# ---- manifests ----


#: Paimon's directory name for a NULL partition value unless the table
#: sets ``partition.default-name`` (spec: partition.default-name option)
DEFAULT_PARTITION_NAME = "__DEFAULT_PARTITION__"


def format_partition_segment(value: Any, dt: T.DataType, default_name: str) -> str:
    """Render one partition value the way Paimon names its directories:
    NULL → the table's ``partition.default-name`` (default
    ``__DEFAULT_PARTITION__``); DATE → ISO ``yyyy-MM-dd`` (the decoded
    BinaryRow carries raw epoch-day ints); everything else via str()."""
    if value is None:
        return default_name
    if isinstance(dt, T.DateType) and isinstance(value, int):
        import datetime

        return (datetime.date(1970, 1, 1) + datetime.timedelta(days=value)).isoformat()
    if isinstance(value, bool):
        return "true" if value else "false"
    return str(value)


def logical_partition_values(info: "PaimonSchemaInfo", partition: dict) -> dict:
    """Decoded BinaryRow partition values → logical Python values.

    BinaryRow stores DATE as raw epoch-day ints (the repo's own fixture
    test asserts ``partition == {'dt': 19737}``); anything comparing or
    injecting partition values at the logical level (predicate pruning,
    hive-style column injection) must see ``datetime.date`` instead —
    the same rendering ``format_partition_segment`` uses for paths."""
    import datetime

    out = {}
    for k, v in partition.items():
        dt = info.spark_schema[k].dataType
        if isinstance(dt, T.DateType) and isinstance(v, int):
            v = datetime.date(1970, 1, 1) + datetime.timedelta(days=v)
        out[k] = v
    return out


@dataclass
class PaimonFileEntry:
    kind: int  # 0 = ADD, 1 = DELETE
    partition: dict
    bucket: int
    file_name: str
    file_size: int
    row_count: int
    level: int
    #: schema the data file was written under (manifest ``_SCHEMA_ID``)
    schema_id: int = 0
    #: raw ``_VALUE_STATS`` (min row bytes, max row bytes, null counts)
    #: — decoded lazily at prune time under the entry's own schema
    stats_raw: Optional[tuple] = None
    #: manifest ``_MAX_SEQUENCE_NUMBER`` — a PK-lake writer seeds its
    #: new commit's sequence range past every live file's max
    max_seq: int = 0
    #: manifest ``_EMBEDDED_FILE_INDEX`` bytes (this engine writes its
    #: own bloom payload there; see paimon_lake._decode_embedded_blooms)
    embedded_index: Optional[bytes] = None
    #: manifest ``_TOTAL_BUCKETS`` — the bucket-count geometry this
    #: entry was routed under; pre-rescale snapshots keep their old
    #: value, so bucket pruning must only fire on matching geometry
    total_buckets: Optional[int] = None
    #: manifest ``_EXTRA_FILES`` — JVM Paimon lists standalone
    #: ``*.index`` file-index files here (indexes above the
    #: in-manifest threshold); read at prune time
    extra_files: Optional[list] = None

    def rel_path(
        self,
        partition_keys: List[str],
        part_types: Optional[List[T.DataType]] = None,
        default_name: str = DEFAULT_PARTITION_NAME,
    ) -> str:
        parts = [
            format_partition_segment(
                self.partition[k],
                part_types[i] if part_types else T.StringType(),
                default_name,
            )
            for i, k in enumerate(partition_keys)
        ]
        parts = [f"{k}={p}" for k, p in zip(partition_keys, parts)]
        return os.path.join(*parts, f"bucket-{self.bucket}", self.file_name) if parts else os.path.join(f"bucket-{self.bucket}", self.file_name)


def read_manifest_list(table_path: str, name: str) -> List[str]:
    return [
        r["_FILE_NAME"] for r in read_manifest_list_entries(table_path, name)
    ]


def read_manifest_list_entries(table_path: str, name: str) -> List[dict]:
    """Full manifest-list records (name, size, counts, partition
    stats) — the committer carries prior entries forward verbatim so
    their ``_PARTITION_STATS`` survive re-listing, and the planner
    skips whole manifests on them. Cached like manifests (immutable
    files; (path, size, mtime) key)."""
    from paimon_python_spark.avro_codec import read_avro_records

    path = os.path.join(table_path, "manifest", name)
    key, cached = _manifest_cache_get(path)
    if cached is not None:
        return list(cached)
    with open(path, "rb") as f:
        _schema, recs = read_avro_records(f.read())
    out = list(recs)
    _manifest_cache_put(key, out)
    return list(out)


def _manifest_partition_stats(rec: dict, info, part_types) -> Optional[dict]:
    """test_by_stats dict (keyed by partition field name, LOGICAL
    values — DATE epoch days become dates) from one manifest-list
    record's ``_PARTITION_STATS``, or None when absent/undecodable
    (no skip — conservative)."""
    st = rec.get("_PARTITION_STATS") or {}
    mn_b, mx_b = st.get("_MIN_VALUES"), st.get("_MAX_VALUES")
    if not mn_b or not mx_b:
        return None
    try:
        mins = decode_binary_row(bytes(mn_b), part_types)
        maxs = decode_binary_row(bytes(mx_b), part_types)
    except Exception:
        return None
    nulls = st.get("_NULL_COUNTS")
    lmin = logical_partition_values(info, dict(zip(info.partition_keys, mins)))
    lmax = logical_partition_values(info, dict(zip(info.partition_keys, maxs)))
    return {
        k: {
            "min": lmin.get(k),
            "max": lmax.get(k),
            "null_count": nulls[i] if nulls is not None and i < len(nulls) else None,
            "row_count": None,
        }
        for i, k in enumerate(info.partition_keys)
    }


def partition_stats_for_entries(entries: List[dict], part_types) -> dict:
    """Spec ``_PARTITION_STATS`` for one manifest's entry dicts:
    per-partition-field min/max encoded as BinaryRows + null counts —
    what lets a planner skip the whole manifest when a partition
    predicate excludes its range (real Paimon writes these on every
    manifest-list entry)."""
    if not part_types or not entries:
        return dict(_EMPTY_STATS)
    try:
        rows = [
            decode_binary_row(bytes(e["_PARTITION"]), part_types)
            for e in entries
        ]
        mins, maxs, nulls = [], [], []
        for i in range(len(part_types)):
            vals = [r[i] for r in rows]
            non_null = [v for v in vals if v is not None]
            mins.append(min(non_null) if non_null else None)
            maxs.append(max(non_null) if non_null else None)
            nulls.append(len(vals) - len(non_null))
        return {
            "_MIN_VALUES": encode_binary_row(mins, part_types),
            "_MAX_VALUES": encode_binary_row(maxs, part_types),
            "_NULL_COUNTS": nulls,
        }
    except Exception:
        return dict(_EMPTY_STATS)  # unencodable: stats absent, no skip


#: driver-side manifest parse cache. Manifest files are IMMUTABLE once
#: written (uuid names; a rewrite is a new name), so caching decoded
#: entries by (path, size, mtime) is safe — the key invalidates on the
#: impossible-in-spec overwrite anyway. Entries are never mutated after
#: construction (grep-verified), so cached objects share safely; the
#: returned list is fresh per call. Bounded LRU: repeated planning of
#: hot tables (every PK read, every bench iteration, every streaming
#: micro-batch) skips the avro decode entirely.
_MANIFEST_CACHE: "dict[tuple, list]" = {}
_MANIFEST_CACHE_MAX = 512


def _manifest_cache_get(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None, None
    key = (path, st.st_size, st.st_mtime_ns)
    return key, _MANIFEST_CACHE.get(key)


def _manifest_cache_put(key, value) -> None:
    if key is None:
        return
    if len(_MANIFEST_CACHE) >= _MANIFEST_CACHE_MAX:
        # simple generational eviction: drop the oldest half
        for k in list(_MANIFEST_CACHE)[: _MANIFEST_CACHE_MAX // 2]:
            _MANIFEST_CACHE.pop(k, None)
    _MANIFEST_CACHE[key] = value


def read_manifest(
    table_path: str, name: str, part_types: List[T.DataType], part_keys: List[str]
) -> List[PaimonFileEntry]:
    from paimon_python_spark.avro_codec import read_avro_records

    path = os.path.join(table_path, "manifest", name)
    key, cached = _manifest_cache_get(path)
    if cached is not None:
        return list(cached)
    with open(path, "rb") as f:
        _schema, recs = read_avro_records(f.read())
    out = []
    for r in recs:
        fmeta = r["_FILE"]
        pvalues = (
            decode_binary_row(bytes(r["_PARTITION"]), part_types)
            if part_keys
            else []
        )
        out.append(
            PaimonFileEntry(
                kind=int(r["_KIND"]),
                partition=dict(zip(part_keys, pvalues)),
                bucket=int(r["_BUCKET"]),
                file_name=fmeta["_FILE_NAME"],
                file_size=int(fmeta["_FILE_SIZE"]),
                row_count=int(fmeta["_ROW_COUNT"]),
                level=int(fmeta.get("_LEVEL", 0)),
                schema_id=int(fmeta.get("_SCHEMA_ID") or 0),
                stats_raw=_stats_raw(fmeta.get("_VALUE_STATS")),
                max_seq=int(fmeta.get("_MAX_SEQUENCE_NUMBER") or 0),
                embedded_index=(
                    bytes(fmeta["_EMBEDDED_FILE_INDEX"])
                    if fmeta.get("_EMBEDDED_FILE_INDEX")
                    else None
                ),
                total_buckets=(
                    int(r["_TOTAL_BUCKETS"])
                    if r.get("_TOTAL_BUCKETS") is not None
                    else None
                ),
                extra_files=list(fmeta.get("_EXTRA_FILES") or []) or None,
            )
        )
    _manifest_cache_put(key, out)
    return list(out)


def read_paimon_tag(table_path: str, name: str) -> dict:
    """A tag is a FULL COPY of its snapshot JSON under
    ``<table>/tag/tag-<name>`` (spec) — it stays readable after the
    snapshot itself expires."""
    with open(os.path.join(table_path, "tag", f"tag-{name}")) as f:
        return json.load(f)


def _stats_raw(vs) -> Optional[tuple]:
    """Keep a manifest entry's ``_VALUE_STATS`` as raw bytes when it
    carries real min/max rows (fixtures historically wrote empty
    bytes); decode happens at prune time under the file's own schema."""
    if not vs:
        return None
    mn = bytes(vs.get("_MIN_VALUES") or b"")
    mx = bytes(vs.get("_MAX_VALUES") or b"")
    if not mn or not mx:
        return None
    nc = vs.get("_NULL_COUNTS")
    return (mn, mx, list(nc) if nc is not None else None)


def decode_entry_stats(
    entry: "PaimonFileEntry", oinfo: "PaimonSchemaInfo", info: "PaimonSchemaInfo"
) -> Optional[dict]:
    """Decode one file's min/max stats rows (written under ``oinfo``)
    into the ``test_by_stats`` dict KEYED BY CURRENT field names (field
    ids map old→new, like the data read itself). DATE values normalize
    to ``datetime.date``. Any decode trouble → None (keep the file —
    pruning must stay conservative)."""
    if entry.stats_raw is None:
        return None
    mn_b, mx_b, nulls = entry.stats_raw
    types = [f.dataType for f in oinfo.spark_schema.fields]
    try:
        mins = decode_binary_row(mn_b, types)
        maxs = decode_binary_row(mx_b, types)
    except Exception:
        return None
    old_names = [f.name for f in oinfo.spark_schema.fields]
    vals = {
        n: (mn, mx, nulls[i] if nulls is not None and i < len(nulls) else None)
        for i, (n, mn, mx) in enumerate(zip(old_names, mins, maxs))
    }
    # map to current names by field id (PK/partition names immutable)
    out = {}
    old_by_id = dict(zip(oinfo.field_ids, old_names))
    cur_ids = info.field_ids or list(range(len(info.spark_schema.fields)))
    for fid, f in zip(cur_ids, info.spark_schema.fields):
        src = old_by_id.get(fid) if oinfo.field_ids else f.name
        if src is None or src not in vals:
            continue
        mn, mx, nc = vals[src]
        if isinstance(f.dataType, T.DateType):
            import datetime

            conv = lambda v: (
                datetime.date(1970, 1, 1) + datetime.timedelta(days=v)
                if isinstance(v, int)
                else v
            )
            mn, mx = conv(mn), conv(mx)
        out[f.name] = {
            "min": mn,
            "max": mx,
            "null_count": nc,
            "row_count": entry.row_count,
        }
    return out


def plan_paimon_files(
    table_path: str,
    snapshot_id: Optional[int] = None,
    snapshot: Optional[dict] = None,
    partition_predicate=None,
) -> List[PaimonFileEntry]:
    """Fold base + delta manifest lists of a snapshot into the live
    file set (ADD entries minus later DELETEs) — the same fold the
    reference's JVM TableScan.plan performs. ``snapshot`` (a parsed
    snapshot/tag dict) takes precedence over ``snapshot_id``.

    Deletion-vector tables plan the same way; read paths must ALSO call
    :func:`plan_paimon_dv` and anti-join the marked (file, position)
    pairs — the lake reader and importer both do.

    A freshly-created lake (schema only, no commits yet) plans as the
    empty file set; an EXPLICIT snapshot id that does not exist still
    raises (time travel to a missing snapshot is an error).

    ``partition_predicate`` (coerced to logical partition literals):
    MANIFEST-LEVEL skipping — a manifest whose ``_PARTITION_STATS``
    range provably excludes the predicate is never opened (at 100 TB
    the planner reads a handful of manifests instead of thousands —
    real Paimon's manifest skipping). Sound under the ADD/DELETE fold
    because every entry in a skipped manifest belongs to an excluded
    partition, and the CALLER prunes surviving entries with the same
    predicate — the visible set over matching partitions is identical.
    Only pass it from a caller that partition-prunes the result."""
    info = read_paimon_schema(table_path)
    if snapshot is None and snapshot_id is None:
        try:
            snapshot = read_paimon_snapshot(table_path)
        except FileNotFoundError:
            return []
    snap = snapshot if snapshot is not None else read_paimon_snapshot(table_path, snapshot_id)
    part_types = [
        info.spark_schema[k].dataType for k in info.partition_keys
    ]
    names: List[str] = []
    if partition_predicate is not None and info.partition_keys:
        for lst in (snap.get("baseManifestList"), snap.get("deltaManifestList")):
            if not lst:
                continue
            for rec in read_manifest_list_entries(table_path, lst):
                stats = _manifest_partition_stats(rec, info, part_types)
                if stats is None or partition_predicate.test_by_stats(stats):
                    names.append(rec["_FILE_NAME"])
    else:
        for lst in (snap.get("baseManifestList"), snap.get("deltaManifestList")):
            if lst:
                names.extend(read_manifest_list(table_path, lst))
    live: dict[tuple, PaimonFileEntry] = {}
    for mname in names:
        for e in read_manifest(table_path, mname, part_types, info.partition_keys):
            key = (tuple(sorted(e.partition.items())), e.bucket, e.file_name)
            if e.kind == 0:
                live[key] = e
            else:
                live.pop(key, None)
    return list(live.values())


# ---- deletion vectors (spec format) ----
#
# Paimon's deletion-vectors mode keeps row-level deletes as per-data-file
# roaring bitmaps in index files under ``<table>/index/``, referenced by
# the snapshot's ``indexManifest`` (spec:
# https://paimon.apache.org/docs/master/concepts/spec/tableindex/).
# Index file layout (DeletionVectorsIndexFile V1, all control ints
# BIG-endian — Java DataOutputStream — while the roaring payload itself
# is the little-endian portable format):
#   byte  version (1)
#   per vector: int32 size | data | int32 crc32(data)
#   where data = int32 magic 1581511376 | portable roaring bitmap
# The index manifest entry's ranges map data-file-name -> (offset of the
# size int, size). The reference reads these transparently via the JVM
# (py4j java_implementation.py plans DV tables); here the decode is a
# distributed mapInPandas over the ranges and the application is a
# (file, position) anti-join — below 64 MB of index the positions side
# broadcasts, so the data never shuffles.

DV_MAGIC = 1581511376
DV_INDEX_VERSION = 1
DELETION_VECTORS_INDEX = "DELETION_VECTORS"
#: spec index type of the dynamic-bucket key-hash index (tableindex
#: spec "Hash Index": the index file stores the int32 hashcodes of
#: every primary key routed into its bucket)
HASH_INDEX = "HASH"
#: broadcast the decoded (file, position) side below this many marked
#: rows (~64 MB of hashed-relation at ~32 B/row); above it the
#: anti-join degrades to a shuffle instead of an executor OOM
DV_BROADCAST_ROWS = 2_000_000

INDEX_MANIFEST_SCHEMA = {
    "type": "record",
    "name": "index_manifest_entry",
    "fields": [
        {"name": "_VERSION", "type": "int"},
        {"name": "_KIND", "type": "int"},
        {"name": "_PARTITION", "type": "bytes"},
        {"name": "_BUCKET", "type": "int"},
        {"name": "_INDEX_TYPE", "type": "string"},
        {"name": "_FILE_NAME", "type": "string"},
        {"name": "_FILE_SIZE", "type": "long"},
        {"name": "_ROW_COUNT", "type": "long"},
        {
            "name": "_DELETIONS_VECTORS_RANGES",
            "type": [
                "null",
                {
                    "type": "array",
                    "items": {
                        "type": "record",
                        "name": "deletion_vector_meta",
                        "fields": [
                            {"name": "f0", "type": "string"},
                            {"name": "f1", "type": "int"},
                            {"name": "f2", "type": "int"},
                        ],
                    },
                },
            ],
            "default": None,
        },
    ],
}


@dataclass
class PaimonDvRange:
    """One deletion vector's location: ``data_file_name``'s marked
    positions live at ``[offset, offset+4+length+4)`` in ``index_path``."""

    index_path: str
    data_file_name: str
    offset: int
    length: int
    #: estimated DECODED positions in this range (the owning index
    #: manifest entry's ``_ROW_COUNT`` split across its ranges; None
    #: when the entry omitted it). Broadcast decisions must use this,
    #: not ``length``: roaring bitmap containers expand up to 8
    #: positions per byte and run containers far more, so a 64 MB
    #: compressed index can decode to >500M rows.
    est_rows: Optional[float] = None


def write_dv_index_file(path: str, dv_map: dict) -> dict:
    """Write a spec-format V1 deletion vectors index file.
    ``dv_map``: {data_file_name: iterable of positions}. Returns
    {data_file_name: (offset, length)} for the index manifest entry."""
    import struct
    import zlib

    from paimon_python_spark.roaring import serialize_roaring32

    ranges = {}
    with open(path, "wb") as f:
        f.write(bytes([DV_INDEX_VERSION]))
        pos = 1
        for name, positions in dv_map.items():
            data = struct.pack(">i", DV_MAGIC) + serialize_roaring32(positions)
            ranges[name] = (pos, len(data))
            f.write(struct.pack(">i", len(data)))
            f.write(data)
            f.write(struct.pack(">I", zlib.crc32(data) & 0xFFFFFFFF))
            pos += 4 + len(data) + 4
    return ranges


def read_dv_index_entry(index_path: str, offset: int, length: int):
    """Decode one deletion vector from an index file into a sorted
    numpy position array (CRC- and magic-checked)."""
    import struct
    import zlib

    from paimon_python_spark.roaring import deserialize_roaring32

    with open(index_path, "rb") as f:
        version = f.read(1)[0]
        if version != DV_INDEX_VERSION:
            raise NotImplementedError(
                f"deletion vectors index version {version} at {index_path!r} "
                f"(only V{DV_INDEX_VERSION} supported)"
            )
        f.seek(offset)
        (size,) = struct.unpack(">i", f.read(4))
        if size != length:
            raise ValueError(
                f"DV size mismatch at {index_path!r}+{offset}: "
                f"file says {size}, manifest says {length}"
            )
        data = f.read(size)
        (crc,) = struct.unpack(">I", f.read(4))
    if zlib.crc32(data) & 0xFFFFFFFF != crc:
        raise ValueError(f"DV checksum mismatch at {index_path!r}+{offset}")
    (magic,) = struct.unpack(">i", data[:4])
    if magic != DV_MAGIC:
        raise ValueError(f"bad DV magic {magic} at {index_path!r}+{offset}")
    return deserialize_roaring32(data[4:])


def live_index_entries(
    table_path: str,
    snapshot_id: Optional[int] = None,
    snapshot: Optional[dict] = None,
    index_type: Optional[str] = None,
) -> List[dict]:
    """Driver-side metadata walk of the snapshot's index manifest:
    fold ADD/DELETE (``_KIND`` 0/1) entries into the LIVE set, across
    every index type real Paimon records there (``DELETION_VECTORS``
    deletion vectors, ``HASH`` dynamic-bucket key indexes — spec
    ``IndexManifestEntry``). ``index_type`` filters to one type. Empty
    list when the snapshot carries no index manifest."""
    from paimon_python_spark.avro_codec import read_avro_records

    if snapshot is None and snapshot_id is None:
        try:
            snapshot = read_paimon_snapshot(table_path)
        except FileNotFoundError:
            return []  # freshly-created lake: no commits, no marks
    snap = snapshot if snapshot is not None else read_paimon_snapshot(table_path, snapshot_id)
    im = snap.get("indexManifest")
    if not im:
        return []
    # index manifests are immutable like data manifests — same
    # (path, size, mtime) parse cache; a dynamic-bucket write plans
    # the index several times per commit (router, probes, old-file map)
    path = os.path.join(table_path, "manifest", im)
    key, cached = _manifest_cache_get(path)
    if cached is not None:
        recs = cached
    else:
        with open(path, "rb") as f:
            _schema, recs = read_avro_records(f.read())
        _manifest_cache_put(key, recs)
    live: dict = {}
    for r in recs:
        if index_type is not None and r.get("_INDEX_TYPE") != index_type:
            continue
        key = (
            r.get("_INDEX_TYPE"),
            bytes(r.get("_PARTITION") or b""),
            int(r.get("_BUCKET") or 0),
            r["_FILE_NAME"],
        )
        if int(r.get("_KIND") or 0) == 0:
            live[key] = r
        else:
            live.pop(key, None)
    return list(live.values())


def plan_paimon_hash_index(
    table_path: str,
    snapshot_id: Optional[int] = None,
    snapshot: Optional[dict] = None,
) -> List[dict]:
    """Live ``HASH`` (dynamic-bucket) index entries of a snapshot —
    one per (partition, bucket), each naming the ``index/`` file that
    holds the bucket's key hashcodes (spec tableindex: Hash Index)."""
    return live_index_entries(
        table_path, snapshot_id, snapshot, index_type=HASH_INDEX
    )


def plan_paimon_dv(
    table_path: str,
    snapshot_id: Optional[int] = None,
    snapshot: Optional[dict] = None,
) -> List[PaimonDvRange]:
    """Driver-side metadata walk of the snapshot's index manifest:
    fold ADD/DELETE index entries, keep DELETION_VECTORS types, return
    every (index file, data file, offset, length) range. Empty list if
    the snapshot carries no index manifest. Lenient on the two range
    field spellings real Paimon versions use."""
    live = {
        (bytes(r.get("_PARTITION") or b""), int(r.get("_BUCKET") or 0), r["_FILE_NAME"]): r
        for r in live_index_entries(
            table_path, snapshot_id, snapshot, index_type=DELETION_VECTORS_INDEX
        )
    }
    out: List[PaimonDvRange] = []
    for (_pb, _bk, fname), r in live.items():
        ranges = (
            r.get("_DELETIONS_VECTORS_RANGES")
            or r.get("_DELETION_VECTORS_RANGES")
            or []
        )
        entry_rows = r.get("_ROW_COUNT")
        per_range = (
            float(entry_rows) / len(ranges)
            if entry_rows is not None and ranges
            else None
        )
        for item in ranges:
            data_file = item.get("f0", item.get("dataFileName"))
            off = item.get("f1", item.get("offset"))
            ln = item.get("f2", item.get("length"))
            out.append(
                PaimonDvRange(
                    os.path.join(table_path, "index", fname),
                    str(data_file),
                    int(off),
                    int(ln),
                    est_rows=per_range,
                )
            )
    return out


def apply_lake_dv(
    spark,
    df,
    ranges: List[PaimonDvRange],
    file_name_col: str = "__file_name",
    pos_col: str = "__row_pos",
):
    """Drop DV-marked rows: decode the bitmaps DISTRIBUTED (mapInPandas
    over the range list — the driver only ever sees metadata) and
    anti-join on (file name, row position). Below 64 MB of total index
    the positions side broadcasts (map-side filter, the data frame never
    shuffles); above it the anti-join degrades to a shuffle instead of
    a driver OOM."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    if not ranges:
        return df
    rows = [(r.index_path, r.data_file_name, r.offset, r.length) for r in ranges]

    # fan_out: the mapInPandas below reads one DV index slice per row
    rdf = local_df(
        spark, rows, "idx string, fname string, off long, len long", fan_out=True
    )
    out_schema = f"{file_name_col} string, {pos_col} long"

    def decode(batches):
        for pdf in batches:
            names, poss = [], []
            for idx, fn, off, ln in zip(
                pdf["idx"], pdf["fname"], pdf["off"], pdf["len"]
            ):
                pos = read_dv_index_entry(str(idx), int(off), int(ln))
                if len(pos):
                    names.append(np.full(len(pos), fn, dtype=object))
                    poss.append(pos.astype(np.int64))
            if names:
                yield pd.DataFrame(
                    {
                        file_name_col: np.concatenate(names),
                        pos_col: np.concatenate(poss),
                    }
                )

    n_parts = max(1, min(len(rows), int(spark.sparkContext.defaultParallelism)))
    pos_df = rdf.repartition(n_parts).mapInPandas(decode, out_schema)
    # broadcast by DECODED cardinality (index manifest _ROW_COUNT), not
    # compressed bytes: bitmap containers expand 8 positions/byte and
    # run containers far more, so byte-sized thresholds OOM executors.
    # Entries lacking _ROW_COUNT count as worst-case bitmap expansion.
    est_total = sum(
        r.est_rows if r.est_rows is not None else 8.0 * r.length for r in ranges
    )
    if est_total <= DV_BROADCAST_ROWS:
        pos_df = F.broadcast(pos_df)
    return df.join(pos_df, [file_name_col, pos_col], "left_anti")


def paimon_type_string(field: "T.StructField") -> str:
    """Spark field → Paimon schema-file type string (reverse of
    :func:`parse_paimon_type`)."""
    dt = field.dataType
    if isinstance(dt, T.ArrayType):
        inner = paimon_type_string(
            T.StructField("e", dt.elementType, dt.containsNull)
        )
        s = f"ARRAY<{inner}>"
    elif isinstance(dt, T.MapType):
        # map keys are implicitly non-null in the spec — no marker
        k = paimon_type_string(T.StructField("k", dt.keyType, True))
        v = paimon_type_string(
            T.StructField("v", dt.valueType, dt.valueContainsNull)
        )
        s = f"MAP<{k}, {v}>"
    elif isinstance(dt, T.StructType):
        parts = ", ".join(
            f"`{f.name}` {paimon_type_string(f)}" for f in dt.fields
        )
        s = f"ROW<{parts}>"
    elif isinstance(dt, T.DecimalType):
        s = f"DECIMAL({dt.precision}, {dt.scale})"
    elif isinstance(dt, T.TimestampNTZType):
        s = "TIMESTAMP(6)"
    elif isinstance(dt, T.TimestampType):
        s = "TIMESTAMP(6) WITH LOCAL TIME ZONE"
    else:
        rev = {
            "BooleanType()": "BOOLEAN",
            "ByteType()": "TINYINT",
            "ShortType()": "SMALLINT",
            "IntegerType()": "INT",
            "LongType()": "BIGINT",
            "FloatType()": "FLOAT",
            "DoubleType()": "DOUBLE",
            "StringType()": "STRING",
            "BinaryType()": "BYTES",
            "DateType()": "DATE",
        }
        key = repr(dt)
        if key not in rev:
            raise ValueError(f"export: unsupported Spark type {dt!r}")
        s = rev[key]
    return s if field.nullable else f"{s} NOT NULL"


def export_paimon_table(table, dest_path: str, file_format: str = "parquet") -> None:
    """REVERSE bridge: write an engine table's current visible state as
    a spec-format Apache Paimon table at ``dest_path`` (JSON
    schema/snapshot, avro manifests, BinaryRow partition values) — the
    layout a Flink/Spark Paimon reader consumes, so a user can leave
    this engine as freely as they joined it. One snapshot; PK tables
    export key-value files (``_KEY_*``, sequence, kind) sorted by key
    in a single bucket.

    Driver-materializing by design (same cost class as the reference's
    ``to_pandas`` adapters): export is an interchange operation for
    driver-sized extracts, not a data path — for TB-scale handoff keep
    the data in this engine or copy its parquet files directly."""
    import datetime

    import numpy as np
    import pandas as pd
    import pyarrow as pa

    schema = table.schema
    fields = schema.spark_schema.fields
    schema_fields = [(f.name, paimon_type_string(f)) for f in fields]
    part_keys = list(schema.partition_keys)
    pks = list(schema.primary_keys)
    pdf = table.new_read_builder().new_read().to_pandas()

    def py_part_value(v, dt):
        if isinstance(dt, T.DateType) and isinstance(v, datetime.date):
            return (v - datetime.date(1970, 1, 1)).days
        if isinstance(v, np.generic):
            return v.item()
        return v

    def pa_value_table(g: "pd.DataFrame") -> "pa.Table":
        from paimon_python_spark.types import spark_type_to_pa

        cols, names = [], []
        for f in fields:
            names.append(f.name)
            cols.append(pa.array(g[f.name], type=spark_type_to_pa(f.dataType)))
        return pa.table(dict(zip(names, cols)))

    files = []
    groups = (
        [((), pdf)]
        if not part_keys
        else [
            (k if isinstance(k, tuple) else (k,), g)
            for k, g in pdf.groupby(part_keys, sort=True, dropna=False)
        ]
    )
    for kvals, g in groups:
        pvals = {
            k: py_part_value(v, schema.spark_schema[k].dataType)
            for k, v in zip(part_keys, kvals)
        }
        pvals = {k: (None if pd.isna(v) else v) for k, v in pvals.items()}
        if pks:
            trimmed = [k for k in pks if k not in part_keys]
            g = g.sort_values(trimmed, kind="mergesort").reset_index(drop=True)
            vt = pa_value_table(g)
            n = len(g)
            arrays = {}
            for k in trimmed:
                arrays[f"_KEY_{k}"] = vt[k].combine_chunks()
            arrays["_SEQUENCE_NUMBER"] = pa.array(range(n), pa.int64())
            arrays["_VALUE_KIND"] = pa.array([0] * n, pa.int32())
            for name in vt.column_names:
                arrays[name] = vt[name].combine_chunks()
            files.append((0, pvals, 0, pa.table(arrays)))
        else:
            files.append((0, pvals, 0, pa_value_table(g)))

    options = {"file.format": file_format}
    if pks:
        options["bucket"] = "1"
    write_paimon_table_fixture(
        dest_path, schema_fields, part_keys, pks, files, options=options
    )


def attach_paimon_dv_fixture(
    table_path: str,
    dv_map: dict,
    partition: Optional[dict] = None,
    bucket: int = 0,
    tag: str = "dv",
) -> None:
    """Fixture/export helper: write a spec-format DV index file +
    index manifest for ``dv_map`` ({data_file_name: positions}) and
    point the LATEST snapshot's ``indexManifest`` at it — producing
    exactly the layout a real DV-enabled Paimon writer leaves behind."""
    from paimon_python_spark.avro_codec import write_avro_records

    info = read_paimon_schema(table_path)
    part_types = [info.spark_schema[k].dataType for k in info.partition_keys]
    pvals = partition or {}
    os.makedirs(os.path.join(table_path, "index"), exist_ok=True)
    idx_name = f"index-{tag}"
    idx_path = os.path.join(table_path, "index", idx_name)
    ranges = write_dv_index_file(idx_path, dv_map)
    entry = {
        "_VERSION": 1,
        "_KIND": 0,
        "_PARTITION": encode_binary_row(
            [pvals[k] for k in info.partition_keys], part_types
        ),
        "_BUCKET": bucket,
        "_INDEX_TYPE": DELETION_VECTORS_INDEX,
        "_FILE_NAME": idx_name,
        "_FILE_SIZE": os.path.getsize(idx_path),
        "_ROW_COUNT": sum(len(list(v)) for v in dv_map.values()),
        "_DELETIONS_VECTORS_RANGES": [
            {"f0": n, "f1": o, "f2": ln} for n, (o, ln) in ranges.items()
        ],
    }
    im_name = f"index-manifest-{tag}.avro"
    write_avro_records(
        os.path.join(table_path, "manifest", im_name),
        INDEX_MANIFEST_SCHEMA,
        [entry],
    )
    sid = latest_paimon_snapshot_id(table_path)
    spath = os.path.join(table_path, "snapshot", f"snapshot-{sid}")
    with open(spath) as f:
        snap = json.load(f)
    snap["indexManifest"] = im_name
    with open(spath, "w") as f:
        json.dump(snap, f)


# ---- spec-format writing (export / fixtures) ----

SIMPLE_STATS_SCHEMA = {
    "type": "record",
    "name": "SimpleStats",
    "fields": [
        {"name": "_MIN_VALUES", "type": "bytes"},
        {"name": "_MAX_VALUES", "type": "bytes"},
        {"name": "_NULL_COUNTS", "type": ["null", {"type": "array", "items": "long"}]},
    ],
}

MANIFEST_LIST_SCHEMA = {
    "type": "record",
    "name": "manifest_file",
    "fields": [
        {"name": "_VERSION", "type": "int"},
        {"name": "_FILE_NAME", "type": "string"},
        {"name": "_FILE_SIZE", "type": "long"},
        {"name": "_NUM_ADDED_FILES", "type": "long"},
        {"name": "_NUM_DELETED_FILES", "type": "long"},
        {"name": "_PARTITION_STATS", "type": SIMPLE_STATS_SCHEMA},
        {"name": "_SCHEMA_ID", "type": "long"},
    ],
}

MANIFEST_SCHEMA = {
    "type": "record",
    "name": "manifest_entry",
    "fields": [
        {"name": "_VERSION", "type": "int"},
        {"name": "_KIND", "type": "int"},
        {"name": "_PARTITION", "type": "bytes"},
        {"name": "_BUCKET", "type": "int"},
        {"name": "_TOTAL_BUCKETS", "type": "int"},
        {
            "name": "_FILE",
            "type": {
                "type": "record",
                "name": "DataFileMeta",
                "fields": [
                    {"name": "_FILE_NAME", "type": "string"},
                    {"name": "_FILE_SIZE", "type": "long"},
                    {"name": "_ROW_COUNT", "type": "long"},
                    {"name": "_MIN_KEY", "type": "bytes"},
                    {"name": "_MAX_KEY", "type": "bytes"},
                    # first occurrence DEFINES the named record, later
                    # ones refer by name — the convention real Paimon
                    # schemas use
                    {"name": "_KEY_STATS", "type": SIMPLE_STATS_SCHEMA},
                    {"name": "_VALUE_STATS", "type": "SimpleStats"},
                    {"name": "_MIN_SEQUENCE_NUMBER", "type": "long"},
                    {"name": "_MAX_SEQUENCE_NUMBER", "type": "long"},
                    {"name": "_SCHEMA_ID", "type": "long"},
                    {"name": "_LEVEL", "type": "int"},
                    {"name": "_EXTRA_FILES", "type": {"type": "array", "items": "string"}},
                    {"name": "_CREATION_TIME", "type": ["null", "long"]},
                    {"name": "_DELETE_ROW_COUNT", "type": ["null", "long"]},
                    {"name": "_EMBEDDED_FILE_INDEX", "type": ["null", "bytes"]},
                    {"name": "_FILE_SOURCE", "type": ["null", "int"]},
                ],
            },
        },
    ],
}

_EMPTY_STATS = {"_MIN_VALUES": b"", "_MAX_VALUES": b"", "_NULL_COUNTS": None}


def _value_stats_for(table, info: "PaimonSchemaInfo") -> dict:
    """REAL ``_VALUE_STATS`` for a fixture data file: per-schema-field
    min/max encoded as BinaryRows + null counts, computed from the
    pyarrow table — so stats-based file skipping is exercised by
    fixtures exactly as a Flink-written lake would exercise it."""
    import pyarrow.compute as pc

    mins, maxs, nulls = [], [], []
    types = [f.dataType for f in info.spark_schema.fields]
    for f in info.spark_schema.fields:
        if f.name not in table.column_names:
            mins.append(None)
            maxs.append(None)
            nulls.append(table.num_rows)
            continue
        col = table[f.name]
        nulls.append(int(col.null_count))
        if col.length() == col.null_count:
            mins.append(None)
            maxs.append(None)
            continue
        try:
            mm = pc.min_max(col)
            mn, mx = mm["min"].as_py(), mm["max"].as_py()
        except Exception:
            mn = mx = None
        if isinstance(types[len(mins)], T.DateType):
            import datetime

            conv = lambda v: (
                (v - datetime.date(1970, 1, 1)).days
                if isinstance(v, datetime.date)
                else v
            )
            mn, mx = conv(mn), conv(mx)
        # sound-bound truncation for strings (prefix min / incremented-
        # prefix max, same rule as the engine tables' write.py): without
        # it a documents-style lake embeds whole documents in every
        # manifest BinaryRow — metadata amplification that breaks
        # planning at 100 TB. min_max() knows string stats are bounds,
        # not values, and never folds them as exact.
        from paimon_python_spark.write import _truncate_max, _truncate_min

        mins.append(_truncate_min(mn))
        maxs.append(_truncate_max(mx))
    try:
        return {
            "_MIN_VALUES": encode_binary_row(mins, types),
            "_MAX_VALUES": encode_binary_row(maxs, types),
            "_NULL_COUNTS": nulls,
        }
    except Exception:
        return dict(_EMPTY_STATS)


def _kv_seq_range(table) -> "tuple[Optional[int], Optional[int]]":
    """(min, max) of a kv fixture table's ``_SEQUENCE_NUMBER`` column,
    or (None, None) for value-only tables. The manifest MUST record the
    true in-file range: later commits seed their sequence base past
    every live file's max, and an understated max (the old rows-count
    default) lets fresh -D/upsert records LOSE the merge to older
    rows."""
    if "_SEQUENCE_NUMBER" not in getattr(table, "column_names", ()):
        return None, None
    col = table["_SEQUENCE_NUMBER"]
    if col.length() == 0:
        return None, None
    import pyarrow.compute as pc

    mm = pc.min_max(col)
    return mm["min"].as_py(), mm["max"].as_py()


def _spec_file_meta(
    name: str,
    size: int,
    rows: int,
    schema_id: int = 0,
    value_stats=None,
    min_key: bytes = b"",
    max_key: bytes = b"",
    min_seq: int = 0,
    max_seq: Optional[int] = None,
    level: int = 0,
    embedded_index: Optional[bytes] = None,
    extra_files: Optional[list] = None,
) -> dict:
    return {
        "_FILE_NAME": name,
        "_FILE_SIZE": size,
        "_ROW_COUNT": rows,
        "_MIN_KEY": min_key,
        "_MAX_KEY": max_key,
        "_KEY_STATS": _EMPTY_STATS,
        "_VALUE_STATS": value_stats if value_stats is not None else _EMPTY_STATS,
        "_MIN_SEQUENCE_NUMBER": min_seq,
        "_MAX_SEQUENCE_NUMBER": rows if max_seq is None else max_seq,
        "_SCHEMA_ID": schema_id,
        "_LEVEL": level,
        "_EXTRA_FILES": list(extra_files or []),
        "_CREATION_TIME": None,
        "_DELETE_ROW_COUNT": None,
        "_EMBEDDED_FILE_INDEX": embedded_index,
        "_FILE_SOURCE": None,
    }


_AVRO_PRIM = {
    "IntegerType()": "int",
    "LongType()": "long",
    "FloatType()": "float",
    "DoubleType()": "double",
    "StringType()": "string",
    "BooleanType()": "boolean",
    "BinaryType()": "bytes",
    "DateType()": "int",
}


def _write_fixture_data_file(table, fpath: str, fmt: str) -> None:
    """Write one fixture data file as parquet or avro (avro via the
    engine codec — nullable-union fields, like real Paimon writes)."""
    if fmt == "parquet":
        import pyarrow.parquet as pq

        pq.write_table(table, fpath)
        return
    if fmt == "orc":
        import pyarrow.orc as po

        po.write_table(table, fpath)
        return
    if fmt != "avro":
        raise ValueError(f"fixture format {fmt!r} unsupported")
    from paimon_python_spark.avro_codec import write_avro_records
    from paimon_python_spark.types import pa_type_to_spark

    fields = []
    for f in table.schema:
        st = repr(pa_type_to_spark(f.type))
        if st not in _AVRO_PRIM:
            raise ValueError(f"avro fixture: unsupported type {st}")
        fields.append({"name": f.name, "type": ["null", _AVRO_PRIM[st]]})
    schema = {"type": "record", "name": "paimon_row", "fields": fields}
    write_avro_records(fpath, schema, table.to_pylist())


def route_kv_fixture_files(
    table,
    key_cols: List[str],
    key_types: List[T.DataType],
    n_buckets: int,
    partition: "Optional[dict]" = None,
) -> List[tuple]:
    """Split one key-value pyarrow table into the fixture writer's
    ``[(0, partition, bucket, subtable)]`` tuples with every row routed
    by the PUBLIC extractor (``abs(murmur(BinaryRow(key))) % n``) — the
    only layout a real fixed-bucket writer produces. Hand-placing all
    rows in bucket 0 of a multi-bucket table builds a spec-INVALID lake
    where bucket pruning and bucket-closed merges are unsound by
    construction (a JVM reader would mis-prune it identically)."""
    import datetime

    buckets: dict[int, list[int]] = {}
    cols = [table[f"_KEY_{k}"].to_pylist() for k in key_cols]
    epoch = datetime.date(1970, 1, 1)
    for row_i, vals in enumerate(zip(*cols)):
        logical = []
        for v, dt in zip(vals, key_types):
            if isinstance(v, datetime.datetime):
                v = v.date()
            if isinstance(dt, T.DateType) and isinstance(v, datetime.date):
                v = (v - epoch).days
            logical.append(v)
        b = fixed_bucket(logical, key_types, n_buckets)
        buckets.setdefault(b, []).append(row_i)
    return [
        (0, dict(partition or {}), b, table.take(rows))
        for b, rows in sorted(buckets.items())
    ]


def write_paimon_table_fixture(
    path: str,
    schema_fields: List[tuple],
    partition_keys: List[str],
    primary_keys: List[str],
    files: List[tuple],
    options: Optional[dict] = None,
) -> None:
    """Write a spec-format Paimon table: JSON schema/snapshot, avro
    manifest list + manifest (nested records), BinaryRow partition
    values, hive-style ``<part>/bucket-N/`` data dirs.

    ``schema_fields``: [(name, paimon type string)];
    ``files``: [(kind 0=ADD/1=DELETE, partition dict, bucket,
    pyarrow.Table)] in commit order (a DELETE must follow the ADD of
    the same table object — it references that file).

    This is the importer's test double (no Paimon JVM in this
    container) and doubles as a minimal export path: a table written
    here is laid out exactly as the published spec describes, one
    snapshot deep. ``options={"file.format": "avro"}`` writes avro data
    files (nullable-union fields) instead of parquet.
    """
    from paimon_python_spark.avro_codec import write_avro_records

    # entry-level geometry (spec _TOTAL_BUCKETS): the table's declared
    # bucket count — bucket pruning only fires on matching geometry
    _total_buckets = max(1, int((options or {}).get("bucket", "1")))
    os.makedirs(os.path.join(path, "schema"))
    os.makedirs(os.path.join(path, "snapshot"))
    os.makedirs(os.path.join(path, "manifest"))
    with open(os.path.join(path, "schema", "schema-0"), "w") as f:
        json.dump(
            {
                "version": 3,
                "id": 0,
                "fields": [
                    {"id": i, "name": n, "type": t}
                    for i, (n, t) in enumerate(schema_fields)
                ],
                "highestFieldId": len(schema_fields) - 1,
                "partitionKeys": partition_keys,
                "primaryKeys": primary_keys,
                "options": options or {},
                "timeMillis": 0,
            },
            f,
        )

    info = read_paimon_schema(path)
    part_types = [info.spark_schema[k].dataType for k in partition_keys]

    default_name = (options or {}).get(
        "partition.default-name", DEFAULT_PARTITION_NAME
    )
    fmt = (options or {}).get("file.format", "parquet")
    entries = []
    added: dict = {}  # (table id, partition, bucket) -> file name at ADD
    for i, (kind, pvals, bucket, table) in enumerate(files):
        parts = [
            f"{k}={format_partition_segment(pvals[k], pt, default_name)}"
            for k, pt in zip(partition_keys, part_types)
        ]
        ddir = os.path.join(path, *parts, f"bucket-{bucket}")
        os.makedirs(ddir, exist_ok=True)
        fkey = (id(table), tuple(sorted(pvals.items())), bucket)
        if kind == 0:
            fname = f"data-fixture-{i}.{fmt}"
            added[fkey] = fname
            _write_fixture_data_file(table, os.path.join(ddir, fname), fmt)
        else:  # DELETE references the file its ADD created
            fname = added[fkey]
        fpath = os.path.join(ddir, fname)
        size = os.path.getsize(fpath) if os.path.exists(fpath) else 0
        entries.append(
            {
                "_VERSION": 2,
                "_KIND": kind,
                "_PARTITION": encode_binary_row(
                    [pvals[k] for k in partition_keys], part_types
                ),
                "_BUCKET": bucket,
                "_TOTAL_BUCKETS": _total_buckets,
                "_FILE": _spec_file_meta(
                    fname, size, table.num_rows,
                    value_stats=_value_stats_for(table, info),
                    min_seq=_kv_seq_range(table)[0] or 0,
                    max_seq=_kv_seq_range(table)[1],
                ),
            }
        )

    mname = "manifest-fixture-0.avro"
    write_avro_records(os.path.join(path, "manifest", mname), MANIFEST_SCHEMA, entries)
    blname = "manifest-list-fixture-base.avro"
    dlname = "manifest-list-fixture-delta.avro"
    write_avro_records(
        os.path.join(path, "manifest", blname), MANIFEST_LIST_SCHEMA, []
    )
    write_avro_records(
        os.path.join(path, "manifest", dlname),
        MANIFEST_LIST_SCHEMA,
        [
            {
                "_VERSION": 2,
                "_FILE_NAME": mname,
                "_FILE_SIZE": os.path.getsize(os.path.join(path, "manifest", mname)),
                "_NUM_ADDED_FILES": sum(1 for e in entries if e["_KIND"] == 0),
                "_NUM_DELETED_FILES": sum(1 for e in entries if e["_KIND"] == 1),
                # real stats, exactly like a JVM writer — fixtures
                # exercise manifest-level skipping with foreign bytes
                "_PARTITION_STATS": partition_stats_for_entries(entries, part_types),
                "_SCHEMA_ID": 0,
            }
        ],
    )
    n_rows = sum(t.num_rows for k, _p, _b, t in files if k == 0)
    with open(os.path.join(path, "snapshot", "snapshot-1"), "w") as f:
        json.dump(
            {
                "version": 3,
                "id": 1,
                "schemaId": 0,
                "baseManifestList": blname,
                "deltaManifestList": dlname,
                "changelogManifestList": None,
                "commitUser": "fixture",
                "commitIdentifier": 1,
                "commitKind": "APPEND",
                "timeMillis": 0,
                "logOffsets": {},
                "totalRecordCount": n_rows,
                "deltaRecordCount": n_rows,
                "changelogRecordCount": 0,
                "watermark": -9223372036854775808,
            },
            f,
        )
    write_hint_atomic(os.path.join(path, "snapshot", "LATEST"), 1)


def add_paimon_fixture_schema(
    path: str,
    schema_fields: List[tuple],
    partition_keys: Optional[List[str]] = None,
    primary_keys: Optional[List[str]] = None,
    options: Optional[dict] = None,
) -> int:
    """Write ``schema-(N+1)`` for a fixture table — models an ALTER
    TABLE by the lake's owner. ``schema_fields``: [(field_id, name,
    paimon type string)] with EXPLICIT field ids, so renames keep the
    id and adds take a fresh one (the identity field-id evolution maps
    by). Partition/primary keys and options default to the current
    schema's. Returns the new schema id."""
    cur = read_paimon_schema(path)
    new_id = cur.id + 1
    with open(os.path.join(path, "schema", f"schema-{new_id}"), "w") as f:
        json.dump(
            {
                "version": 3,
                "id": new_id,
                "fields": [
                    {"id": fid, "name": n, "type": ty}
                    for fid, n, ty in schema_fields
                ],
                "highestFieldId": max(fid for fid, _n, _t in schema_fields),
                "partitionKeys": (
                    cur.partition_keys if partition_keys is None else partition_keys
                ),
                "primaryKeys": (
                    cur.primary_keys if primary_keys is None else primary_keys
                ),
                "options": cur.options if options is None else options,
                "timeMillis": 0,
            },
            f,
        )
    return new_id


def append_paimon_fixture_snapshot(
    path: str,
    files: List[tuple],
    tag: Optional[str] = None,
    schema_id: Optional[int] = None,
    changelog_files: Optional[List[tuple]] = None,
) -> int:
    """Add a successive commit to a spec-format fixture table: new data
    files + manifest + delta manifest list, and snapshot N+1 whose BASE
    manifest list folds every manifest of snapshot N (exactly how real
    Paimon carries prior state forward). Returns the new snapshot id.

    ``files`` uses the fixture writer's tuple shape; lets tests and
    gates model a concurrently-written lake (write → read → write →
    read with no re-import)."""
    from paimon_python_spark.avro_codec import write_avro_records

    info = read_paimon_schema(path)
    if schema_id is None:
        schema_id = info.id
    elif schema_id != info.id:
        info = read_paimon_schema(path, schema_id)
    part_types = [info.spark_schema[k].dataType for k in info.partition_keys]
    default_name = info.options.get("partition.default-name", DEFAULT_PARTITION_NAME)
    _total_buckets = max(1, int(info.options.get("bucket", "1")))
    prev_id = latest_paimon_snapshot_id(path)
    if tag is None:
        # unique per commit: the old fixed default ("c2") made two
        # tag-less appends silently overwrite each other's data files
        tag = f"c{prev_id + 1}"
    prev = read_paimon_snapshot(path, prev_id)
    prior: List[str] = []
    for lst in (prev.get("baseManifestList"), prev.get("deltaManifestList")):
        if lst:
            prior.extend(read_manifest_list(path, lst))

    # DELETE entries must reference a REAL prior ADD's file name — the
    # plan fold pops by (partition, bucket, file_name), so a fresh name
    # would be a silent no-op (mirrors write_paimon_table_fixture, which
    # reuses the ADD's name). Resolve against the prior snapshot's
    # manifests: a str in the tuple's table slot names the file to
    # delete; a non-str deletes the latest prior ADD in that
    # (partition, bucket).
    prior_adds: List[PaimonFileEntry] = []
    if any(f[0] != 0 for f in files):
        seen: dict[tuple, PaimonFileEntry] = {}
        for mn in prior:
            for e in read_manifest(path, mn, part_types, info.partition_keys):
                key = (tuple(sorted(e.partition.items())), e.bucket, e.file_name)
                if e.kind == 0:
                    seen[key] = e
                else:
                    seen.pop(key, None)
        prior_adds = list(seen.values())

    entries = []
    for i, (kind, pvals, bucket, table) in enumerate(files):
        parts = [
            f"{k}={format_partition_segment(pvals[k], pt, default_name)}"
            for k, pt in zip(info.partition_keys, part_types)
        ]
        ddir = os.path.join(path, *parts, f"bucket-{bucket}")
        os.makedirs(ddir, exist_ok=True)
        fmt = info.options.get("file.format", "parquet")
        raw_part = encode_binary_row(
            [pvals[k] for k in info.partition_keys], part_types
        )
        if kind != 0:
            canon = tuple(
                sorted(
                    zip(
                        info.partition_keys,
                        decode_binary_row(bytes(raw_part), part_types),
                    )
                )
            )
            cands = [
                e
                for e in prior_adds
                if e.bucket == bucket and tuple(sorted(e.partition.items())) == canon
            ]
            if isinstance(table, str):
                cands = [e for e in cands if e.file_name == table]
            if not cands:
                raise ValueError(
                    f"append_paimon_fixture_snapshot: DELETE entry {i} matches "
                    f"no live prior ADD in partition={dict(canon)} bucket={bucket}"
                    + (f" name={table!r}" if isinstance(table, str) else "")
                )
            target = cands[-1]
            entries.append(
                {
                    "_VERSION": 2,
                    "_KIND": kind,
                    "_PARTITION": raw_part,
                    "_BUCKET": bucket,
                    "_TOTAL_BUCKETS": _total_buckets,
                    "_FILE": _spec_file_meta(
                        target.file_name,
                        target.file_size,
                        target.row_count,
                        schema_id=schema_id,
                    ),
                }
            )
            continue
        fname = f"data-fixture-{tag}-{i}.{fmt}"
        fpath = os.path.join(ddir, fname)
        _write_fixture_data_file(table, fpath, fmt)
        size = os.path.getsize(fpath) if os.path.exists(fpath) else 0
        entries.append(
            {
                "_VERSION": 2,
                "_KIND": kind,
                "_PARTITION": raw_part,
                "_BUCKET": bucket,
                "_TOTAL_BUCKETS": _total_buckets,
                "_FILE": _spec_file_meta(
                    fname, size, table.num_rows, schema_id=schema_id,
                    value_stats=_value_stats_for(table, info),
                    min_seq=_kv_seq_range(table)[0] or 0,
                    max_seq=_kv_seq_range(table)[1],
                ),
            }
        )

    mname = f"manifest-fixture-{tag}.avro"
    write_avro_records(os.path.join(path, "manifest", mname), MANIFEST_SCHEMA, entries)

    def _list_entry(name: str, stats=None) -> dict:
        return {
            "_VERSION": 2,
            "_FILE_NAME": name,
            "_FILE_SIZE": os.path.getsize(os.path.join(path, "manifest", name)),
            "_NUM_ADDED_FILES": 0,
            "_NUM_DELETED_FILES": 0,
            "_PARTITION_STATS": stats or _EMPTY_STATS,
            "_SCHEMA_ID": 0,
        }

    clname = None
    if changelog_files:
        cl_entries = []
        for i, (pvals, bucket, table) in enumerate(changelog_files):
            parts = [
                f"{k}={format_partition_segment(pvals[k], pt, default_name)}"
                for k, pt in zip(info.partition_keys, part_types)
            ]
            ddir = os.path.join(path, *parts, f"bucket-{bucket}")
            os.makedirs(ddir, exist_ok=True)
            fmt = info.options.get("file.format", "parquet")
            fname = f"changelog-fixture-{tag}-{i}.{fmt}"
            fpath = os.path.join(ddir, fname)
            _write_fixture_data_file(table, fpath, fmt)
            cl_entries.append(
                {
                    "_VERSION": 2,
                    "_KIND": 0,
                    "_PARTITION": encode_binary_row(
                        [pvals[k] for k in info.partition_keys], part_types
                    ),
                    "_BUCKET": bucket,
                    "_TOTAL_BUCKETS": _total_buckets,
                    "_FILE": _spec_file_meta(
                        fname,
                        os.path.getsize(fpath),
                        table.num_rows,
                        schema_id=schema_id,
                    ),
                }
            )
        cmname = f"manifest-changelog-{tag}.avro"
        write_avro_records(
            os.path.join(path, "manifest", cmname), MANIFEST_SCHEMA, cl_entries
        )
        clname = f"manifest-list-fixture-{tag}-changelog.avro"

    blname = f"manifest-list-fixture-{tag}-base.avro"
    dlname = f"manifest-list-fixture-{tag}-delta.avro"
    write_avro_records(
        os.path.join(path, "manifest", blname),
        MANIFEST_LIST_SCHEMA,
        [_list_entry(n) for n in prior],
    )
    write_avro_records(
        os.path.join(path, "manifest", dlname),
        MANIFEST_LIST_SCHEMA,
        [_list_entry(mname, partition_stats_for_entries(entries, part_types))],
    )
    if clname:
        write_avro_records(
            os.path.join(path, "manifest", clname),
            MANIFEST_LIST_SCHEMA,
            [_list_entry(cmname)],
        )
    new_id = prev_id + 1
    n_rows = sum(t.num_rows for k, _p, _b, t in files if k == 0)
    with open(os.path.join(path, "snapshot", f"snapshot-{new_id}"), "w") as f:
        json.dump(
            {
                "version": 3,
                "id": new_id,
                "schemaId": schema_id,
                "baseManifestList": blname,
                "deltaManifestList": dlname,
                "changelogManifestList": clname,
                "indexManifest": prev.get("indexManifest"),
                "commitUser": "fixture",
                "commitIdentifier": new_id,
                "commitKind": "APPEND",
                "timeMillis": 0,
                "logOffsets": {},
                "totalRecordCount": int(prev.get("totalRecordCount", 0)) + n_rows,
                "deltaRecordCount": n_rows,
                "changelogRecordCount": 0,
                "watermark": -9223372036854775808,
            },
            f,
        )
    write_hint_atomic(os.path.join(path, "snapshot", "LATEST"), new_id)
    return new_id


# ---- shared read recipes (import + in-place lake read) ----


def paimon_kv_schema(info: PaimonSchemaInfo) -> T.StructType:
    """Physical schema of a Paimon PK table's key-value data files:
    ``_KEY_<k>`` for each trimmed primary key (PK minus partition keys —
    Paimon trims them), ``_SEQUENCE_NUMBER``, ``_VALUE_KIND``, then all
    value fields."""
    trimmed = [k for k in info.primary_keys if k not in info.partition_keys]
    fields = [
        T.StructField(f"_KEY_{k}", info.spark_schema[k].dataType) for k in trimmed
    ]
    fields.append(T.StructField("_SEQUENCE_NUMBER", T.LongType()))
    fields.append(T.StructField("_VALUE_KIND", T.IntegerType()))
    fields.extend(T.StructField(f.name, f.dataType) for f in info.spark_schema.fields)
    return T.StructType(fields)


def _load_lake_files(
    spark,
    paths: List[str],
    fmt: str,
    physical: T.StructType,
    file_name_col: "str | None" = None,
    row_pos_col: "str | None" = None,
):
    """Load Paimon data files of any supported format as one DataFrame.

    parquet/orc use Spark's native vectorized readers with
    ``mergeSchema`` so files written under older schema versions surface
    missing columns as NULL (Paimon's schema-evolution read contract)
    instead of failing; avro goes through the engine's distributed codec
    (``binaryFile`` + mapInPandas — no spark-avro dependency), which
    needs the explicit physical schema.

    ``file_name_col`` appends each row's source file name. The avro
    path tags rows inside the codec — ``input_file_name()`` on top of
    ``mapInPandas`` misattributes provenance when one task decodes
    several files into a concatenated batch, so callers that need
    per-file tie-breaking must request the column here.

    ``row_pos_col`` appends the row's 0-based position within its file
    (deletion vectors mark (file, position) pairs): parquet via the
    ``_metadata.row_index`` metadata column, avro via the engine codec,
    orc via the pyarrow.orc codec path (Spark's native orc reader has
    no row-index metadata column)."""
    from pyspark.sql import functions as F

    if fmt == "avro":
        from paimon_python_spark.read import _read_avro_df

        return _read_avro_df(
            spark,
            paths,
            physical,
            file_name_col=file_name_col,
            row_pos_col=row_pos_col,
        )
    if fmt == "orc" and row_pos_col:
        # Spark's native orc reader has no _metadata.row_index — DV
        # reads over orc route through the pyarrow.orc codec path,
        # which numbers rows per file like the avro codec does
        from paimon_python_spark.read import _read_orc_df

        return _read_orc_df(
            spark,
            paths,
            physical,
            file_name_col=file_name_col,
            row_pos_col=row_pos_col,
        )
    df = spark.read.format(fmt).option("mergeSchema", "true").load(paths)
    if row_pos_col:
        df = df.withColumn(row_pos_col, F.col("_metadata.row_index"))
    if file_name_col:
        # _metadata.file_name, NOT input_file_name(): the metadata
        # struct resolves AT the scan, so data-column predicates above
        # it still push into the parquet reader — a projection over the
        # non-deterministic input_file_name() blocks PushedFilters
        # entirely (caught by test_lake_read_residual_filter_pushes_to_scan)
        df = df.withColumn(file_name_col, F.col("_metadata.file_name"))
    return df


#: (table_path, old schema id, current schema id) → colmap; schema
#: files are immutable per id, so entries never invalidate
_COLMAP_CACHE: "dict[tuple, Optional[dict]]" = {}


def field_id_colmap(table_path: str, info, schema_id: int) -> Optional[dict]:
    """{current value-column name: source column name or None} for a
    file written under ``schema_id`` — matched BY FIELD ID, the
    identity that survives rename/reorder evolution (the pyarrow-read
    twin of :func:`_mapped_select`; PK/partition/system columns map by
    name, Paimon forbids renaming them). None when the file is
    current-schema (no remap needed). Memoized per (table, old, new)
    schema-id pair — planning a large evolved lake must not re-parse
    the same schema JSON once per entry."""
    if schema_id == info.id:
        return None
    key = (table_path, schema_id, info.id)
    if key in _COLMAP_CACHE:
        return _COLMAP_CACHE[key]
    oinfo = read_paimon_schema(table_path, schema_id)
    old_by_id = {
        fid: f.name for fid, f in zip(oinfo.field_ids, oinfo.spark_schema.fields)
    }
    old_names = {f.name for f in oinfo.spark_schema.fields}
    cur_ids = info.field_ids or list(range(len(info.spark_schema.fields)))
    out: dict = {}
    for fid, f in zip(cur_ids, info.spark_schema.fields):
        if f.name in info.partition_keys:
            continue
        if oinfo.field_ids:
            out[f.name] = old_by_id.get(fid)
        else:
            out[f.name] = f.name if f.name in old_names else None
    if len(_COLMAP_CACHE) > 1024:
        _COLMAP_CACHE.clear()
    _COLMAP_CACHE[key] = out
    return out


def _mapped_select(oinfo: PaimonSchemaInfo, info: PaimonSchemaInfo, kv: bool, skip=()):
    """Select list (SQL expression strings for ``selectExpr`` — one
    py4j round trip for the whole list instead of 3 per column, this
    runs per schema group on every planned read) projecting a file
    group written under ``oinfo`` to the CURRENT schema ``info``,
    matched BY FIELD ID — the identity that survives rename/reorder
    evolution (reference builds the same index mapping per file,
    data_file_record_reader.py:86-98). A current field whose id is
    absent from the old schema surfaces NULL; an old field whose id was
    dropped simply isn't selected. PK and partition columns map by name
    (Paimon forbids renaming them), as do the ``_KEY_*``/sequence/kind
    system columns on kv files. Falls back to by-name matching when the
    old schema carries no field ids (legacy fixtures)."""
    from paimon_python_spark._localdf import quote_ident
    from paimon_python_spark.write import KIND_COL, SEQ_COL

    old_by_id = {
        fid: f.name
        for fid, f in zip(oinfo.field_ids, oinfo.spark_schema.fields)
    }
    old_names = {f.name for f in oinfo.spark_schema.fields}
    cols = []
    if kv:
        trimmed = [k for k in info.primary_keys if k not in info.partition_keys]
        cols += [quote_ident(f"_KEY_{k}") for k in trimmed]
        cols += [quote_ident(SEQ_COL), quote_ident(KIND_COL)]
    cur_ids = info.field_ids or list(range(len(info.spark_schema.fields)))
    for fid, f in zip(cur_ids, info.spark_schema.fields):
        if f.name in skip:
            continue
        if oinfo.field_ids:
            src_name = old_by_id.get(fid)
        else:
            src_name = f.name if f.name in old_names else None
        src = "NULL" if src_name is None else quote_ident(src_name)
        cols.append(
            f"CAST({src} AS {f.dataType.simpleString()}) "
            f"AS {quote_ident(f.name)}"
        )
    return cols


def _load_lake_entries(
    spark,
    info: PaimonSchemaInfo,
    entries,
    src,
    fmt: str,
    kv: bool,
    table_path: "str | None" = None,
    file_name_col: "str | None" = None,
    row_pos_col: "str | None" = None,
    skip_cols=(),
):
    """Load planned entries honoring FIELD-ID schema evolution: files
    group by the ``_SCHEMA_ID`` they were written under, each group
    loads with its own physical schema, projects to the current schema
    via :func:`_mapped_select`, and the groups union by name. By-name
    ``mergeSchema`` alone silently misreads renamed/reordered columns
    (a renamed column would surface NULL); the id mapping is exact."""
    from functools import reduce

    groups: dict[int, list] = {}
    for e in entries:
        groups.setdefault(e.schema_id, []).append(e)
    parts = []
    for sid in sorted(groups):
        es = groups[sid]
        if sid == info.id:
            oinfo = info
        elif table_path is None:
            raise ValueError(
                f"lake read: entries were written under schema-{sid} but no "
                "table_path was provided to load it for field-id mapping"
            )
        else:
            oinfo = read_paimon_schema(table_path, sid)
        physical = (
            paimon_kv_schema(oinfo)
            if kv
            else T.StructType(
                [f for f in oinfo.spark_schema.fields if f.name not in skip_cols]
            )
        )
        df = _load_lake_files(
            spark,
            [src(e) for e in es],
            fmt,
            physical,
            file_name_col=file_name_col,
            row_pos_col=row_pos_col,
        )
        sel = _mapped_select(oinfo, info, kv=kv, skip=skip_cols)
        from paimon_python_spark._localdf import quote_ident

        extra = [quote_ident(c) for c in (file_name_col, row_pos_col) if c]
        parts.append(df.selectExpr(*sel, *extra))
    return reduce(lambda a, b: a.unionByName(b), parts)


#: value dtypes the in-task PK merges (lake and engine) keep exact
#: through the arrow→pandas→arrow roundtrip (others take the
#: key-window path)
_BUCKET_LOCAL_TYPES = (
    T.IntegerType, T.LongType, T.ShortType, T.ByteType, T.BooleanType,
    T.FloatType, T.DoubleType, T.StringType, T.DateType,
)

#: default per-(partition, bucket) on-disk byte budget for the in-task
#: merge. The merge materializes one whole group in a single task's
#: pandas memory, so a misconfigured table (bucket=1, or a skewed
#: bucket key) must NOT take this path: above the budget the builders
#: fall back to the exact key-window merge, whose shuffle spills
#: instead of OOMing. 1 GiB on disk ≈ a few GiB decoded — comfortably
#: inside one executor task at default sizing. Override per table with
#: option ``bucket-local.max-group-bytes``.
_BUCKET_LOCAL_MAX_GROUP_BYTES = 1 << 30


def bucket_local_budget(options) -> int:
    """The table's per-group byte budget for the in-task merge."""
    return int(
        options.get("bucket-local.max-group-bytes", _BUCKET_LOCAL_MAX_GROUP_BYTES)
    )


def bucket_local_merge_ok(options, spark_schema, fmt: str, largest_group: int) -> bool:
    """The eligibility both read builders share for the NO-SHUFFLE
    in-task merge: parquet/orc files, plain deduplicate engine without
    sequence.field, value dtypes the pandas roundtrip keeps exact, and
    — the scale guard — no group larger than the budget on disk (a
    whole group merges in ONE task's memory; an oversized group falls
    back to the exact key-window path, which shuffles but spills
    instead of OOMing). Format-specific checks stay with the caller."""
    return (
        fmt in ("parquet", "orc")
        and options.get("merge-engine", "deduplicate") == "deduplicate"
        and not options.get("sequence.field")
        and largest_group <= bucket_local_budget(options)
        and all(
            isinstance(f.dataType, _BUCKET_LOCAL_TYPES)
            for f in spark_schema.fields
        )
    )


def max_group_bytes(entries) -> int:
    """Largest per-(partition, bucket) sum of on-disk file sizes —
    the single-task memory proxy the in-task merge is gated on."""
    sizes: dict = {}
    for e in entries:
        key = (tuple(sorted(e.partition.items())), e.bucket)
        sizes[key] = sizes.get(key, 0) + int(e.file_size or 0)
    return max(sizes.values(), default=0)


def _bucket_local_merge_ok(info: PaimonSchemaInfo, entries, fmt: str, dv_ranges) -> bool:
    """Lake eligibility for the in-task merge: the shared gate plus
    fixed bucket geometry consistent across entries, a single schema
    version (no field-id remap), no deletion vectors, and no
    cross-partition PK."""
    if dv_ranges or not bucket_local_merge_ok(
        info.options, info.spark_schema, fmt, max_group_bytes(entries)
    ):
        return False
    nb = int(info.options.get("bucket", "-1"))
    if nb < 1:
        # DYNAMIC (HASH_DYNAMIC) lakes are bucket-closed too: the hash
        # index pins every key to exactly one bucket, so the per-group
        # merge stays exact. CROSS_PARTITION (PK without the partition
        # keys) has no such pin — stay on the exact key-window path.
        if info.partition_keys and not (
            set(info.partition_keys) <= set(info.primary_keys)
        ):
            return False
    if any(e.schema_id != info.id for e in entries):
        return False
    # mixed geometry (pre-rescale history): stay exact
    return all(e.total_buckets in (None, nb) for e in entries)


def _json_safe_part(info, partition: dict) -> dict:
    """Partition values for a JSON group spec (dates as ISO strings)."""
    out = {}
    for k, v in logical_partition_values(info, partition).items():
        out[k] = v.isoformat() if hasattr(v, "isoformat") else v
    return out


def _part_value(info, name, v):
    """A group spec's partition value back to its logical Python value."""
    import datetime

    if v is not None and isinstance(info.spark_schema[name].dataType, T.DateType):
        return datetime.date.fromisoformat(v)
    return v


#: the lake's ascending merge order inside a group: sequence number,
#: then level DESCENDING (level 0 holds the newest runs), then manifest
#: entry order (a later commit wins)
LAKE_MERGE_ORDER = ["_SEQUENCE_NUMBER", "__neg_lvl", "__idx"]


def plan_lake_groups(info, entries, src, fmt, colmap=None, dv_by_file=None):
    """JSON specs of a lake read's in-task units: one per (partition,
    bucket) group of a PK lake — the merge unit, closed because a key
    lives in exactly one group — and one per file of an append lake.
    Each spec lists its files as ``[entry index, path, level, field-id
    colmap, DV (index, offset, length) or None]`` plus the group's
    JSON-safe partition values. ``colmap`` maps a schema id to its
    column map; ``dv_by_file`` maps a data file name to its DV triple."""
    kv = bool(info.primary_keys)
    dv_by_file = dv_by_file or {}
    groups: dict = {}
    for i, e in enumerate(entries):
        key = (tuple(sorted(e.partition.items())), e.bucket) if kv else i
        groups.setdefault(key, []).append((i, e))
    return [
        json.dumps(
            {
                "kv": kv,
                "fmt": fmt,
                "files": [
                    [
                        i,
                        src(e),
                        e.level,
                        colmap(e.schema_id) if colmap else None,
                        dv_by_file.get(e.file_name),
                    ]
                    for i, e in es
                ],
                "partition": _json_safe_part(info, es[0][1].partition),
            }
        )
        for _, es in sorted(groups.items())
    ]


def _filler_pa_type(info, col: str):
    """Arrow type for a NULL-filled column (dropped field id in a
    pre-evolution file): value/key columns follow the current table
    schema; the two sequence system columns are fixed by the writer
    (paimon_lake._write_lake_group: int64 / int32)."""
    import pyarrow as pa

    from paimon_python_spark.types import spark_type_to_pa

    if col == "_SEQUENCE_NUMBER":
        return pa.int64()
    if col == "_VALUE_KIND":
        return pa.int32()
    base = col[5:] if col.startswith("_KEY_") else col
    for f in info.spark_schema.fields:
        if f.name == base:
            return spark_type_to_pa(f.dataType)
    return pa.null()


def _lake_key_cols(info) -> list:
    return [f"_KEY_{k}" for k in info.primary_keys if k not in info.partition_keys]


def read_lake_group(info, spec: dict, value_names, arrow_filter=None):
    """One planned group's stored rows as an ArrowDtype frame (NULL
    ints and longs above 2^53 stay exact): the kv system columns when
    ``spec["kv"]``, ``value_names``, and the merge-order tie-breaks
    ``__neg_lvl``/``__idx``. Each file reads by its OWN column names
    (field-id colmap), drops its DV-marked positions, renames to the
    current schema and NULL-fills missing columns with typed fillers.
    ``arrow_filter`` (a key filter) applies only to files without a
    deletion vector: DV positions count rows of the whole file."""
    import pandas as pd

    from paimon_python_spark.agg_merge import read_group_file

    sys_cols = (
        _lake_key_cols(info) + ["_SEQUENCE_NUMBER", "_VALUE_KIND"]
        if spec["kv"]
        else []
    )
    cols = sys_cols + list(value_names)
    frames = []
    for idx, path, level, colmap, dv in spec["files"]:
        src_cols = sys_cols + (
            [colmap[c] for c in value_names if colmap.get(c)]
            if colmap
            else list(value_names)
        )
        f = read_group_file(
            path, spec["fmt"], src_cols, None if dv else arrow_filter
        ).to_pandas(types_mapper=pd.ArrowDtype)
        if dv:
            import numpy as np

            pos = read_dv_index_entry(str(dv[0]), int(dv[1]), int(dv[2]))
            keep = np.setdiff1d(
                np.arange(len(f), dtype=np.int64), pos.astype(np.int64)
            )
            f = f.iloc[keep].reset_index(drop=True)
        if colmap:
            f = f.rename(
                columns={colmap[c]: c for c in value_names if colmap.get(c)}
            )
        for c in cols:
            if c not in f.columns:
                # dtype-explicit filler: an object all-NA column would
                # make pd.concat's result dtype depend on pandas version
                f[c] = pd.Series(
                    pd.NA,
                    index=f.index,
                    dtype=pd.ArrowDtype(_filler_pa_type(info, c)),
                )
        f["__neg_lvl"] = -level
        f["__idx"] = idx
        frames.append(f)
    return pd.concat(frames, ignore_index=True)


def merge_lake_group(info, spec: dict, value_names, arrow_filter=None):
    """A PK lake group's visible rows: :func:`read_lake_group` through
    the shared in-task merge kernel."""
    from paimon_python_spark.agg_merge import merge_pk_group

    return merge_pk_group(
        read_lake_group(info, spec, value_names, arrow_filter),
        _lake_key_cols(info),
        LAKE_MERGE_ORDER,
        "_VALUE_KIND",
        value_names,
        info.options,
    )


def lake_group_output(info, spec: dict, g, fields):
    """``fields`` of a group's rows as plain-object columns, partition
    values injected from the spec. Object scalars stay EXACT (NULL ints
    never detour through float64), and Spark's arrow serializer takes
    them where it rejects chunk-backed ArrowDtype columns."""
    import pandas as pd

    out = pd.DataFrame(index=g.index)
    for f in fields:
        if f.name in info.partition_keys:
            v = _part_value(info, f.name, spec["partition"].get(f.name))
            out[f.name] = pd.Series([v] * len(g), index=g.index, dtype=object)
        else:
            col = g[f.name]
            out[f.name] = col.astype(object).where(col.notna(), None)
    return out


def merge_pk_entries_bucket_local(
    spark,
    info: PaimonSchemaInfo,
    entries,
    src,
    needed_cols=None,
    fmt="parquet",
    key_predicate=None,
):
    """NO-SHUFFLE merge of a bucket-closed PK lake — real Paimon's own
    execution shape: a key lives in exactly ONE (partition, bucket)
    group, so one task per group reads its files with pyarrow and runs
    the shared in-task merge (:func:`merge_lake_group`). The
    key-window path shuffles EVERY scanned byte by key; per-group state
    here is bounded by bucket sizing exactly as in Paimon's own
    per-bucket merge. ``needed_cols`` prunes the reads to projection ∪
    predicate columns (keys always read); ``key_predicate`` (on the
    ``_KEY_*`` columns) filters parquet reads before the merge. Plan
    shape: scan → mapInPandas, zero Exchange nodes."""
    part_keys = list(info.partition_keys)
    if needed_cols is not None:
        keep = set(needed_cols) | set(info.primary_keys) | set(part_keys)
        value_fields = [f for f in info.spark_schema.fields if f.name in keep]
    else:
        value_fields = list(info.spark_schema.fields)
    value_names = [f.name for f in value_fields if f.name not in part_keys]
    specs = [(s,) for s in plan_lake_groups(info, entries, src, fmt)]

    def _merge_groups(batches):
        from paimon_python_spark.agg_merge import key_arrow_filter

        arrow_filter = key_arrow_filter(key_predicate)
        for pdf_in in batches:
            for spec_s in pdf_in["spec"]:
                spec = json.loads(spec_s)
                g = merge_lake_group(info, spec, value_names, arrow_filter)
                yield lake_group_output(info, spec, g, value_fields)

    # one spec row per task partition via parallelize(numSlices=n): each
    # group merges alone and the plan carries ZERO Exchange nodes — the
    # spec strings are the only driver→executor payload (KB-scale)
    n = max(1, len(specs))
    plan_df = spark.createDataFrame(
        spark.sparkContext.parallelize(specs, numSlices=n), "spec string"
    )
    return plan_df.mapInPandas(_merge_groups, T.StructType(value_fields))


def merge_paimon_pk_entries(
    spark,
    info: PaimonSchemaInfo,
    entries,
    src,
    fmt: str,
    dv_ranges=None,
    table_path: "str | None" = None,
    needed_cols=None,
    key_predicate=None,
):
    """Distributed merge of a PK table's key-value files into the
    visible rows: max ``_SEQUENCE_NUMBER`` per (partition, key) wins,
    ties broken deterministically by LSM level (0 = newest) then
    manifest entry order (later commit wins — the reference's
    sort-merge input-order convention); ``-D``/``-U`` kinds dropped.

    ``dv_ranges`` (deletion-vector tables): marked (file, position)
    pairs are anti-joined out BEFORE the merge window — DV mode's
    whole point is that superseded versions are already marked, but
    running the merge afterwards anyway is idempotent and keeps the
    result exact even on partially-marked lakes.

    ``src`` maps a :class:`PaimonFileEntry` to its absolute path.
    Returns a DataFrame with exactly the declared schema columns."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from paimon_python_spark.write import KIND_COL, SEQ_COL

    if not entries:
        return local_df(spark, [], info.spark_schema)
    dv_ranges = _relevant_dv(dv_ranges, entries)
    if _bucket_local_merge_ok(info, entries, fmt, dv_ranges):
        # fixed-bucket geometry makes the merge closed per (partition,
        # bucket) group: take the NO-SHUFFLE per-group path (real
        # Paimon's own execution shape) instead of the key-window
        # exchange below
        return merge_pk_entries_bucket_local(
            spark,
            info,
            entries,
            src,
            needed_cols=needed_cols,
            fmt=fmt,
            key_predicate=key_predicate,
        )
    raw = _load_lake_entries(
        spark,
        info,
        entries,
        src,
        fmt,
        kv=True,
        table_path=table_path,
        file_name_col="__file_name",
        row_pos_col="__row_pos" if dv_ranges else None,
    )
    if dv_ranges:
        raw = apply_lake_dv(spark, raw, dv_ranges, "__file_name", "__row_pos")
    if key_predicate is not None:
        # key predicates are version-invariant (every version of a key
        # shares its _KEY_* values), so filtering BEFORE the merge
        # window is exact — and Catalyst pushes the filter into the
        # parquet scan, so the exchange feeding the window carries only
        # matching keys' versions
        raw = raw.filter(key_predicate.to_column())
    value_cols = [f.name for f in info.spark_schema.fields]
    engine = info.options.get("merge-engine", "deduplicate")
    if engine != "deduplicate":
        # a lake declaring first-row / partial-update / aggregation
        # carries the SAME options vocabulary as the engine's own
        # tables, so the shared merge_on_read resolves it (hash
        # aggregates for partial-update/aggregation — map-side combine,
        # not a window); reading such a lake as deduplicate would be a
        # silently wrong answer
        from paimon_python_spark.read import merge_on_read

        merged = merge_on_read(
            raw.select(*value_cols, SEQ_COL, KIND_COL),
            info,
            seq_col=SEQ_COL,
            kind_col=KIND_COL,
        )
        return merged.select(
            *[
                F.col(f.name).cast(f.dataType).alias(f.name)
                for f in info.spark_schema.fields
            ]
        )
    merge_keys = list(dict.fromkeys(info.partition_keys + info.primary_keys))
    # file names are UUID-unique within a Paimon table, so a broadcast
    # (file_name → entry order, level) lookup rides next to every row
    order_rows = [(e.file_name, i, e.level) for i, e in enumerate(entries)]

    order_df = F.broadcast(
        local_df(
            spark,
            order_rows,
            "__file_name string, __entry_idx int, __level int",
            max_slices=1,
        )
    )
    raw = raw.join(order_df, "__file_name")
    if info.options.get("ignore-delete", "false").lower() == "true":
        # ignore-delete: retracts drop BEFORE the merge so a -D can
        # never erase the standing row (read.py's pre-merge filter)
        raw = raw.filter(F.col(KIND_COL).isin(0, 2))
    w = Window.partitionBy(*merge_keys).orderBy(
        F.col(SEQ_COL).desc(), F.col("__level").asc(), F.col("__entry_idx").desc()
    )
    from paimon_python_spark._localdf import cast_select_sql

    return (
        raw.select(*value_cols, SEQ_COL, KIND_COL, "__level", "__entry_idx")
        .withColumn("__rn", F.row_number().over(w))
        .filter("__rn = 1")
        .filter(F.col(KIND_COL).isin(0, 2))  # +I / +U survive
        # align physical widths with the declared schema — one parsed
        # select (single py4j round trip) per merged read (guide §5.3)
        .selectExpr(*cast_select_sql(info.spark_schema.fields))
    )


def _relevant_dv(dv_ranges, entries):
    """Keep only DV ranges that target a planned entry's file (pruned
    partitions' vectors never decode)."""
    if not dv_ranges:
        return []
    names = {e.file_name for e in entries}
    return [r for r in dv_ranges if r.data_file_name in names]


def read_paimon_append_entries(
    spark,
    info: PaimonSchemaInfo,
    entries,
    src,
    fmt: str,
    dv_ranges=None,
    table_path: "str | None" = None,
):
    """Read an append table's live files in place. Partition columns
    that are not physically present in the data files (hive-style
    layouts) are injected per partition group from the decoded manifest
    BinaryRow values; files that do carry them load in one scan.

    All loads route through :func:`_load_lake_entries` so the
    codec-based avro path (no spark-avro dependency) and FIELD-ID
    schema evolution (rename/reorder, added columns NULL-filled) apply
    to append tables exactly as they do to PK tables.
    ``dv_ranges``: row-level deletes on append tables (Paimon's
    DELETE-FROM support) anti-join out by (file, position)."""
    from functools import reduce

    from pyspark.sql import functions as F

    if not entries:
        return local_df(spark, [], info.spark_schema)
    dv_ranges = _relevant_dv(dv_ranges, entries)
    pos_col = "__row_pos" if dv_ranges else None
    cast_cols = [
        F.col(f.name).cast(f.dataType).alias(f.name)
        for f in info.spark_schema.fields
    ]
    if not info.partition_keys:
        df = _load_lake_entries(
            spark,
            info,
            entries,
            src,
            fmt,
            kv=False,
            table_path=table_path,
            file_name_col="__file_name" if dv_ranges else None,
            row_pos_col=pos_col,
        )
        if dv_ranges:
            df = apply_lake_dv(spark, df, dv_ranges, "__file_name", pos_col)
        return df.select(*cast_cols)
    # Partition values come AUTHORITATIVELY from the manifest entry's
    # BinaryRow, never from the file bytes: hive-style files don't carry
    # the columns at all, and a mixed-provenance lake (fixture/JVM files
    # that do + engine appends that don't) used to silently NULL-fill
    # whichever layout a single sampled file didn't match. ONE scan with
    # the partition columns skipped, then a broadcast (file -> partition
    # values) map joins them back — no per-partition union (a
    # 10k-partition lake would otherwise plan a 10k-way union), no
    # sample file open at plan time.
    fn = "__file_name"
    df = _load_lake_entries(
        spark,
        info,
        entries,
        src,
        fmt,
        kv=False,
        table_path=table_path,
        file_name_col=fn,
        row_pos_col=pos_col,
        skip_cols=tuple(info.partition_keys),
    )
    if dv_ranges:
        df = apply_lake_dv(spark, df, dv_ranges, fn, pos_col)
    rows, seen = [], set()
    for e in entries:
        if e.file_name in seen:
            continue
        seen.add(e.file_name)
        pv = logical_partition_values(info, e.partition)
        rows.append((e.file_name, *[pv[k] for k in info.partition_keys]))

    pmap = local_df(
        spark,
        rows,
        T.StructType(
            [T.StructField(fn, T.StringType(), False)]
            + [
                T.StructField(k, info.spark_schema[k].dataType, True)
                for k in info.partition_keys
            ]
        ),
        max_slices=1,
    )
    return df.join(F.broadcast(pmap), fn).select(*cast_cols)


# ---- import ----


def plan_paimon_delta(table_path: str, snapshot_id: int) -> List[PaimonFileEntry]:
    """ADD entries of ONE snapshot's delta manifest list — the files
    that commit introduced (used by snapshot-by-snapshot history
    replay; compaction rewrites carry DELETE entries and are skipped
    upstream by commitKind)."""
    info = read_paimon_schema(table_path)
    snap = read_paimon_snapshot(table_path, snapshot_id)
    part_types = [info.spark_schema[k].dataType for k in info.partition_keys]
    out: List[PaimonFileEntry] = []
    lst = snap.get("deltaManifestList")
    if lst:
        for mname in read_manifest_list(table_path, lst):
            for e in read_manifest(table_path, mname, part_types, info.partition_keys):
                if e.kind == 0:
                    out.append(e)
    return out


def plan_paimon_changelog(
    table_path: str, snapshot_id: int, snap: Optional[dict] = None
) -> List[PaimonFileEntry]:
    """ADD entries of one snapshot's CHANGELOG manifest list — present
    when the lake's writer runs with a changelog-producer; these files
    carry the -U/+U row pairs a streaming consumer wants, which the
    delta files alone cannot reconstruct for updates. ``snap`` lets the
    caller pass an already-loaded snapshot dict (e.g. a decoupled
    ``changelog/changelog-N`` entry whose snapshot file is gone)."""
    info = read_paimon_schema(table_path)
    if snap is None:
        snap = read_paimon_snapshot(table_path, snapshot_id)
    part_types = [info.spark_schema[k].dataType for k in info.partition_keys]
    out: List[PaimonFileEntry] = []
    lst = snap.get("changelogManifestList")
    if lst:
        for mname in read_manifest_list(table_path, lst):
            for e in read_manifest(table_path, mname, part_types, info.partition_keys):
                if e.kind == 0:
                    out.append(e)
    return out


def _import_with_history(
    paimon_table_path: str, table, info, src, fmt: str, last_snapshot_id: int
) -> None:
    """Replay each Paimon snapshot as one engine commit, oldest first,
    so time travel on the imported table reaches states that predate
    the import. APPEND-kind commits replay their delta files (PK
    tables keep per-row RowKind so -D/-U history is faithful; rows
    write in original sequence order). COMPACT commits are logical
    no-ops and are skipped. OVERWRITE commits are rejected loudly —
    replaying partition replacement faithfully needs the engine's
    overwrite planner; use the default flat import for such tables.

    DELETION-VECTOR lakes replay too: a DV index rewrites visibility
    RETROACTIVELY, so a snapshot whose index manifest changed cannot be
    an append — it replays as a whole-table OVERWRITE of that
    snapshot's exact visible rows (files minus marks), and unchanged-
    index snapshots stay cheap delta appends. Each engine snapshot k
    therefore reads back with lake snapshot k's own visibility. Cost is
    one full visible-state write per DV-changing snapshot — DV deletes
    are metadata-sized in the lake but row-sized to replay; flat import
    remains the cheap path when history is not needed."""
    from paimon_python_spark.session import get_spark
    from paimon_python_spark.write import KIND_COL, SEQ_COL

    spark = get_spark()
    from pyspark.sql import functions as F

    prev_dv_sig: set = set()
    for sid in range(1, last_snapshot_id + 1):
        try:
            snap = read_paimon_snapshot(paimon_table_path, sid)
        except FileNotFoundError:
            continue  # expired snapshot — history starts later
        kind = str(snap.get("commitKind", "APPEND")).upper()
        if kind == "COMPACT":
            continue
        if kind == "OVERWRITE":
            # partition replacement rewrites visibility like a DV index
            # does: replay as a whole-table overwrite of the snapshot's
            # exact visible rows (coarser than per-partition replay but
            # row-identical per snapshot; cost is one full-state write
            # per OVERWRITE commit, same trade as the DV branch below)
            prev_dv_sig = {
                (r.index_path, r.data_file_name, r.offset, r.length)
                for r in plan_paimon_dv(paimon_table_path, snapshot=snap)
            }
            ov_entries = plan_paimon_files(paimon_table_path, snapshot=snap)
            dv_ov = plan_paimon_dv(paimon_table_path, snapshot=snap)
            if info.primary_keys:
                visible = merge_paimon_pk_entries(
                    spark, info, ov_entries, src, fmt,
                    dv_ranges=dv_ov, table_path=paimon_table_path,
                )
            else:
                visible = read_paimon_append_entries(
                    spark, info, ov_entries, src, fmt,
                    dv_ranges=dv_ov, table_path=paimon_table_path,
                )
            wb = table.new_batch_write_builder().overwrite()
            writer, committer = wb.new_write(), wb.new_commit()
            writer.write_dataframe(visible)
            committer.commit(writer.prepare_commit())
            writer.close()
            continue
        if kind not in ("APPEND",):
            raise NotImplementedError(
                f"preserve_history: snapshot {sid} has commitKind={kind}; "
                "only APPEND/COMPACT/OVERWRITE chains replay — import "
                "without preserve_history to flatten"
            )
        dv_s = plan_paimon_dv(paimon_table_path, snapshot=snap)
        dv_sig = {(r.index_path, r.data_file_name, r.offset, r.length) for r in dv_s}
        if dv_sig != prev_dv_sig:
            prev_dv_sig = dv_sig
            all_entries = plan_paimon_files(paimon_table_path, snapshot=snap)
            if info.primary_keys:
                # PK lake: the snapshot's visible state is the LSM
                # merge with the new index's marks applied — replay it
                # as a whole-table overwrite (the engine's later delta
                # appends upsert against this base)
                visible = merge_paimon_pk_entries(
                    spark,
                    info,
                    all_entries,
                    src,
                    fmt,
                    dv_ranges=dv_s,
                    table_path=paimon_table_path,
                )
            else:
                visible = read_paimon_append_entries(
                    spark,
                    info,
                    all_entries,
                    src,
                    fmt,
                    dv_ranges=dv_s,
                    table_path=paimon_table_path,
                )
            wb = table.new_batch_write_builder().overwrite()
            writer, committer = wb.new_write(), wb.new_commit()
            writer.write_dataframe(visible)
            committer.commit(writer.prepare_commit())
            writer.close()
            continue
        delta = plan_paimon_delta(paimon_table_path, sid)
        if not delta:
            continue
        wb = table.new_batch_write_builder()
        writer, committer = wb.new_write(), wb.new_commit()
        if info.primary_keys:
            raw = _load_lake_entries(
                spark,
                info,
                delta,
                src,
                fmt,
                kv=True,
                table_path=paimon_table_path,
            )
            value_cols = [f.name for f in info.spark_schema.fields]
            # original sequence order keeps intra-commit version order
            writer.write_dataframe(
                raw.orderBy(F.col(SEQ_COL).asc()).select(*value_cols, KIND_COL),
                row_kind_col=KIND_COL,
            )
        else:
            writer.write_dataframe(
                read_paimon_append_entries(
                    spark, info, delta, src, fmt, table_path=paimon_table_path
                )
            )
        committer.commit(writer.prepare_commit())
        writer.close()


def import_paimon_table(
    paimon_table_path: str,
    catalog,
    identifier: str,
    snapshot_id: Optional[int] = None,
    preserve_history: bool = False,
) -> "Table":
    """Convert a real Paimon table into this engine's format under
    ``identifier`` and return the new table. Append tables copy data
    files verbatim and commit them with harvested stats (one snapshot,
    original row order per file). Primary-key tables read the
    key-value files distributed (Spark scan over every live file),
    resolve the Paimon merge (max ``_SEQUENCE_NUMBER`` per key, drop
    ``-D``/``-U`` kinds), and write the merged state — identical
    visible rows, history flattened (this engine then owns the
    table's future history).

    ``preserve_history=True`` instead replays each Paimon snapshot as
    one engine commit (APPEND/COMPACT chains; deltas in original
    sequence order, PK RowKinds kept), so time travel on the imported
    table reaches pre-import states. Deletion-vector snapshots replay
    too (r7): a DV index rewrites visibility retroactively, so an
    index-changing snapshot materializes as a whole-table overwrite of
    its exact visible rows — append lakes replay the visible file
    rows, PK lakes the merged LSM state with the marks applied —
    and unchanged-index snapshots stay cheap delta appends."""
    import shutil

    from paimon_python_spark.schema import Schema
    from paimon_python_spark.session import get_spark
    from paimon_python_spark.write import KIND_COL, SEQ_COL

    info = read_paimon_schema(paimon_table_path)
    entries = plan_paimon_files(paimon_table_path, snapshot_id)
    dv = _relevant_dv(plan_paimon_dv(paimon_table_path, snapshot_id), entries)
    fmt = info.options.get("file.format", "parquet")

    options = {"file.format": fmt}
    if info.primary_keys:
        options["bucket"] = info.options.get("bucket", "1")
    catalog.create_table(
        identifier,
        Schema(
            info.spark_schema,
            partition_keys=info.partition_keys,
            primary_keys=info.primary_keys,
            options=options,
        ),
        False,
    )
    table = catalog.get_table(identifier)
    part_types = [info.spark_schema[k].dataType for k in info.partition_keys]
    default_name = info.options.get("partition.default-name", DEFAULT_PARTITION_NAME)

    def src(e: PaimonFileEntry) -> str:
        p = os.path.join(
            paimon_table_path,
            e.rel_path(info.partition_keys, part_types, default_name),
        )
        if not os.path.exists(p):
            raise FileNotFoundError(
                f"paimon_import: planned data file not found at {p!r} — the "
                "partition directory naming (partition.default-name, "
                "date/timestamp formatting) may not match this table's "
                "layout; inspect the table's data directories and report "
                "the convention"
            )
        return p

    if preserve_history:
        last = (
            snapshot_id
            if snapshot_id is not None
            else latest_paimon_snapshot_id(paimon_table_path)
        )
        _import_with_history(paimon_table_path, table, info, src, fmt, last)
        return table

    if not info.primary_keys and dv:
        # append table WITH row-level deletes: a verbatim file copy
        # would resurrect DV-marked rows — materialize the filtered
        # rows through the engine write path instead
        spark = get_spark()
        filtered = read_paimon_append_entries(
            spark, info, entries, src, fmt, dv_ranges=dv,
            table_path=paimon_table_path,
        )
        wb = table.new_batch_write_builder()
        writer, committer = wb.new_write(), wb.new_commit()
        writer.write_dataframe(filtered)
        committer.commit(writer.prepare_commit())
        writer.close()
        return table

    if not info.primary_keys:
        # append table: files are plain columnar — adopt them verbatim
        from paimon_python_spark.write import (
            BatchTableCommit,
            CommitMessage,
            DataFileHarvester,
            PART_PREFIX,
        )

        harvester = DataFileHarvester(table)
        files = []
        for e in entries:
            subdir = os.path.join(table.table_path, "data")
            for k in info.partition_keys:
                v = e.partition[k]
                sval = "__HIVE_DEFAULT_PARTITION__" if v is None else str(v)
                subdir = os.path.join(subdir, f"{PART_PREFIX}{k}={sval}")
            os.makedirs(subdir, exist_ok=True)
            dest = os.path.join(subdir, e.file_name)
            shutil.copy2(src(e), dest)
            files.append(harvester.file_meta(dest))
        commit = BatchTableCommit(table, overwrite=False, static_partition=None)
        commit.commit([CommitMessage(files)])
        return table

    # primary-key table: distributed merge of the key-value files
    spark = get_spark()
    if entries:
        merged = merge_paimon_pk_entries(
            spark, info, entries, src, fmt, dv_ranges=dv,
            table_path=paimon_table_path,
        )
        wb = table.new_batch_write_builder()
        writer, committer = wb.new_write(), wb.new_commit()
        writer.write_dataframe(merged)
        committer.commit(writer.prepare_commit())
        writer.close()
        committer.close()
    return table
