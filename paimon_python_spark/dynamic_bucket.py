"""DYNAMIC-BUCKET (``'bucket' = '-1'``) primary-key lake writes — the
capability the reference refuses outright (py4j/util/java_utils.py:56-61
raises on ``BucketMode.HASH_DYNAMIC``): every PK write through the
reference requires a pre-chosen fixed bucket count. Real Paimon's
default PK mode is dynamic — a ``HashBucketAssigner`` routes each NEW
key to a bucket with room (``dynamic-bucket.target-row-num`` rows,
default 2,000,000) and records the key's int32 hashcode in a per-bucket
HASH index file under ``index/`` so every later write routes the key to
the SAME bucket (paimon.apache.org/docs/master/primary-key-table/
data-distribution + concepts/spec/tableindex "Hash Index"). This module
is that assigner, Spark-shaped:

- the key hashcode is the same word-wise murmur over the key's
  BinaryRow bytes the fixed router uses (``bucketKeyHashCode``) — the
  vectorized encoder is shared with ``_make_lake_bucket_fn``;
- existing keys resolve their bucket by a DataFrame JOIN against the
  decoded hash index (index files decode EXECUTOR-SIDE via
  ``mapInPandas`` — the index of a 100-TB lake never lands on the
  driver), pruned to the partitions the batch actually touches;
- new keys take a deterministic rank per partition (row_number over
  the distinct new hashcodes) and fill buckets by remaining capacity —
  existing buckets with room first, then fresh buckets of
  ``target-row-num`` each. Deterministic, so Spark can recompute the
  assignment across actions without divergence;
- index maintenance FUSES into the data write: each (partition, bucket)
  group's write task rewrites its own index file (old hashes ++ its
  rows' new hashes) alongside its data file, and only KB-scale file
  metadata returns to the driver for the index-manifest commit — no
  second pass over the routed batch.

Index file format: the spec's Hash Index payload — a plain sequence of
big-endian int32 key hashcodes (concepts/spec/tableindex). Entries ride
the same avro ``IndexManifestEntry`` manifest the deletion vectors use,
with ``indexType = "HASH"``.

``dynamic-bucket.assigner-parallelism`` keeps real Paimon's meaning at
the PLAN level: P parallel assigners each own the bucket ids ≡ their
index (mod P) and route the new keys whose hashcode ≡ that class, so
the new-key ranking window partitions by (partition, class) instead of
serializing every new key of a partition through one task — the knob
that keeps a bulk load of fresh keys distributed. Default 1 (one
serial assigner per partition, real Paimon's single-writer shape).
``dynamic-bucket.initial-buckets`` pre-opens that many empty buckets
on a partition's FIRST write, split across the classes that own them.
Hash collisions behave exactly like real Paimon: two keys sharing an
int32 hashcode land in the same bucket — correct, merely uneven.

CROSS_PARTITION mode (PK not containing the partition keys) is
supported too, via :class:`CrossPartitionRouter`: real Paimon keeps a
global RocksDB key→location index and emits retractions when a key's
partition changes; the Spark shape is a key-projected join against the
lake's own merged state that emits a ``-D`` retraction row into the
OLD partition, so per-(partition, bucket) merges stay closed and no
reader ever needs cross-partition resolution.
"""

from __future__ import annotations

import json
import os
from typing import List, Optional

__all__ = [
    "CrossLocationCache",
    "CrossPartitionRouter",
    "DynamicBucketAssigner",
    "read_hash_index_file",
    "write_hash_index_file",
]

#: batches with at most this many distinct keys prune the cross-
#: partition state read with per-column IN predicates (footer stats +
#: bloom file skipping below the merge); larger batches pay one
#: key-projected scan — the bootstrap cost real Paimon's global index
#: assigner also pays
CROSS_POINT_KEY_CAP = 1024

#: default rows per dynamic bucket (Paimon's dynamic-bucket.target-row-num)
TARGET_ROW_NUM_DEFAULT = 2_000_000


def read_hash_index_file(path: str):
    """Decode one spec Hash Index file: a sequence of big-endian int32
    key hashcodes."""
    import numpy as np

    with open(path, "rb") as f:
        data = f.read()
    if len(data) % 4:
        raise ValueError(f"hash index {path!r}: length {len(data)} not int32-aligned")
    return np.frombuffer(data, dtype=">i4").astype(np.int32)


def write_hash_index_file(path: str, hashes) -> int:
    """Write hashcodes as the spec Hash Index payload (big-endian
    int32 sequence). Returns the file size in bytes."""
    import numpy as np

    arr = np.asarray(hashes, dtype=np.int32).astype(">i4")
    with open(path, "wb") as f:
        f.write(arr.tobytes())
    return os.path.getsize(path)


def _make_key_hash_fn(key_types):
    """Batch key-hashcode function (signed int32 murmur over the key's
    BinaryRow bytes) for a pandas UDF — the raw-hash sibling of
    ``_make_lake_bucket_fn``, same vectorized encoder, same scalar
    oracle fallback."""

    def fn(*cols):
        import pandas as pd

        from paimon_python_spark.paimon_lake import _vectorized_fixed_buckets

        try:
            return pd.Series(_vectorized_fixed_buckets(cols, key_types, None))
        except Exception:
            from paimon_python_spark.paimon_import import (
                encode_binary_row,
                logical_value,
                murmur_hash_words,
            )

            out = [
                murmur_hash_words(
                    encode_binary_row(
                        [logical_value(v, t) for v, t in zip(vals, key_types)],
                        key_types,
                    )[4:]
                )
                for vals in zip(*cols)
            ]
            return pd.Series(out, dtype="int32")

    return fn


def _part_json_of(pvals: dict, part_keys: List[str]) -> str:
    """Canonical partition-group id — identical construction to
    ``paimon_lake._write_lake_group``'s meta rows (logical values: DATE
    as epoch days), so index metas and data metas key the same way."""
    return json.dumps({k: pvals[k] for k in part_keys})


class DynamicBucketAssigner:
    """One write's view of a dynamic-bucket lake's hash index: the
    snapshot's live HASH entries overlaid with ``pending`` metas staged
    by earlier writes of the SAME commit (a lookup-changelog write
    routes new keys before the data write — the overlay keeps both
    assignments identical)."""

    def __init__(
        self,
        table_path: str,
        info,
        bcols: List[str],
        pending: list,
        fresh: bool = False,
    ):
        from paimon_python_spark.paimon_import import (
            decode_binary_row,
            plan_paimon_hash_index,
        )

        self.table_path = table_path
        self.info = info
        self.bcols = list(bcols)
        self.key_types = [info.spark_schema[c].dataType for c in self.bcols]
        self.part_keys = list(info.partition_keys)
        self.part_types = [info.spark_schema[k].dataType for k in self.part_keys]
        self.target = int(
            info.options.get("dynamic-bucket.target-row-num", TARGET_ROW_NUM_DEFAULT)
        )
        if self.target < 1:
            raise ValueError("dynamic-bucket.target-row-num must be >= 1")
        self.initial = int(info.options.get("dynamic-bucket.initial-buckets", "0") or 0)
        self.par = max(
            1,
            int(
                info.options.get("dynamic-bucket.assigner-parallelism", "1")
                or 1
            ),
        )
        #: plan fragments attach() persisted — release() after the
        #: write's actions so the routed batch isn't recomputed N times
        self._cached: list = []
        # state: {part_json: {bucket: {"file": name|None, "rows": int,
        #                              "part_values": [...]}}}
        self.state: dict = {}
        try:
            # fresh=True: an OVERWRITE replaces the table's visible
            # state, so the index restarts from the overwrite's own
            # keys (pending only) — old routing is snapshot history
            entries = [] if fresh else plan_paimon_hash_index(table_path)
        except FileNotFoundError:
            entries = []
        for r in entries:
            pvals_list = decode_binary_row(
                bytes(r.get("_PARTITION") or b""), self.part_types
            )
            pvals = dict(zip(self.part_keys, pvals_list))
            pj = _part_json_of(pvals, self.part_keys)
            self.state.setdefault(pj, {})[int(r["_BUCKET"])] = {
                "file": r["_FILE_NAME"],
                "rows": int(r.get("_ROW_COUNT") or 0),
                "part_values": pvals_list,
            }
        for m in pending:  # staged earlier in this commit: overlay wins
            self.state.setdefault(m["part_json"], {})[int(m["bucket"])] = {
                "file": m["file"],
                "rows": int(m["rows"]),
                "part_values": list(m["part_values"]),
            }

    # -- index as a DataFrame ------------------------------------------------

    def _index_df(self, spark, part_jsons: Optional[set] = None):
        """The live hash index as (partition cols…, __h_idx, __b_idx),
        decoded executor-side — one input row per index file fans out
        via ``mapInPandas``. ``part_jsons`` prunes to the partitions the
        batch touches (None = no pruning)."""
        import pandas as pd
        from pyspark.sql import types as T

        from paimon_python_spark.paimon_import import logical_partition_values

        rows = []
        for pj, buckets in self.state.items():
            if part_jsons is not None and pj not in part_jsons:
                continue
            for b, m in buckets.items():
                logical = logical_partition_values(
                    self.info, dict(zip(self.part_keys, m["part_values"]))
                )
                rows.append(
                    tuple(logical[k] for k in self.part_keys)
                    + (
                        os.path.join(self.table_path, "index", m["file"]),
                        int(b),
                    )
                )
        schema = T.StructType(
            [self.info.spark_schema[k] for k in self.part_keys]
            + [
                T.StructField("__idx_path", T.StringType()),
                T.StructField("__b_idx", T.IntegerType()),
            ]
        )
        out_schema = T.StructType(
            [self.info.spark_schema[k] for k in self.part_keys]
            + [
                T.StructField("__h_idx", T.IntegerType()),
                T.StructField("__b_idx", T.IntegerType()),
            ]
        )
        from paimon_python_spark._localdf import local_df

        # one slice per index file (NOT defaultParallelism): the
        # expansion task count tracks the index's file count, so a
        # 2-file index is 2 tasks instead of 32 near-empty Python
        # tasks; fan_out because the mapInPandas below does real I/O
        # (reads one index file per row)
        files_df = local_df(spark, rows, schema, fan_out=True)

        part_keys = self.part_keys

        def _expand(batches):
            for pdf in batches:
                for _, row in pdf.iterrows():
                    hashes = read_hash_index_file(row["__idx_path"])
                    out = pd.DataFrame({"__h_idx": hashes})
                    for k in part_keys:
                        out[k] = row[k]
                    out["__b_idx"] = row["__b_idx"]
                    yield out[[*part_keys, "__h_idx", "__b_idx"]]

        return files_df.mapInPandas(_expand, out_schema)

    def _class_plans(self):
        """Per-(partition, class) bucket-fill plan for NEW keys, where
        class c ∈ [0, P) owns the bucket ids ≡ c (mod P) and the new
        hashcodes with pmod(h, P) == c — the ownership rule that lets P
        assigners allocate without contending on a bucket. Within a
        class: existing buckets' remaining capacity first (ordered by
        id), then fresh buckets of ``target`` rows each at ids
        c + P*j for j ≥ j0 (past the class's highest existing id).
        Returns {(part_json, c): (cum_hi list, bucket list, total_free,
        j0)} — class-local rank r (0-based) maps to the first
        cum_hi > r, overflowing to ``c + P*(j0 + (r - total_free) //
        target)``. With P=1 this is exactly the single serial
        assigner."""
        P = self.par
        plans = {}
        for pj, buckets in self.state.items():
            for c in range(P):
                own = sorted(b for b in buckets if b % P == c)
                frees, ids = [], []
                for b in own:
                    free = self.target - int(buckets[b]["rows"])
                    if free > 0:
                        ids.append(b)
                        frees.append(free)
                cum, acc = [], 0
                for f in frees:
                    acc += f
                    cum.append(acc)
                j0 = (max(own) // P + 1) if own else 0
                plans[(pj, c)] = (cum, ids, acc, j0)
        return plans

    def _fresh_class_plan(self, c: int):
        """Class c's plan for a partition with no index yet:
        ``initial-buckets`` pre-opens ids 0..k-1, of which c owns those
        ≡ c (mod P)."""
        P = self.par
        own = [b for b in range(max(0, self.initial)) if b % P == c]
        cum = [self.target * (i + 1) for i in range(len(own))]
        j0 = (max(own) // P + 1) if own else 0
        return (cum, own, self.target * len(own), j0)

    # -- assignment ------------------------------------------------------------

    def attach(self, sdf, batch_parts=None):
        """Return ``sdf`` with ``__h`` (key hashcode), ``__bucket``
        (the routed bucket) and ``__kn`` (1 for keys new to the index).

        ``batch_parts``: optional pre-known partition set of the batch
        (list of {partition col: Spark value} dicts, a SUPERSET is
        sound) — skips the distinct-partitions collect job over
        ``sdf``; None collects it here.

        Shape: the index join resolves EXISTING keys; new keys take a
        deterministic rank per (partition, assigner class) —
        row_number over the distinct new hashcodes, class =
        pmod(h, P) — and map to buckets through a BROADCAST plan join:
        capacity segments of the class's existing buckets first, then
        a pure-codegen overflow formula opening fresh buckets of
        ``target`` rows each at ids ≡ class (mod P). Recomputations
        assign identically (rank and formula are pure functions of the
        data), and the routed batch is PERSISTED (memory-and-disk, one
        commit's data — the same bound as a Paimon writer's sort
        buffer) because the index rewrite and the data write both act
        on it; callers release() when the write's actions are done.
        ``assigner-parallelism`` P > 1 splits a bulk load's new-key
        ranking across P class windows per partition instead of one
        serial sort."""
        from pyspark import StorageLevel
        from pyspark.sql import Window
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        spark = sdf.sparkSession
        P = self.par
        # JVM-native BinaryRow hash when the key types allow it — the
        # pandas-UDF form put a Python-worker round trip in every
        # routing stage's lineage (and each re-evaluation of a
        # non-persisted fragment paid it again); the parsed expression
        # keeps the stage whole-stage-codegen (guide §4.1). Fallback:
        # the vectorized pandas UDF for unsupported key types.
        from paimon_python_spark.paimon_import import (
            binary_row_hash_expr,
            logical_value,
        )

        _hexpr = binary_row_hash_expr(self.bcols, self.key_types)
        if _hexpr is not None:
            sdf = sdf.withColumn("__h", F.expr(_hexpr))
        else:
            hash_udf = F.pandas_udf(_make_key_hash_fn(self.key_types), "int")
            sdf = sdf.withColumn(
                "__h", hash_udf(*[F.col(c) for c in self.bcols])
            )

        part_keys = self.part_keys
        # the batch's partitions — bounded by the table's partition
        # count, never batch size; drives both index pruning and the
        # capacity plan (fresh partitions get the fresh plan)
        if not part_keys:
            batch_parts = [None]
        elif batch_parts is None:
            batch_parts = sdf.select(*part_keys).distinct().collect()
        pj_of = lambda r: _part_json_of(
            {
                k: logical_value(r[k], self.info.spark_schema[k].dataType)
                for k in part_keys
            },
            part_keys,
        )
        if self.state:
            part_jsons = (
                {pj_of(r) for r in batch_parts} if part_keys else None
            )
            idx = self._index_df(spark, part_jsons)
            cond = (sdf["__h"] == idx["__h_idx"]) & _part_cond(sdf, idx, part_keys)
            joined = sdf.join(idx, cond, "left").select(sdf["*"], idx["__b_idx"])
        else:
            joined = sdf.withColumn("__b_idx", F.lit(None).cast("int"))
        # the index rewrite and the data write both act on this plan —
        # pay the hash UDF + index join ONCE
        joined = joined.persist(StorageLevel.MEMORY_AND_DISK)
        self._cached.append(joined)

        # deterministic rank of each NEW distinct hashcode inside its
        # (partition, class) window: recomputations assign identically
        news = (
            joined.filter(F.col("__b_idx").isNull())
            .select(*part_keys, "__h")
            .distinct()
            .withColumn("__cls", F.pmod(F.col("__h"), F.lit(P)).cast("int"))
        )
        w = Window.partitionBy(
            *[F.col(k) for k in part_keys], F.col("__cls")
        ).orderBy("__h")
        ranked = news.withColumn("__rk", F.row_number().over(w) - 1)

        plans = self._class_plans()
        seg_rows, ovf_rows = [], []
        for r in batch_parts:
            pv = tuple(r[k] for k in part_keys) if part_keys else ()
            pj = pj_of(r) if part_keys else _part_json_of({}, [])
            for c in range(P):
                cum, ids, total_free, j0 = plans.get(
                    (pj, c), None
                ) or self._fresh_class_plan(c)
                lo = 0
                for hi, b in zip(cum, ids):
                    seg_rows.append(pv + (c, lo, hi, int(b)))
                    lo = hi
                ovf_rows.append(pv + (c, int(total_free), int(j0)))
        part_fields = [self.info.spark_schema[k] for k in part_keys]
        seg_schema = T.StructType(
            part_fields
            + [
                T.StructField("__cls_s", T.IntegerType()),
                T.StructField("__lo", T.LongType()),
                T.StructField("__hi", T.LongType()),
                T.StructField("__b_seg", T.IntegerType()),
            ]
        )
        ovf_schema = T.StructType(
            part_fields
            + [
                T.StructField("__cls_o", T.IntegerType()),
                T.StructField("__free", T.LongType()),
                T.StructField("__j0", T.IntegerType()),
            ]
        )
        from paimon_python_spark._localdf import local_df

        segs = local_df(spark, seg_rows, seg_schema, max_slices=1)
        ovf = local_df(spark, ovf_rows, ovf_schema, max_slices=1)
        a = ranked.join(
            F.broadcast(segs),
            (ranked["__rk"] >= segs["__lo"])
            & (ranked["__rk"] < segs["__hi"])
            & (ranked["__cls"] == segs["__cls_s"])
            & _part_cond(ranked, segs, part_keys),
            "left",
        ).select(ranked["*"], segs["__b_seg"])
        a2 = a.join(
            F.broadcast(ovf),
            (a["__cls"] == ovf["__cls_o"]) & _part_cond(a, ovf, part_keys),
            "left",
        )
        assigned_new = a2.select(
            *[a[k] for k in part_keys],
            a["__h"],
            F.coalesce(
                a["__b_seg"],
                (
                    a["__cls"]
                    + F.lit(P)
                    * (
                        ovf["__j0"]
                        + F.floor(
                            (a["__rk"] - ovf["__free"]) / F.lit(self.target)
                        )
                    )
                ).cast("int"),
            ).alias("__b_new"),
        ).persist(StorageLevel.MEMORY_AND_DISK)
        self._cached.append(assigned_new)

        cond2 = (joined["__h"] == assigned_new["__h"]) & _part_cond(
            joined, assigned_new, part_keys
        )
        res = (
            joined.join(assigned_new, cond2, "left")
            .select(joined["*"], assigned_new["__b_new"])
            .withColumn("__bucket", F.coalesce(F.col("__b_idx"), F.col("__b_new")))
            .withColumn("__kn", F.col("__b_idx").isNull().cast("int"))
            .drop("__b_idx", "__b_new")
        )
        return res

    def release(self):
        """Unpersist the plan fragments attach() cached. Call once the
        write's actions (index rewrite, data write) are done."""
        for df in self._cached:
            try:
                df.unpersist(False)
            except Exception:
                pass
        self._cached.clear()


def _part_cond(left, right, part_keys):
    from pyspark.sql import functions as F

    cond = F.lit(True)
    for k in part_keys:
        cond = cond & left[k].eqNullSafe(right[k])
    return cond


def pending_to_entries(info, pending: list) -> list:
    """Staged assigner metas → spec ``IndexManifestEntry`` dicts, one
    per (partition, bucket). The LAST meta wins per (partition, bucket)
    — a lookup-changelog write and the data write of one commit may
    both touch a bucket. Each entry supersedes its bucket's HASH entry
    at commit (``paimon_lake._commit_lake_snapshot``)."""
    from paimon_python_spark.paimon_import import HASH_INDEX, encode_binary_row

    part_types = [info.spark_schema[k].dataType for k in info.partition_keys]
    latest: dict = {}
    for m in pending:
        latest[(m["part_json"], int(m["bucket"]))] = m
    return [
        {
            "_VERSION": 1,
            "_KIND": 0,
            "_PARTITION": encode_binary_row(m["part_values"], part_types),
            "_BUCKET": bucket,
            "_INDEX_TYPE": HASH_INDEX,
            "_FILE_NAME": m["file"],
            "_FILE_SIZE": int(m["size"]),
            "_ROW_COUNT": int(m["rows"]),
            "_DELETIONS_VECTORS_RANGES": None,
        }
        for (_pj, bucket), m in sorted(latest.items())
    ]


def arrival_dedup(sdf, keys: List[str], kind_col: Optional[str] = None):
    """Net a batch to its LAST row per key, in arrival order — the
    same arrival-order stance as the engine's per-commit sequencer
    (``__input_order`` in the group writer). Cross-partition writes
    need this BEFORE routing: two versions of one key in one batch
    could land in two partitions, and per-partition merges could never
    reconcile them. Returns (deduped, kind_col_name) with the kind
    column normalized to ``__kind`` (0 = +I when absent)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    if kind_col is not None and kind_col != "__kind":
        sdf = sdf.withColumn("__kind", F.col(kind_col).cast("int")).drop(
            kind_col
        )
    elif kind_col is None:
        sdf = sdf.withColumn("__kind", F.lit(0))
    w = Window.partitionBy(*[F.col(k) for k in keys]).orderBy(
        F.col("__xp_ord").desc()
    )
    return (
        sdf.withColumn("__xp_ord", F.monotonically_increasing_id())
        .withColumn("__xp_rn", F.row_number().over(w))
        .filter(F.col("__xp_rn") == 1)
        .drop("__xp_rn", "__xp_ord")
    )


class CrossLocationCache:
    """Amortizes CROSS_PARTITION state reads across the commits of one
    writer (a streaming sink's micro-batches): the merged state's
    (pk → partition) projection bootstraps ONCE as a pk-partitioned,
    locally-checkpointed DataFrame — the bootstrap real Paimon's
    GlobalIndexAssigner also pays, once per writer — then maintains
    itself from each commit's own net batch instead of re-reading the
    merged state per commit. Keyed on snapshot id: a FOREIGN commit
    landing between batches makes the cached id stale and the next
    write re-bootstraps, so correctness never depends on being the only
    writer. Pass one instance to consecutive ``write_lake_pk_append``
    calls via ``xp_location_cache``."""

    def __init__(self, table_path: str):
        self.table_path = table_path
        self.snapshot_id: Optional[int] = None
        self.df = None
        #: diagnostic: how many full-state bootstraps this cache paid
        self.bootstraps = 0

    def locations(self, info):
        """The (pk → partition) projection at the lake's CURRENT
        snapshot (pk-partitioned, lineage-truncated), or None when the
        lake has no snapshot yet."""
        from pyspark.sql import functions as F

        from paimon_python_spark.paimon_import import (
            latest_paimon_snapshot_id,
        )

        try:
            sid = latest_paimon_snapshot_id(self.table_path)
        except FileNotFoundError:
            self._swap(None)
            self.snapshot_id = None
            return None
        if self.df is not None and self.snapshot_id == sid:
            return self.df
        from paimon_python_spark.paimon_lake import PaimonLakeTable

        pks = list(info.primary_keys)
        part_keys = list(info.partition_keys)
        rb = PaimonLakeTable(self.table_path).new_read_builder()
        rb = rb.with_projection(list(dict.fromkeys(pks + part_keys)))
        state = (
            rb.new_read()
            .to_df()
            .repartition(*[F.col(k) for k in pks])
            .localCheckpoint(eager=True)
        )
        self._swap(state)
        self.snapshot_id = sid
        self.bootstraps += 1
        return self.df

    def update(self, info, net_batch, new_snapshot_id: int) -> None:
        """Apply one just-committed batch's net effect (one row per
        key; ``__kind`` 3 deletes the key, anything else sets its
        partition) and re-key the cache to the new snapshot id. The
        anti-join runs co-partitioned against the cached state — no
        full-state re-read, no merged-scan.

        If the new snapshot is NOT the immediate successor of the
        cached one, a FOREIGN commit interleaved between this writer's
        state read and its commit — its moves are invisible to the net
        batch, so the cache DROPS (next write re-bootstraps) instead of
        absorbing a stale projection."""
        from pyspark.sql import functions as F

        if int(new_snapshot_id) != (self.snapshot_id or 0) + 1:
            self.release()
            return
        pks = list(info.primary_keys)
        # pk ∩ partition overlap is legal in cross mode — dedup the
        # projection columns or the selects turn ambiguous
        cols = list(dict.fromkeys(pks + list(info.partition_keys)))
        upd = net_batch.select(*cols, "__kind")
        ins = upd.filter(F.col("__kind") != 3).select(*cols)
        if self.df is None:
            base = ins
        else:
            base = self.df.join(upd.select(*pks), pks, "left_anti").unionByName(
                ins
            )
        new_df = base.repartition(*[F.col(k) for k in pks]).localCheckpoint(
            eager=True
        )
        self._swap(new_df)
        self.snapshot_id = int(new_snapshot_id)

    def _swap(self, new_df) -> None:
        old, self.df = self.df, new_df
        if old is not None:
            try:
                old.unpersist(False)
            except Exception:
                pass

    def release(self) -> None:
        self._swap(None)
        self.snapshot_id = None


class CrossPartitionRouter:
    """CROSS_PARTITION (``'bucket' = '-1'`` with PK ⊉ partition keys)
    upsert routing — the mode the reference refuses outright
    (py4j/util/java_utils.py:56-61) and real Paimon serves with a
    global RocksDB key→location index (its ``GlobalIndexAssigner``
    bootstraps by scanning the table). The Spark shape keeps the same
    contract with no driver-side index:

    - the batch arrival-dedups per key (LAST row wins — one commit
      nets to at most one version per key, matching the net effect a
      streaming global assigner produces);
    - a column-pruned merged read (pk + partition keys only) left-joins
      the batch; a key whose stored partition differs from the incoming
      row's emits a ``-D`` RETRACTION row into the OLD partition —
      per-(partition, bucket) merges stay closed, so no reader ever
      needs cross-partition resolution;
    - the union (retractions + upserts) routes through the ordinary
      partition-local hash-index assigner: a retraction hits its old
      partition's index (exact — within a partition a hashcode maps to
      ONE bucket), a moved key registers as new in its new partition.
      The old partition's index keeps the departed key's hash, exactly
      like real Paimon's append-optimistic hash index: a later
      move-back re-pins to the original bucket.

    Batches of ≤ ``CROSS_POINT_KEY_CAP`` distinct keys prune the state
    read with per-column IN predicates (a superset of the batch's key
    tuples — footer min/max and bloom file indexes skip files below
    the merge); the join then restores tuple precision."""

    def __init__(
        self,
        table_path: str,
        info,
        pending: list,
        location_cache: Optional[CrossLocationCache] = None,
    ):
        self.table_path = table_path
        self.info = info
        self.pending = pending
        self.location_cache = location_cache
        #: the arrival-deduped batch (one row per key, __kind) — the
        #: commit's net effect, what a location cache applies after the
        #: snapshot lands
        self.net_batch = None
        self._assigner: Optional[DynamicBucketAssigner] = None
        self._cached: list = []
        #: complete point-probe rows (pks + partition cols) — doubles as
        #: the batch's partition set so attach() can skip the assigner's
        #: distinct-partitions job over the routed union
        self._probe_rows: Optional[list] = None

    def attach(self, sdf, row_kind_col: Optional[str] = None):
        """Return the routed union (original columns + ``__kind`` +
        ``__h``/``__bucket``/``__kn``) ready for the group writer.
        Callers pass ``row_kind_col="__kind"`` downstream and
        release() when the write's actions are done."""
        from pyspark import StorageLevel
        from pyspark.sql import functions as F

        info = self.info
        pks = list(info.primary_keys)
        part_keys = list(info.partition_keys)
        val_cols = [f.name for f in info.spark_schema.fields]
        from paimon_python_spark._localdf import cast_select_sql, quote_ident

        # single parsed select per commit instead of 3 py4j calls per
        # column (guide §5.3 driver latency)
        casted = sdf.selectExpr(
            *cast_select_sql(info.spark_schema.fields),
            *([quote_ident(row_kind_col)] if row_kind_col else []),
        )
        # LOCAL-CHECKPOINT after the arrival dedup (not a plain
        # persist): monotonically_increasing_id is stable only within
        # one materialization, and every later action (key probe, index
        # rewrite, data write) must see the SAME dedup choice. A persist
        # would silently RECOMPUTE on cached-block loss (executor
        # failure mid-commit) and could pick a different last-arrival
        # row between the index rewrite and the data write — diverging
        # index and data. localCheckpoint truncates the lineage, so a
        # lost block fails the job loudly instead; the commit never
        # publishes, which is the sound outcome.
        casted = arrival_dedup(casted, pks, kind_col=row_kind_col).localCheckpoint(
            eager=False
        )
        self._cached.append(casted)
        self.net_batch = casted

        old = self._old_locations(casted, pks, part_keys)
        if old is not None:
            joined = casted.join(old, pks, "left")
            diff = F.lit(False)
            for k in part_keys:
                diff = diff | ~F.col(k).eqNullSafe(F.col(f"__old_{k}"))
            retr = joined.filter(
                (F.col("__old_present") == 1) & diff
            ).select(
                *[
                    F.col(c)
                    if c in pks
                    else (
                        F.col(f"__old_{c}").alias(c)
                        if c in part_keys
                        else F.lit(None)
                        .cast(info.spark_schema[c].dataType)
                        .alias(c)
                    )
                    for c in val_cols
                ],
                F.lit(3).alias("__kind"),
            )
            # PERSIST the union: the retraction branch embeds the state
            # read (a merged read of the lake) — without the cache every
            # downstream action (partition probe, index rewrite, data
            # write) would re-run that read
            routed_input = casted.unionByName(retr).persist(
                StorageLevel.MEMORY_AND_DISK
            )
            self._cached.append(routed_input)
        else:
            routed_input = casted
        bcols = [
            c.strip()
            for c in info.options.get("bucket-key", "").split(",")
            if c.strip()
        ] or [k for k in pks if k not in part_keys]
        self._assigner = DynamicBucketAssigner(
            self.table_path, info, bcols, self.pending
        )
        # PARTITION-SET HINT (one fewer action per commit): the
        # assigner's own batch_parts job runs distinct(partition cols)
        # over the routed UNION — whose retraction branch embeds the
        # whole state-read join, so the hint saves a full
        # materialization pass of that subtree. A sound SUPERSET is
        # enough (extra partitions only add unused capacity-plan rows
        # to a broadcast and widen the index-prune set):
        #   parts(union) = parts(batch) ∪ parts(retractions)
        # where parts(batch) rides the complete point probe (collected
        # above anyway) and parts(retractions) ⊆ partitions holding a
        # HASH index entry (a moved key's OLD partition indexed it when
        # the key first landed there) = the assigner's state keys.
        # Bulk batches (probe overflowed) keep the exact distinct job.
        hint = None
        if old is not None and self._probe_rows is not None and part_keys:
            from paimon_python_spark.paimon_import import (
                logical_partition_values,
                logical_value,
            )

            hint, seen = [], set()
            for r in self._probe_rows:
                pv = {k: r[k] for k in part_keys}
                pj = _part_json_of(
                    {
                        k: logical_value(
                            pv[k], info.spark_schema[k].dataType
                        )
                        for k in part_keys
                    },
                    part_keys,
                )
                if pj not in seen:
                    seen.add(pj)
                    hint.append(pv)
            for pj, buckets in self._assigner.state.items():
                if pj in seen or not buckets:
                    continue
                seen.add(pj)
                m = next(iter(buckets.values()))
                logical = logical_partition_values(
                    info, dict(zip(part_keys, m["part_values"]))
                )
                hint.append({k: logical[k] for k in part_keys})
        return self._assigner.attach(routed_input, batch_parts=hint)

    def _old_locations(self, casted, pks, part_keys):
        """The merged state's (pk → partition) projection as
        ``(*pks, __old_<part>…, __old_present)``, or None when the lake
        has no snapshot yet (seed commits pay zero lookup). Small
        batches prune the read with IN predicates over the batch's
        keys; a ``CrossLocationCache`` (streaming sinks) replaces the
        read entirely with the delta-maintained projection."""
        from pyspark.sql import functions as F

        from paimon_python_spark.paimon_import import (
            latest_paimon_snapshot_id,
        )

        if self.location_cache is not None:
            state = self.location_cache.locations(self.info)
            if state is None:
                return None
            return state.select(
                *pks,
                *[F.col(k).alias(f"__old_{k}") for k in part_keys],
                F.lit(1).alias("__old_present"),
            )
        try:
            latest_paimon_snapshot_id(self.table_path)
        except FileNotFoundError:
            return None
        from paimon_python_spark.paimon_lake import PaimonLakeTable
        from paimon_python_spark.predicate import PredicateBuilder

        rb = PaimonLakeTable(self.table_path).new_read_builder()
        rb = rb.with_projection(list(dict.fromkeys(pks + part_keys)))
        # NO .distinct(): casted is arrival-deduped (exactly one row per
        # key), so a distinct over the pk columns was a full extra
        # Exchange + aggregation per commit that could never drop a row
        # (guide §2.4 "a distinct on data that is already unique").
        # Selecting the partition columns too lets a complete probe
        # double as the batch's partition set — the assigner then skips
        # its own distinct-partitions job over the routed union (which
        # re-executed the state-read join subtree), see attach().
        probe = (
            casted.select(*dict.fromkeys(pks + part_keys))
            .limit(CROSS_POINT_KEY_CAP + 1)
            .collect()
        )
        if 0 < len(probe) <= CROSS_POINT_KEY_CAP:
            self._probe_rows = probe
            pb = PredicateBuilder([f.name for f in self.info.spark_schema.fields])
            preds = []
            for k in pks:
                vals = sorted(
                    {r[k] for r in probe if r[k] is not None}, key=repr
                )
                if vals:
                    preds.append(pb.is_in(k, vals))
            if preds:
                rb = rb.with_filter(
                    pb.and_predicates(preds) if len(preds) > 1 else preds[0]
                )
        elif len(probe) > CROSS_POINT_KEY_CAP:
            # BULK batch: the IN cap is off the table, but a BETWEEN on
            # each key column's batch min/max still skips files whose
            # footer stats can't overlap — autoincrement-style CDC keys
            # cluster tightly, so this often prunes most of the lake.
            bounds = casted.select(
                *[
                    f
                    for k in pks
                    for f in (
                        F.min(F.col(k)).alias(f"__lo_{k}"),
                        F.max(F.col(k)).alias(f"__hi_{k}"),
                    )
                ]
            ).first()
            pb = PredicateBuilder(
                [f.name for f in self.info.spark_schema.fields]
            )
            preds = [
                pb.between(k, bounds[f"__lo_{k}"], bounds[f"__hi_{k}"])
                for k in pks
                if bounds[f"__lo_{k}"] is not None
            ]
            if preds:
                rb = rb.with_filter(
                    pb.and_predicates(preds) if len(preds) > 1 else preds[0]
                )
        state = rb.new_read().to_df()
        return state.select(
            *pks,
            *[F.col(k).alias(f"__old_{k}") for k in part_keys],
            F.lit(1).alias("__old_present"),
        )

    def release(self):
        if self._assigner is not None:
            self._assigner.release()
        for df in self._cached:
            try:
                df.unpersist(False)
            except Exception:
                pass
        self._cached.clear()
