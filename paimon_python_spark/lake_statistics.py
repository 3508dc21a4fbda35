"""Table statistics — Paimon's ANALYZE surface on a real lake.

Spec (public paimon.apache.org "Concepts > Spec > Statistic" +
"Snapshot"): an ANALYZE commit writes a JSON *table statistic file*
under ``<table>/statistics/`` and stamps its name into the new
snapshot's ``statistics`` field (``commitKind=ANALYZE``, empty delta).
The file carries table-level ``mergedRecordCount`` / ``mergedRecordSize``
and per-column ``colStats``: ``{colId, distinctCount, min, max,
nullCount, avgLen, maxLen}``. Ordinary commits leave the field null, so
a reader walks the snapshot chain backwards for the newest stats at or
below its snapshot — exactly how Paimon's ``table$statistics`` system
table resolves them. The reference SDK has no analyze surface
(py4j/java_implementation.py delegates everything and exposes none);
this is a format-level extension mirroring the JVM writers.

Scale shape: ONE Spark aggregate job over the merged read computes all
requested columns' stats in a single pass (map-side partial aggregation,
one shuffle of per-column partials). ``exact=False`` (the 100 TB
default) uses ``approx_count_distinct`` — an HLL partial per column, no
expand; ``exact=True`` uses ``countDistinct``, whose Expand multiplies
scan rows by the column count (the oracle-matchable mode for tests and
small tables). Everything else (min/max/null-count/length stats) is the
same single hash aggregate either way.
"""

from __future__ import annotations

import json
import os
import uuid
from typing import Optional

from pyspark.sql import functions as F
from pyspark.sql import types as T

#: logical byte widths for fixed-size types (documented contract for
#: avgLen/maxLen on non-variable-length columns)
_FIXED_LEN = {
    T.BooleanType: 1,
    T.ByteType: 1,
    T.ShortType: 2,
    T.IntegerType: 4,
    T.FloatType: 4,
    T.DateType: 4,
    T.LongType: 8,
    T.DoubleType: 8,
    T.TimestampType: 8,
}

_VARLEN = (T.StringType, T.BinaryType)


def _is_orderable(dt) -> bool:
    return not isinstance(dt, (T.ArrayType, T.MapType, T.StructType))


def _json_scalar(v):
    """JSON-safe rendering for min/max: native for JSON types, str for
    the rest (dates, timestamps, decimals)."""
    import math

    if v is None or isinstance(v, (int, str)):
        return v
    if isinstance(v, bool):
        return v
    if isinstance(v, float):
        # non-finite floats (NaN/±inf) would serialize as non-standard
        # JSON tokens strict parsers (JVM Jackson) reject — null them
        return v if math.isfinite(v) else None
    return str(v)


def compute_column_stats(
    df, spark_schema, field_ids: dict, cols: list, exact: bool
) -> tuple:
    """(merged_record_count, colStats dict) — ONE Spark aggregate over
    ``df`` computing every requested column's stats (shared by the lake
    and engine analyze paths so both formats' statistic files agree)."""
    distinct = F.countDistinct if exact else F.approx_count_distinct
    aggs = [F.count(F.lit(1)).alias("__n")]
    orderable = {}
    for c in cols:
        dt = spark_schema[c].dataType
        orderable[c] = _is_orderable(dt)
        aggs.append(F.sum(F.col(c).isNull().cast("long")).alias(f"__nul__{c}"))
        if orderable[c]:
            aggs.append(distinct(F.col(c)).alias(f"__dc__{c}"))
            aggs.append(F.min(c).alias(f"__min__{c}"))
            aggs.append(F.max(c).alias(f"__max__{c}"))
        if isinstance(dt, _VARLEN):
            aggs.append(F.avg(F.length(c)).alias(f"__avg__{c}"))
            aggs.append(F.max(F.length(c)).alias(f"__maxl__{c}"))
    row = df.agg(*aggs).collect()[0].asDict()

    col_stats = {}
    for c in cols:
        dt = spark_schema[c].dataType
        fixed = next(
            (sz for t, sz in _FIXED_LEN.items() if isinstance(dt, t)), None
        )
        avg_len = row.get(f"__avg__{c}")
        col_stats[c] = {
            "colId": int(field_ids[c]),
            "distinctCount": (
                int(row[f"__dc__{c}"]) if f"__dc__{c}" in row else None
            ),
            "min": _json_scalar(row.get(f"__min__{c}")),
            "max": _json_scalar(row.get(f"__max__{c}")),
            # sum() over an EMPTY table is NULL, not 0
            "nullCount": int(row[f"__nul__{c}"] or 0),
            "avgLen": (
                fixed
                if fixed is not None
                else (None if avg_len is None else float(avg_len))
            ),
            "maxLen": (
                fixed
                if fixed is not None
                else (
                    None
                    if row.get(f"__maxl__{c}") is None
                    else int(row[f"__maxl__{c}"])
                )
            ),
        }
    return int(row["__n"]), col_stats


def write_stats_file(table_path: str, stats: dict) -> str:
    """Atomically write the statistic JSON under ``<table>/statistics``
    and return its file name (shared lake/engine layout)."""
    sdir = os.path.join(table_path, "statistics")
    os.makedirs(sdir, exist_ok=True)
    name = f"stats-{uuid.uuid4().hex[:12]}-0"
    tmp = os.path.join(sdir, f".{name}.tmp")
    with open(tmp, "w") as f:
        json.dump(stats, f, sort_keys=True)
    os.replace(tmp, os.path.join(sdir, name))
    return name


def _resolve_columns(spark_schema, columns) -> list:
    if columns is None:
        return [f.name for f in spark_schema.fields]
    unknown = [c for c in columns if c not in spark_schema.fieldNames()]
    if unknown:
        raise ValueError(f"analyze: unknown columns {unknown}")
    return list(columns)


def analyze_lake(
    table_path: str,
    columns: Optional[list] = None,
    exact: bool = False,
) -> int:
    """ANALYZE the lake's current merged state and commit the stats.

    Computes table-level and per-column statistics in one Spark
    aggregate over the merged read (PK lakes: post-merge rows, the
    ``mergedRecordCount`` the spec names), writes the spec-shaped JSON
    statistic file, and commits an ``ANALYZE`` snapshot referencing it.
    Returns the new snapshot id.
    """
    from paimon_python_spark.paimon_import import (
        latest_paimon_snapshot_id,
        plan_paimon_files,
        read_paimon_schema,
        read_paimon_snapshot,
    )
    from paimon_python_spark.paimon_lake import (
        PaimonLakeTable,
        _commit_lake_snapshot,
    )

    info = read_paimon_schema(table_path)
    cols = _resolve_columns(info.spark_schema, columns)

    base_snapshot = latest_paimon_snapshot_id(table_path)
    rb = PaimonLakeTable(table_path).new_read_builder().with_projection(cols)
    df = rb.new_read().to_df()

    field_ids = dict(
        zip([f.name for f in info.spark_schema.fields], info.field_ids)
    )
    n, col_stats = compute_column_stats(
        df, info.spark_schema, field_ids, cols, exact
    )
    merged_size = sum(
        int(e.file_size) for e in plan_paimon_files(table_path, base_snapshot)
    )
    name = write_stats_file(
        table_path,
        {
            "snapshotId": base_snapshot,
            # the ANALYZED snapshot's own schema id, not the schema
            # read at call time — a racing schema commit must not
            # relabel the stats (ADVICE r11, engine-twin parity)
            "schemaId": int(
                read_paimon_snapshot(table_path, base_snapshot)["schemaId"]
            ),
            "mergedRecordCount": n,
            "mergedRecordSize": merged_size,
            "colStats": col_stats,
        },
    )
    return _commit_lake_snapshot(
        table_path, info, [], commit_kind="ANALYZE", statistics=name
    )


def analyze_table(table, columns: Optional[list] = None, exact: bool = False) -> int:
    """ANALYZE an ENGINE table (the lake twin is :func:`analyze_lake`):
    same one-pass aggregate over the merged read, same statistic-file
    layout under ``<table>/statistics``, committed as an ANALYZE
    snapshot that reuses the previous snapshot's manifests (empty
    delta — incremental readers see nothing new). Engine schemas carry
    no spec field ids, so ``colId`` is the field ordinal. Returns the
    new snapshot id, retrying the CAS publish on a concurrent commit."""
    from paimon_python_spark.metadata import (
        MetadataStore,
        Snapshot,
        SnapshotConflictError,
    )

    store = MetadataStore(table.table_path)
    analyzed = store.latest_snapshot_id()
    if analyzed is None:
        raise ValueError("analyze_table: table has no snapshots yet")
    # pair colStats with the ANALYZED snapshot's schema, captured once
    # before the CAS loop — a schema-changing commit racing the publish
    # must not relabel the stats (ADVICE r11)
    analyzed_schema_id = store.read_snapshot(analyzed).schema_id
    spark_schema = table.schema.spark_schema
    cols = _resolve_columns(spark_schema, columns)
    rb = table.new_read_builder().with_projection(cols)
    scan_plan = rb.new_scan().plan()
    df = rb.new_read().to_df(scan_plan.splits())
    field_ids = {f.name: i for i, f in enumerate(spark_schema.fields)}
    n, col_stats = compute_column_stats(df, spark_schema, field_ids, cols, exact)
    merged_size = sum(s.file_size() for s in scan_plan.splits())

    import time as _time

    for attempt in range(20):
        if attempt:
            _time.sleep(0.002 * attempt)
        base = store.max_snapshot_id_scan() if attempt else store.latest_snapshot_id()
        prev = store.read_snapshot(base)
        # snapshotId records what was SCANNED (a racing commit may have
        # moved the head past it); the staleness is visible in the file
        name = write_stats_file(
            table.table_path,
            {
                "snapshotId": analyzed,
                "schemaId": analyzed_schema_id,
                "mergedRecordCount": n,
                "mergedRecordSize": merged_size,
                "colStats": col_stats,
            },
        )
        try:
            store.write_snapshot(
                Snapshot(
                    id=base + 1,
                    schema_id=prev.schema_id,
                    commit_kind="ANALYZE",
                    manifests=list(prev.manifests),
                    total_record_count=prev.total_record_count,
                    delta_record_count=0,
                    time_millis=int(_time.time() * 1000),
                    dv_index=prev.dv_index,
                    statistics=name,
                )
            )
            return base + 1
        except SnapshotConflictError:
            os.remove(os.path.join(table.table_path, "statistics", name))
            continue
    raise RuntimeError("analyze_table: lost the snapshot race 20 times")


def read_table_statistics(table_path: str, snapshot_id: Optional[int] = None):
    """Engine twin of :func:`read_lake_statistics`: newest statistic
    file at or below ``snapshot_id``, walking ordinary (null-field)
    commits backwards."""
    from paimon_python_spark.metadata import MetadataStore

    store = MetadataStore(table_path)
    latest = snapshot_id or store.latest_snapshot_id()
    if latest is None:
        return None
    # one directory listing bounds the walk to retained ids (expiry
    # removes snapshot files; don't attempt every expired id)
    retained = [
        int(n[len("snapshot-") : -len(".json")])
        for n in os.listdir(store.snapshot_dir)
        if n.startswith("snapshot-") and n.endswith(".json")
    ]
    floor = min(retained) if retained else 1
    for sid in range(latest, floor - 1, -1):
        try:
            snap = store.read_snapshot(sid)
        except FileNotFoundError:
            continue  # expired
        if snap.statistics:
            with open(
                os.path.join(table_path, "statistics", snap.statistics)
            ) as f:
                return json.load(f)
    return None


def read_lake_statistics(
    table_path: str, snapshot_id: Optional[int] = None
) -> Optional[dict]:
    """Newest statistic file at or below ``snapshot_id`` (default:
    latest), or None if the table was never analyzed. Walks the
    snapshot chain backwards — ordinary commits leave ``statistics``
    null per the spec, so the walk is how the ``$statistics`` system
    table resolves stats (bounded by retained-snapshot count, pure
    driver-side metadata)."""
    from paimon_python_spark.paimon_import import (
        latest_paimon_snapshot_id,
        read_paimon_snapshot,
    )

    latest = snapshot_id or latest_paimon_snapshot_id(table_path)
    # bound the walk at the EARLIEST retained snapshot (hint is a cache;
    # absent → 1): a 100k-commit lake walks its retention window, not
    # every expired id
    floor = 1
    epath = os.path.join(table_path, "snapshot", "EARLIEST")
    try:
        with open(epath) as f:
            floor = max(1, int(f.read().strip()))
    except (FileNotFoundError, ValueError):
        pass
    for sid in range(latest, floor - 1, -1):
        spath = os.path.join(table_path, "snapshot", f"snapshot-{sid}")
        if not os.path.exists(spath):
            continue
        snap = read_paimon_snapshot(table_path, sid)
        name = snap.get("statistics")
        if name:
            with open(os.path.join(table_path, "statistics", name)) as f:
                return json.load(f)
    return None
