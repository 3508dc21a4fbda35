"""The lake committer (``paimon_lake._commit_lake_snapshot``): every
snapshot the package writes on a lake is formed from the commit's
changes against the head it is published on. These tests pin its
conflict rule (a rival committed between a commit's plan and its
publish), the fields a data-less commit writes, the shared publish step
fast-forward uses, and the PK write of a ``TIMESTAMP_NTZ`` column."""

import datetime
import json
import os
import subprocess
import sys
import time

from pyspark.sql import types as T

from paimon_python_spark.paimon_import import (
    plan_paimon_files,
    read_manifest_list_entries,
    read_paimon_snapshot,
)
from paimon_python_spark.paimon_lake import (
    LakeCommitConflict,
    PaimonLakeTable,
    compact_lake,
    create_lake_table,
    delete_lake_rows,
    write_lake_append,
)

_SCHEMA = T.StructType(
    [
        T.StructField("dt", T.StringType(), False),
        T.StructField("k", T.IntegerType()),
    ]
)
_ROWS = [("a", 1), ("a", 2), ("b", 3), ("a", 4), ("b", 5)]


def _append_lake(spark, tmp_path, name="lake"):
    """A partitioned append lake of two commits (two files in
    partition 'a', two in 'b')."""
    tp = str(tmp_path / name)
    create_lake_table(tp, _SCHEMA, partition_keys=["dt"])
    write_lake_append(tp, spark.createDataFrame(_ROWS[:3], _SCHEMA))
    write_lake_append(tp, spark.createDataFrame(_ROWS[3:], _SCHEMA))
    return tp


def _rows(tp):
    rb = PaimonLakeTable(tp).new_read_builder()
    return sorted((r.dt, r.k) for r in rb.new_read().to_df().collect())


def _rival_after(monkeypatch, module, name, rival):
    """Run ``rival`` once, right after the first call of
    ``module.name`` returns — between the victim's plan and its
    commit."""
    orig = getattr(module, name)
    ran = []

    def wrapped(*a, **kw):
        out = orig(*a, **kw)
        if not ran:
            ran.append(True)
            rival()
        return out

    monkeypatch.setattr(module, name, wrapped)
    return ran


def _conflicts(fn) -> bool:
    try:
        fn()
    except LakeCommitConflict:
        return True
    return False


def _pred_k(tp, k):
    return PaimonLakeTable(tp).new_read_builder().new_predicate_builder().equal("k", k)


def test_compaction_losing_to_dv_delete_does_not_resurrect(tmp_path, spark, monkeypatch):
    """A compaction planned before a DV delete committed must not
    publish its pre-delete rewrite: that would bring the deleted row
    back."""
    import paimon_python_spark.paimon_lake as pl

    tp = _append_lake(spark, tmp_path)
    ran = _rival_after(
        monkeypatch, pl, "_distributed_lake_write", lambda: delete_lake_rows(tp, _pred_k(tp, 2))
    )
    conflict = _conflicts(lambda: compact_lake(tp))
    assert ran
    assert _rows(tp) == [r for r in sorted(_ROWS) if r[1] != 2]
    assert conflict  # the rewrite read row 2; publishing it is wrong


def test_dv_delete_losing_to_compaction_is_not_lost(tmp_path, spark, monkeypatch):
    """A DV delete planned before a compaction committed must not mark
    files the compaction already removed — the delete would report
    success and delete nothing."""
    import paimon_python_spark.roaring as roaring

    tp = _append_lake(spark, tmp_path)
    ran = _rival_after(
        monkeypatch, roaring, "deserialize_roaring32", lambda: compact_lake(tp)
    )
    conflict = _conflicts(lambda: delete_lake_rows(tp, _pred_k(tp, 2)))
    assert ran
    expected = sorted(_ROWS) if conflict else [r for r in sorted(_ROWS) if r[1] != 2]
    assert _rows(tp) == expected


def test_two_compactions_of_the_same_files_do_not_duplicate(tmp_path, spark, monkeypatch):
    import paimon_python_spark.paimon_lake as pl

    tp = _append_lake(spark, tmp_path)
    ran = _rival_after(monkeypatch, pl, "_distributed_lake_write", lambda: compact_lake(tp))
    conflict = _conflicts(lambda: compact_lake(tp))
    assert ran
    assert _rows(tp) == sorted(_ROWS)
    assert conflict
    assert len(plan_paimon_files(tp)) == 2  # one file per partition


def test_commit_re_forms_on_a_head_that_touched_nothing_it_planned(tmp_path, spark, monkeypatch):
    """Losing only the snapshot id — to an append, or to a DV delete in
    a group the compaction does not rewrite — re-forms the commit on
    the new head: the rival's rows and marks survive."""
    import paimon_python_spark.paimon_lake as pl
    from paimon_python_spark.predicate import PredicateBuilder

    tp = _append_lake(spark, tmp_path)
    delete_lake_rows(tp, _pred_k(tp, 2))

    def rival():
        write_lake_append(tp, spark.createDataFrame([("b", 6)], _SCHEMA))
        delete_lake_rows(tp, _pred_k(tp, 5))

    ran = _rival_after(monkeypatch, pl, "_distributed_lake_write", rival)
    sid = compact_lake(tp, partition_filter=PredicateBuilder(["dt", "k"]).equal("dt", "a"))
    assert ran
    assert sid == read_paimon_snapshot(tp)["id"]
    assert _rows(tp) == [("a", 1), ("a", 4), ("b", 3), ("b", 6)]


def test_concurrent_appends_deletes_and_compactions_lose_nothing(tmp_path, spark):
    """Stress: more committer threads than cores mix appends, DV deletes
    and compactions on one lake. A commit may raise a conflict, but the
    final rows are exactly the appended rows minus the rows of the
    deletes that returned — no lost delete, no resurrected or
    duplicated row."""
    import threading

    tp = _append_lake(spark, tmp_path)
    seed = list(_ROWS)
    appended = [[("a", 100 + 10 * t + i)] for t in range(2) for i in range(2)]
    deleted, errors = [], []

    def appender(t):
        for rows in appended[2 * t : 2 * t + 2]:
            write_lake_append(tp, spark.createDataFrame(rows, _SCHEMA))

    def deleter(keys):
        for k in keys:
            if not _conflicts(lambda: delete_lake_rows(tp, _pred_k(tp, k))):
                deleted.append(k)

    def compactor():
        for _ in range(2):
            _conflicts(lambda: compact_lake(tp))

    def guarded(fn, *args):
        try:
            fn(*args)
        except Exception as exc:  # noqa: BLE001 — surface in the main thread
            errors.append(f"{fn.__name__}: {type(exc).__name__}: {exc}")

    threads = [
        threading.Thread(target=guarded, args=args)
        for args in [(appender, 0), (appender, 1), (deleter, [1, 3]), (deleter, [2, 5]), (compactor,)]
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=600)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    expected = [r for r in seed + sum(appended, []) if r[1] not in deleted]
    assert _rows(tp) == sorted(expected)


def test_dv_delete_snapshot_has_its_own_time(tmp_path, spark):
    """A DV delete's snapshot carries its own commit time, so timestamp
    time travel to the previous commit reads the pre-delete rows."""
    tp = _append_lake(spark, tmp_path)
    prev = read_paimon_snapshot(tp)
    time.sleep(0.01)
    sid = delete_lake_rows(tp, _pred_k(tp, 2))
    snap = read_paimon_snapshot(tp, sid)
    assert snap["timeMillis"] > prev["timeMillis"]
    back = PaimonLakeTable(tp).new_read_builder().with_timestamp(prev["timeMillis"])
    assert sorted((r.dt, r.k) for r in back.new_read().to_df().collect()) == sorted(_ROWS)


def test_dv_delete_after_analyze_carries_no_statistics(tmp_path, spark):
    from paimon_python_spark.lake_statistics import analyze_lake, read_lake_statistics

    tp = _append_lake(spark, tmp_path)
    asid = analyze_lake(tp)
    stats_name = read_paimon_snapshot(tp, asid)["statistics"]
    assert stats_name
    sid = delete_lake_rows(tp, _pred_k(tp, 2))
    assert read_paimon_snapshot(tp, sid)["statistics"] is None
    # readers still walk back to the ANALYZE commit's file
    with open(os.path.join(tp, "statistics", stats_name)) as f:
        assert read_lake_statistics(tp) == json.load(f)


def test_commits_without_data_changes_write_an_empty_delta(tmp_path, spark):
    """ANALYZE and DV-delete commits list no delta manifest and write
    no empty manifest file."""
    from paimon_python_spark.lake_statistics import analyze_lake

    tp = _append_lake(spark, tmp_path)
    mdir = os.path.join(tp, "manifest")

    def data_manifests():
        return {n for n in os.listdir(mdir) if n.startswith("manifest-") and "list" not in n}

    for commit in (lambda: analyze_lake(tp), lambda: delete_lake_rows(tp, _pred_k(tp, 2))):
        before = data_manifests()
        sid = commit()
        snap = read_paimon_snapshot(tp, sid)
        assert read_manifest_list_entries(tp, snap["deltaManifestList"]) == []
        assert snap["deltaRecordCount"] == 0
        assert data_manifests() == before


def test_fast_forward_retries_snapshot_race(tmp_path, spark):
    """Fast-forward publishes through the committer's publish step: a
    rival ``snapshot-N+1`` that exists while ``LATEST`` still says N
    costs a rebuild, not a ``FileExistsError``."""
    from paimon_python_spark.paimon_lake import create_lake_branch, fast_forward_lake_branch

    tp = _append_lake(spark, tmp_path)
    bp = create_lake_branch(tp, "exp")
    write_lake_append(bp, spark.createDataFrame([("c", 9)], _SCHEMA))
    head = read_paimon_snapshot(tp)
    rival = dict(head, id=head["id"] + 1, deltaRecordCount=0, commitUser="rival")
    with open(os.path.join(tp, "snapshot", f"snapshot-{head['id'] + 1}"), "w") as f:
        json.dump(rival, f)
    # note: LATEST still says N — exactly the mid-race state
    sid = fast_forward_lake_branch(tp, "exp")
    assert sid == head["id"] + 2
    assert _rows(tp) == sorted(_ROWS + [("c", 9)])


def test_pk_lake_timestamp_ntz_roundtrip(tmp_path, spark):
    """A PK lake with a TIMESTAMP_NTZ column writes through the group
    writer and reads back the same wall-clock values."""
    from paimon_python_spark.paimon_lake import write_lake_pk_append

    schema = T.StructType(
        [
            T.StructField("id", T.LongType(), False),
            T.StructField("ts", T.TimestampNTZType()),
        ]
    )
    tp = str(tmp_path / "ntz")
    create_lake_table(tp, schema, primary_keys=["id"], options={"bucket": "2"})
    t0 = datetime.datetime(2024, 3, 1, 12, 30, 15, 123456)
    rows = [(i, t0 + datetime.timedelta(hours=i)) for i in range(6)] + [(6, None)]
    write_lake_pk_append(tp, spark.createDataFrame(rows, schema))
    write_lake_pk_append(tp, spark.createDataFrame([(1, t0)], schema))
    got = sorted(
        (r.id, r.ts)
        for r in PaimonLakeTable(tp).new_read_builder().new_read().to_df().collect()
    )
    assert got == sorted([(1, t0)] + [r for r in rows if r[0] != 1])


def test_lake_modules_import_without_pandas_or_pyarrow():
    """Importing the lake front doors stays light: neither pandas nor
    pyarrow loads until a read or write needs them."""
    code = (
        "import sys\n"
        "import paimon_python_spark.lake_datasource, paimon_python_spark.paimon_lake\n"
        "print(sorted(m for m in ('pandas', 'pyarrow') if m in sys.modules))\n"
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=root, capture_output=True, text=True, check=True
    )
    assert out.stdout.strip() == "[]"
