"""Primary-key merge-on-read suite — modeled on the reference's
pypaimon/pynative/tests/test_pynative_reader.py (F4/F5 fixtures):
multi-commit dedup, partitioned PK with cross-partition keys, filters on
both table kinds, limit split-semantics, delete-row handling."""

import itertools

import pandas as pd
import pyarrow as pa
import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from paimon_python_spark import Schema

F4_PK = pa.schema(
    [pa.field("f0", pa.int32(), False), ("f1", pa.string()), ("f2", pa.string())]
)


def _write(table, df, row_kind_col=None):
    wb = table.new_batch_write_builder()
    w, c = wb.new_write(), wb.new_commit()
    if row_kind_col is None:
        w.write_pandas(df)
    else:
        from pyspark.sql import types as T

        from paimon_python_spark.session import get_spark

        schema = T.StructType(
            list(table.schema.spark_schema.fields)
            + [T.StructField(row_kind_col, T.IntegerType(), False)]
        )
        w.write_dataframe(
            get_spark().createDataFrame(df, schema=schema), row_kind_col=row_kind_col
        )
    c.commit(w.prepare_commit())
    w.close()
    c.close()


def test_pk_two_commit_merge(catalog):
    # F4: last-write-wins across two overlapping commits
    # (test_pynative_reader.py:47-62,185-208)
    catalog.create_table(
        "default.t", Schema(F4_PK, primary_keys=["f0"], options={"bucket": "1"}), False
    )
    t = catalog.get_table("default.t")
    _write(
        t,
        pd.DataFrame(
            {"f0": [1, 2, 3, 4], "f1": ["a", "b", "c", None], "f2": ["A", "B", "C", "D"]}
        ),
    )
    _write(t, pd.DataFrame({"f0": [2, 3, 6], "f1": ["x", "y", "z"], "f2": ["X", "Y", "Z"]}))
    result = t.new_read_builder().new_read().to_pandas()
    expected = pd.DataFrame(
        {
            "f0": [1, 2, 3, 4, 6],
            "f1": ["a", "x", "y", None, "z"],
            "f2": ["A", "X", "Y", "D", "Z"],
        }
    )
    pd.testing.assert_frame_equal(result, expected, check_dtype=False)


def test_pk_duplicates_within_one_commit(catalog):
    """Within one write, the later row for a key wins (sequence numbers
    are dense in input order, like the reference's per-record seq)."""
    catalog.create_table(
        "default.t", Schema(F4_PK, primary_keys=["f0"], options={"bucket": "1"}), False
    )
    t = catalog.get_table("default.t")
    _write(
        t,
        pd.DataFrame(
            {"f0": [1, 1, 1], "f1": ["first", "second", "third"], "f2": ["x", "y", "z"]}
        ),
    )
    result = t.new_read_builder().new_read().to_pandas()
    assert list(result["f1"]) == ["third"]


def test_partitioned_pk_cross_partition(catalog):
    # F5 (test_pynative_reader.py:272-315)
    schema = Schema(
        pa.schema(
            [
                pa.field("user_id", pa.int32(), False),
                ("item_id", pa.int32()),
                ("behavior", pa.string()),
                pa.field("dt", pa.string(), False),
            ]
        ),
        partition_keys=["dt"],
        primary_keys=["dt", "user_id"],
        options={"bucket": "2"},
    )
    catalog.create_table("default.t", schema, False)
    t = catalog.get_table("default.t")
    _write(
        t,
        pd.DataFrame(
            {
                "user_id": [1, 2, 3, 4],
                "item_id": [1001, 1002, 1003, 1004],
                "behavior": ["b-1", "b-2", "b-3", None],
                "dt": ["p-1"] * 4,
            }
        ),
    )
    _write(
        t,
        pd.DataFrame(
            {
                "user_id": [5, 2, 7, 8],
                "item_id": [1005, 1002, 1007, 1008],
                "behavior": ["b-5", "b-2-new", "b-7", None],
                "dt": ["p-2", "p-1", "p-1", "p-2"],
            }
        ),
    )
    result = (
        t.new_read_builder()
        .new_read()
        .to_pandas()
        .sort_values(["dt", "user_id"])
        .reset_index(drop=True)
    )
    assert len(result) == 7
    assert result.loc[result.user_id == 2, "behavior"].iloc[0] == "b-2-new"
    # same user_id in different partitions is a different row
    assert sorted(result.loc[result.dt == "p-2", "user_id"]) == [5, 8]


def test_pk_filter_after_merge(catalog):
    """Value-column filter must apply AFTER the merge: a key whose latest
    value fails the filter must not resurface its older value
    (the reference's filter-placement rule, reader_convert_func.py:56-59)."""
    catalog.create_table(
        "default.t", Schema(F4_PK, primary_keys=["f0"], options={"bucket": "1"}), False
    )
    t = catalog.get_table("default.t")
    _write(t, pd.DataFrame({"f0": [1, 2], "f1": ["keep", "keep"], "f2": ["A", "B"]}))
    _write(t, pd.DataFrame({"f0": [2], "f1": ["drop"], "f2": ["B2"]}))
    pb = t.new_read_builder().new_predicate_builder()
    rb = t.new_read_builder().with_filter(pb.equal("f1", "keep"))
    result = rb.new_read().to_pandas(rb.new_scan().plan().splits())
    # key 2's latest value is 'drop' → key 2 absent entirely (its old
    # 'keep' row must NOT come back)
    assert list(result["f0"]) == [1]


def test_pk_key_filter_prunes_files(catalog):
    """PK-field predicates may prune files below the merge (safe because
    merge is per key; predicate_utils.py:22-56)."""
    catalog.create_table(
        "default.t", Schema(F4_PK, primary_keys=["f0"], options={"bucket": "1"}), False
    )
    t = catalog.get_table("default.t")
    _write(t, pd.DataFrame({"f0": [1, 2], "f1": ["a", "b"], "f2": ["A", "B"]}))
    _write(t, pd.DataFrame({"f0": [100, 200], "f1": ["c", "d"], "f2": ["C", "D"]}))
    pb = t.new_read_builder().new_predicate_builder()
    rb = t.new_read_builder().with_filter(pb.equal("f0", 100))
    splits = rb.new_scan().plan().splits()
    assert sum(len(s.files) for s in splits) == 1  # second file only
    assert list(rb.new_read().to_pandas(splits)["f0"]) == [100]


def test_pk_value_filter_does_not_prune(catalog):
    """Value-column stats must NOT prune PK files (older runs may carry
    stale values; pyarrow_dataset_reader.py:40-42)."""
    catalog.create_table(
        "default.t", Schema(F4_PK, primary_keys=["f0"], options={"bucket": "1"}), False
    )
    t = catalog.get_table("default.t")
    _write(t, pd.DataFrame({"f0": [1], "f1": ["old"], "f2": ["A"]}))
    _write(t, pd.DataFrame({"f0": [1], "f1": ["new"], "f2": ["B"]}))
    pb = t.new_read_builder().new_predicate_builder()
    rb = t.new_read_builder().with_filter(pb.equal("f1", "old"))
    splits = rb.new_scan().plan().splits()
    # both files still scanned (the 'old' file alone would wrongly revive
    # the superseded row)
    assert sum(len(s.files) for s in splits) == 2
    # and the merged result is empty: key 1's latest value is 'new'
    assert rb.new_read().to_pandas(splits).empty


def test_limit_split_granular(catalog):
    # limit=1 returns the whole first split (4 rows), not 1 row
    # (test_pynative_reader.py:166-181)
    catalog.create_table("default.t", Schema(F4_PK), False)
    t = catalog.get_table("default.t")
    _write(
        t,
        pd.DataFrame(
            {"f0": [1, 2, 3, 4], "f1": ["a", "b", "c", None], "f2": ["A", "B", "C", "D"]}
        ),
    )
    _write(
        t,
        pd.DataFrame(
            {"f0": [5, 6, 7, 8], "f1": ["e", "f", "g", "h"], "f2": ["E", "F", "G", None]}
        ),
    )
    rb = t.new_read_builder().with_limit(1)
    splits = rb.new_scan().plan().splits()
    assert sum(s.row_count() for s in splits) == 4
    assert len(rb.new_read().to_pandas(splits)) == 4


def test_delete_rows_dropped(catalog):
    """RowKind -D rows delete the key on merge (DropDeleteReader,
    drop_delete_reader.py:26-62); ingested via write_dataframe's
    changelog column."""
    catalog.create_table(
        "default.t", Schema(F4_PK, primary_keys=["f0"], options={"bucket": "1"}), False
    )
    t = catalog.get_table("default.t")
    _write(t, pd.DataFrame({"f0": [1, 2, 3], "f1": ["a", "b", "c"], "f2": ["A", "B", "C"]}))
    deletes = pd.DataFrame(
        {"f0": [2], "f1": ["b"], "f2": ["B"], "_kind": [3]}  # 3 = -D
    )
    _write(t, deletes, row_kind_col="_kind")
    result = t.new_read_builder().new_read().to_pandas()
    assert list(result["f0"]) == [1, 3]


def test_pk_key_ordered_output(catalog):
    """to_arrow/to_pandas on a PK table returns key order (sort-merge
    parity, sort_merge_reader.py:198-259)."""
    catalog.create_table(
        "default.t", Schema(F4_PK, primary_keys=["f0"], options={"bucket": "1"}), False
    )
    t = catalog.get_table("default.t")
    _write(t, pd.DataFrame({"f0": [3, 1, 2], "f1": ["c", "a", "b"], "f2": ["C", "A", "B"]}))
    result = t.new_read_builder().new_read().to_pandas()
    assert list(result["f0"]) == [1, 2, 3]


MERGE_SCHEMA = pa.schema(
    [("k", pa.int32()), ("a", pa.string()), ("b", pa.string())]
)


def _mk(catalog, name, options):
    catalog.create_table(
        f"default.{name}",
        Schema(
            MERGE_SCHEMA,
            primary_keys=["k"],
            options={"bucket": "1", **options},
        ),
        False,
    )
    return catalog.get_table(f"default.{name}")


def test_merge_engine_first_row(catalog):
    t = _mk(catalog, "fr", {"merge-engine": "first-row"})
    _write(t, pd.DataFrame({"k": [1, 2], "a": ["a1", "a2"], "b": ["b1", "b2"]}))
    _write(t, pd.DataFrame({"k": [2, 3], "a": ["A2", "a3"], "b": ["B2", "b3"]}))
    out = t.new_read_builder().new_read().to_pandas().sort_values("k")
    assert out["a"].tolist() == ["a1", "a2", "a3"]  # first write wins for k=2


def test_merge_engine_partial_update(catalog):
    t = _mk(catalog, "pu", {"merge-engine": "partial-update"})
    _write(t, pd.DataFrame({"k": [1, 2], "a": ["a1", "a2"], "b": ["b1", "b2"]}))
    # second commit patches only column a for k=1 and only b for k=2
    _write(t, pd.DataFrame({"k": [1, 2], "a": ["A1", None], "b": [None, "B2"]}))
    out = (
        t.new_read_builder().new_read().to_pandas().sort_values("k").reset_index(drop=True)
    )
    assert out["a"].tolist() == ["A1", "a2"]
    assert out["b"].tolist() == ["b1", "B2"]


def test_merge_engine_partial_update_sequence_group(catalog):
    # column `a` versions on `ver` (sequence-group); `b` on commit order.
    # A later commit with a LOWER ver must not clobber `a`.
    schema = pa.schema(
        [("k", pa.int32()), ("a", pa.string()), ("b", pa.string()), ("ver", pa.int32())]
    )
    catalog.create_table(
        "default.pusg",
        Schema(
            schema,
            primary_keys=["k"],
            options={
                "bucket": "1",
                "merge-engine": "partial-update",
                "fields.ver.sequence-group": "a",
            },
        ),
        False,
    )
    t = catalog.get_table("default.pusg")
    _write(t, pd.DataFrame({"k": [1, 2], "a": ["a1", "a2"], "b": ["b1", "b2"], "ver": [2, 2]}))
    # stale patch: ver=1 < 2 -> `a` keeps "a1"; `b` (no group) updates
    _write(t, pd.DataFrame({"k": [1], "a": ["STALE"], "b": ["B1"], "ver": [1]}))
    # fresh patch: ver=3 -> `a` updates; null `a` never overwrites
    _write(t, pd.DataFrame({"k": [2, 1], "a": ["A2", None], "b": [None, None], "ver": [3, 3]}))
    out = (
        t.new_read_builder().new_read().to_pandas().sort_values("k").reset_index(drop=True)
    )
    assert out["a"].tolist() == ["a1", "A2"]
    assert out["b"].tolist() == ["B1", "b2"]
    assert out["ver"].tolist() == [3, 3]


def test_merge_engine_sequence_group_bad_column(catalog):
    schema = pa.schema([("k", pa.int32()), ("a", pa.string()), ("ver", pa.int32())])
    catalog.create_table(
        "default.pusg_bad",
        Schema(
            schema,
            primary_keys=["k"],
            options={
                "bucket": "1",
                "merge-engine": "partial-update",
                "fields.ver.sequence-group": "nope",
            },
        ),
        False,
    )
    t = catalog.get_table("default.pusg_bad")
    _write(t, pd.DataFrame({"k": [1], "a": ["x"], "ver": [1]}))
    with pytest.raises(ValueError, match="sequence-group"):
        t.new_read_builder().new_read().to_pandas()


def test_merge_engine_aggregation(catalog):
    schema = pa.schema([("k", pa.int32()), ("cnt", pa.int64()), ("hi", pa.int64())])
    catalog.create_table(
        "default.agg",
        Schema(
            schema,
            primary_keys=["k"],
            options={
                "bucket": "1",
                "merge-engine": "aggregation",
                "fields.cnt.aggregate-function": "sum",
                "fields.hi.aggregate-function": "max",
            },
        ),
        False,
    )
    t = catalog.get_table("default.agg")
    _write(t, pd.DataFrame({"k": [1, 1, 2], "cnt": [1, 2, 5], "hi": [10, 30, 7]}))
    _write(t, pd.DataFrame({"k": [1, 2], "cnt": [4, 1], "hi": [20, 90]}))
    out = (
        t.new_read_builder().new_read().to_pandas().sort_values("k").reset_index(drop=True)
    )
    assert out["cnt"].tolist() == [7, 6]
    assert out["hi"].tolist() == [30, 90]


def test_merge_engine_unknown_rejected(catalog):
    t = _mk(catalog, "bad_me", {"merge-engine": "nonsense"})
    _write(t, pd.DataFrame({"k": [1], "a": ["x"], "b": ["y"]}))
    with pytest.raises(ValueError, match="merge-engine"):
        t.new_read_builder().new_read().to_pandas()


def test_delete_where(catalog):
    t = _mk(catalog, "delw", {})
    _write(t, pd.DataFrame({"k": [1, 2, 3], "a": ["a", "b", "c"], "b": ["A", "B", "C"]}))
    pb = t.new_read_builder().new_predicate_builder()
    t.delete_where(pb.less_than("k", 3))
    out = t.new_read_builder().new_read().to_pandas()
    assert out["k"].tolist() == [3]
    # snapshot 1 (time travel) still sees all three
    rb = t.new_read_builder().with_snapshot(1)
    assert len(rb.new_read().to_pandas(rb.new_scan().plan().splits())) == 3
    # append tables refuse row-level delete
    catalog.create_table("default.ap_del", Schema(MERGE_SCHEMA), False)
    ap = catalog.get_table("default.ap_del")
    with pytest.raises(ValueError, match="primary-key"):
        ap.delete_where(pb.less_than("k", 3))


def test_system_tables(catalog):
    t = _mk(catalog, "systab", {})
    _write(t, pd.DataFrame({"k": [1], "a": ["a"], "b": ["A"]}))
    _write(t, pd.DataFrame({"k": [2], "a": ["b"], "b": ["B"]}))
    snaps = t.snapshots().toPandas()
    assert snaps["snapshot_id"].tolist() == [1, 2]
    assert set(snaps["commit_kind"]) == {"APPEND"}
    files = t.files().toPandas()
    assert len(files) == 2
    assert (files["row_count"] == 1).all()
    old = t.files(snapshot_id=1).toPandas()
    assert len(old) == 1
    # $manifests: snapshot 2 references both commits' manifests
    mans = t.manifests().toPandas()
    assert (mans.num_entries >= 1).all()
    assert int(mans.num_added_files.sum()) == 2
    assert t.manifests(snapshot_id=1).toPandas().num_added_files.sum() == 1
    # $buckets reconciles with $files
    bks = t.buckets().toPandas()
    assert int(bks.record_count.sum()) == 2
    assert int(bks.file_count.sum()) == 2


def test_bucket_pruning_point_lookup(catalog):
    """Equality on the full PK prunes the plan to the key's bucket (the
    driver-side murmur3 replica of the writer's pmod(hash, n))."""
    catalog.create_table(
        "default.bp",
        Schema(
            pa.schema([("k", pa.int64()), ("v", pa.string())]),
            primary_keys=["k"],
            options={"bucket": "8"},
        ),
        False,
    )
    t = catalog.get_table("default.bp")
    _write(t, pd.DataFrame({"k": list(range(64)), "v": [f"v{i}" for i in range(64)]}))

    full = t.new_read_builder().new_scan().plan().splits()
    assert len(full) == 8  # one split per bucket

    pb = t.new_read_builder().new_predicate_builder()
    for probe in (0, 17, 63):
        rb = t.new_read_builder().with_filter(pb.equal("k", probe))
        splits = rb.new_scan().plan().splits()
        assert len(splits) == 1, f"k={probe} should plan exactly one bucket"
        out = rb.new_read().to_pandas(splits)
        assert out["k"].tolist() == [probe]
        assert out["v"].tolist() == [f"v{probe}"]

    # IN over several keys: union of their buckets, never more than 8
    rb = t.new_read_builder().with_filter(pb.is_in("k", [1, 2, 3]))
    splits = rb.new_scan().plan().splits()
    assert 1 <= len(splits) <= 3
    out = rb.new_read().to_pandas(splits)
    assert sorted(out["k"].tolist()) == [1, 2, 3]

    # range predicate cannot pin buckets — full plan, still correct
    rb = t.new_read_builder().with_filter(pb.less_than("k", 3))
    out = rb.new_read().to_pandas(rb.new_scan().plan().splits())
    assert sorted(out["k"].tolist()) == [0, 1, 2]


def test_bloom_unit_no_false_negatives():
    from paimon_python_spark.bloom import build_hex, might_contain

    vals = [f"key-{i}" for i in range(500)] + [17, 3.5, True, None]
    h = build_hex(vals)
    for v in vals:
        if v is not None:
            assert might_contain(h, v), v
    assert might_contain(h, 17.0)  # canonical: int 17 == float 17.0
    # absent values: mostly rejected (allow bloom's ~2% false positives)
    fp = sum(might_contain(h, f"absent-{i}") for i in range(500))
    assert fp < 40


def test_bloom_file_index_prunes_point_lookup(catalog):
    """file-index.bloom-filter.columns: a point lookup on a
    high-cardinality unsorted VALUE column skips files whose bloom
    rejects the key — min/max alone could not (both files span the
    whole domain)."""
    schema = pa.schema([("id", pa.int64()), ("ref", pa.string())])
    catalog.create_table(
        "default.t_bloom",
        Schema(
            schema.with_metadata(None),
            options={"file-index.bloom-filter.columns": "ref"},
        ),
        False,
    )
    t = catalog.get_table("default.t_bloom")
    # two commits; refs interleave so min/max spans overlap completely
    _write(t, pd.DataFrame({"id": range(0, 100), "ref": [f"r{i:04d}" for i in range(0, 200, 2)]}))
    _write(t, pd.DataFrame({"id": range(100, 200), "ref": [f"r{i:04d}" for i in range(1, 200, 2)]}))

    pb = t.new_read_builder().new_predicate_builder()
    rb = t.new_read_builder().with_filter(pb.equal("ref", "r0100"))  # even: file 1
    splits = rb.new_scan().plan().splits()
    assert sum(s.row_count() for s in splits) == 100  # one file, not two
    assert rb.new_read().to_pandas()["id"].tolist() == [50]

    # in-predicate with keys from both files keeps both
    rb2 = t.new_read_builder().with_filter(pb.is_in("ref", ["r0100", "r0101"]))
    assert sum(s.row_count() for s in rb2.new_scan().plan().splits()) == 200
    # absent key (inside min/max) prunes everything
    rb3 = t.new_read_builder().with_filter(pb.equal("ref", "zzzz-absent"))
    assert rb3.new_read().to_pandas().empty


def test_merge_into_update_delete_insert(catalog):
    schema = pa.schema(
        [pa.field("k", pa.int64(), False), ("bal", pa.float64()), ("status", pa.string())]
    )
    catalog.create_table(
        "default.t_merge",
        Schema(schema, primary_keys=["k"], options={"bucket": "2"}),
        False,
    )
    t = catalog.get_table("default.t_merge")
    _write(
        t,
        pd.DataFrame(
            {"k": [1, 2, 3, 4], "bal": [10.0, 20.0, 30.0, 40.0], "status": ["a"] * 4}
        ),
    )

    from paimon_python_spark.session import get_spark

    source = get_spark().createDataFrame(
        [
            (2, 5.0, "upd"),     # matched, delta -> update
            (3, -999.0, "del"),  # matched, status 'del' -> delete
            (9, 90.0, "new"),    # not matched -> insert
            (4, 0.0, "skip"),    # matched, no condition hit -> untouched
        ],
        "k long, bal double, status string",
    )
    t.merge_into(
        source,
        matched_update={"bal": "tgt.bal + src.bal", "status": "src.status"},
        matched_update_condition="src.status = 'upd'",
        matched_delete_condition="src.status = 'del'",
    )
    out = (
        t.new_read_builder().new_read().to_pandas().sort_values("k").reset_index(drop=True)
    )
    assert out["k"].tolist() == [1, 2, 4, 9]      # 3 deleted, 9 inserted
    assert out["bal"].tolist() == [10.0, 25.0, 40.0, 90.0]
    assert out["status"].tolist() == ["a", "upd", "a", "new"]


def test_merge_into_guards(catalog):
    schema = pa.schema([pa.field("k", pa.int64(), False), ("v", pa.string())])
    catalog.create_table("default.t_merge_g", Schema(schema), False)
    t = catalog.get_table("default.t_merge_g")
    from paimon_python_spark.session import get_spark

    src = get_spark().createDataFrame([(1, "x")], "k long, v string")
    with pytest.raises(ValueError, match="primary-key"):
        t.merge_into(src, matched_update={"v": "src.v"})

    catalog.create_table(
        "default.t_merge_pk",
        Schema(schema, primary_keys=["k"], options={"bucket": "1"}),
        False,
    )
    t2 = catalog.get_table("default.t_merge_pk")
    _write(t2, pd.DataFrame({"k": [1], "v": ["a"]}))
    with pytest.raises(ValueError, match="unknown update columns"):
        t2.merge_into(src, matched_update={"nope": "1"})
    with pytest.raises(ValueError, match="join-key"):
        t2.merge_into(src, matched_update={"k": "src.k"})


def test_update_where(catalog):
    t = _mk(catalog, "updw", {})
    _write(t, pd.DataFrame({"k": [1, 2, 3], "a": ["a", "b", "c"], "b": ["A", "B", "C"]}))
    pb = t.new_read_builder().new_predicate_builder()
    t.update_where(pb.less_than("k", 3), {"a": "upper(a)", "b": "concat(b, '!')"})
    out = (
        t.new_read_builder().new_read().to_pandas().sort_values("k").reset_index(drop=True)
    )
    assert out["a"].tolist() == ["A", "B", "c"]
    assert out["b"].tolist() == ["A!", "B!", "C"]

    with pytest.raises(ValueError, match="primary-key"):
        catalog.create_table(
            "default.t_upd_app", Schema(pa.schema([("x", pa.int64())])), False
        )
        catalog.get_table("default.t_upd_app").update_where(pb.less_than("k", 3), {})
    with pytest.raises(ValueError, match="unknown columns"):
        t.update_where(pb.less_than("k", 3), {"zz": "1"})
    with pytest.raises(ValueError, match="primary-key columns"):
        t.update_where(pb.less_than("k", 3), {"k": "k + 1"})


def test_with_timestamp_time_travel(catalog):
    from paimon_python_spark.metadata import MetadataStore

    t = _mk(catalog, "ts_tt", {})
    _write(t, pd.DataFrame({"k": [1], "a": ["a"], "b": ["A"]}))
    _write(t, pd.DataFrame({"k": [2], "a": ["b"], "b": ["B"]}))
    store = MetadataStore(t.table_path)
    t1 = store.read_snapshot(1).time_millis
    t2 = store.read_snapshot(2).time_millis

    rb = t.new_read_builder().with_timestamp(t1)
    assert sorted(rb.new_read().to_pandas()["k"]) == [1]
    rb2 = t.new_read_builder().with_timestamp(max(t2, t1 + 1))
    assert sorted(rb2.new_read().to_pandas()["k"]) == [1, 2]
    with pytest.raises(ValueError, match="no snapshot"):
        t.new_read_builder().with_timestamp(t1 - 10_000)


def test_catalog_list_and_drop(catalog):
    from paimon_python_spark.catalog import TableNotExistException

    catalog.create_table(
        "default.t_list_a", Schema(pa.schema([("x", pa.int64())])), False
    )
    catalog.create_table(
        "default.t_list_b", Schema(pa.schema([("x", pa.int64())])), False
    )
    assert "default" in catalog.list_databases()
    tables = catalog.list_tables("default")
    assert {"t_list_a", "t_list_b"} <= set(tables)

    catalog.drop_table("default.t_list_a")
    assert "t_list_a" not in catalog.list_tables("default")
    with pytest.raises(TableNotExistException):
        catalog.drop_table("default.t_list_a")
    catalog.drop_table("default.t_list_a", ignore_if_not_exists=True)


def test_ignore_delete_option(catalog):
    t = _mk(catalog, "igdel", {"ignore-delete": "true"})
    _write(t, pd.DataFrame({"k": [1, 2], "a": ["a", "b"], "b": ["A", "B"]}))
    # a -D row for k=1 arrives but the table ignores deletes
    _write(
        t,
        pd.DataFrame({"k": [1], "a": ["a"], "b": ["A"], "__rk": [3]}),
        row_kind_col="__rk",
    )
    out = t.new_read_builder().new_read().to_pandas().sort_values("k")
    assert out["k"].tolist() == [1, 2]  # key 1 still present


def test_aggregation_product_function(catalog):
    schema = pa.schema([("k", pa.int32()), ("factor", pa.float64())])
    catalog.create_table(
        "default.agg_prod",
        Schema(
            schema,
            primary_keys=["k"],
            options={
                "bucket": "1",
                "merge-engine": "aggregation",
                "fields.factor.aggregate-function": "product",
            },
        ),
        False,
    )
    t = catalog.get_table("default.agg_prod")
    _write(t, pd.DataFrame({"k": [1, 1, 2], "factor": [2.0, 3.0, 5.0]}))
    _write(t, pd.DataFrame({"k": [1], "factor": [4.0]}))
    out = (
        t.new_read_builder().new_read().to_pandas().sort_values("k").reset_index(drop=True)
    )
    assert out["factor"].tolist() == [24.0, 5.0]


def test_write_dataframe_many_partitions_last_write_wins(catalog):
    """Scale regression: sequence stamping must stay correct when the
    input DataFrame has far more than 128 partitions (the old
    monotonically_increasing_id scheme's documented cap). Two
    write_dataframe calls at 200 input partitions each; the second must
    win for every key and no key may duplicate or drop."""
    from pyspark.sql import functions as F

    from paimon_python_spark.session import get_spark

    spark = get_spark()
    schema = pa.schema([("k", pa.int64()), ("v", pa.int64())])
    catalog.create_table(
        "default.manyparts",
        Schema(schema, primary_keys=["k"], options={"bucket": "4"}),
        False,
    )
    t = catalog.get_table("default.manyparts")

    def write_call(value_offset):
        df = (
            spark.range(1000)
            .repartition(200)
            .select(F.col("id").alias("k"), (F.col("id") + value_offset).alias("v"))
        )
        wb = t.new_batch_write_builder()
        w, c = wb.new_write(), wb.new_commit()
        w.write_dataframe(df)
        c.commit(w.prepare_commit())
        w.close()
        c.close()

    write_call(0)
    write_call(1_000_000)
    out = t.new_read_builder().new_read().to_pandas().sort_values("k")
    assert len(out) == 1000  # no dup, no drop
    assert out["k"].tolist() == list(range(1000))
    assert out["v"].tolist() == [k + 1_000_000 for k in range(1000)]


def test_write_dataframe_duplicate_keys_one_call_distinct_seq(catalog):
    """Within one distributed write call, duplicate keys must receive
    distinct sequence numbers (merge picks exactly one survivor — no
    nondeterministic double-emit from tied sequences)."""
    from pyspark.sql import functions as F

    from paimon_python_spark.session import get_spark

    spark = get_spark()
    schema = pa.schema([("k", pa.int64()), ("v", pa.int64())])
    catalog.create_table(
        "default.dupseq",
        Schema(schema, primary_keys=["k"], options={"bucket": "2"}),
        False,
    )
    t = catalog.get_table("default.dupseq")
    # 5 copies of each of 100 keys, spread over 150 partitions
    df = (
        spark.range(500)
        .repartition(150)
        .select((F.col("id") % 100).alias("k"), F.col("id").alias("v"))
    )
    wb = t.new_batch_write_builder()
    w, c = wb.new_write(), wb.new_commit()
    w.write_dataframe(df)
    c.commit(w.prepare_commit())
    w.close()
    c.close()
    out = t.new_read_builder().new_read().to_pandas()
    assert len(out) == 100  # exactly one survivor per key
    assert sorted(out["k"].tolist()) == list(range(100))
    # each survivor must be one of that key's actual inputs
    assert ((out["v"] % 100) == out["k"]).all()


def test_skew_salted_merge_hash_identical(catalog, spark):
    """``bucket-shuffle.salt`` two-phase merge: a 1-bucket table with a
    pathologically hot key (2000 versions of k=1) must produce rows
    hash-identical to the unsalted plan, with the salted pre-reduce
    visible in the physical plan (phase-1 window keyed on __salt) so a
    hot key's versions spread over >1 task before the per-key window."""
    import pandas as pd

    from paimon_python_spark import Schema

    base = pd.DataFrame(
        {
            "k": [1] * 2000 + [2, 3],
            "v": list(range(2000)) + [100, 200],
        }
    )
    sdf = spark.createDataFrame(base)
    for name, opts in (
        ("skew_plain", {"bucket": "1"}),
        ("skew_salted", {"bucket": "1", "bucket-shuffle.salt": "8"}),
    ):
        catalog.create_table(
            f"default.{name}", Schema(sdf.schema, primary_keys=["k"], options=opts), False
        )
        t = catalog.get_table(f"default.{name}")
        # two commits so versions of k=1 genuinely span sequence numbers
        for half in (base.iloc[:1000], base.iloc[1000:]):
            wb = t.new_batch_write_builder()
            w, c = wb.new_write(), wb.new_commit()
            w.write_pandas(half)
            c.commit(w.prepare_commit())
            w.close()
            c.close()
    plain = catalog.get_table("default.skew_plain")
    salted = catalog.get_table("default.skew_salted")
    df_plain = plain.new_read_builder().new_read().to_df()
    df_salted = salted.new_read_builder().new_read().to_df()
    assert "__salt" in df_salted._jdf.queryExecution().executedPlan().toString()
    assert "__salt" not in df_plain._jdf.queryExecution().executedPlan().toString()
    rows_p = sorted((r.k, r.v) for r in df_plain.collect())
    rows_s = sorted((r.k, r.v) for r in df_salted.collect())
    assert rows_p == rows_s
    assert [k for k, _ in rows_s] == [1, 2, 3]
    assert dict(rows_s)[1] == 1999  # latest version of the hot key wins


def test_engine_bucket_local_merge_no_shuffle(catalog, spark):
    """Eligible engine PK reads take the bucket-closed merge: ZERO
    Exchange in the physical plan; results identical to the window
    path; projection prunes the per-group reads."""
    import pandas as pd
    import pyarrow as pa

    from paimon_python_spark import Schema

    schema = pa.schema([("k", pa.int64()), ("v", pa.string()), ("w", pa.int64())])
    catalog.create_table(
        "default.blm_engine",
        Schema(schema, primary_keys=["k"], options={"bucket": "4"}),
        False,
    )
    t = catalog.get_table("default.blm_engine")
    for batch in (
        {"k": list(range(100)), "v": [f"a{i}" for i in range(100)],
         "w": list(range(100))},
        {"k": list(range(0, 100, 3)), "v": [f"b{i}" for i in range(0, 100, 3)],
         "w": [i * 10 for i in range(0, 100, 3)]},
    ):
        wb = t.new_batch_write_builder()
        w, c = wb.new_write(), wb.new_commit()
        w.write_pandas(pd.DataFrame(batch))
        c.commit(w.prepare_commit())
    rb = t.new_read_builder()
    df = rb.new_read().to_df(rb.new_scan().plan().splits())
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan[:600]
    got = {r["k"]: r["v"] for r in df.collect()}
    assert len(got) == 100 and got[3] == "b3" and got[1] == "a1"
    # projection prunes the per-group reads AND the output schema
    rb2 = t.new_read_builder().with_projection(["k", "v"])
    df2 = rb2.new_read().to_df(rb2.new_scan().plan().splits())
    assert [f.name for f in df2.schema.fields] == ["k", "v"]
    assert sorted(df2.toPandas().k) == list(range(100))


def test_engine_bucket_local_size_guard(catalog, spark):
    """SCALE GUARD (engine twin): a split bigger than
    ``bucket-local.max-group-bytes`` falls back to the exact key-window
    merge — Exchange present, identical results."""
    import pandas as pd
    import pyarrow as pa

    from paimon_python_spark import Schema

    schema = pa.schema([("k", pa.int64()), ("v", pa.string())])
    catalog.create_table(
        "default.blm_guard",
        Schema(
            schema,
            primary_keys=["k"],
            options={"bucket": "1", "bucket-local.max-group-bytes": "1"},
        ),
        False,
    )
    t = catalog.get_table("default.blm_guard")
    for vals in ("a", "b"):
        wb = t.new_batch_write_builder()
        w, c = wb.new_write(), wb.new_commit()
        w.write_pandas(
            pd.DataFrame({"k": list(range(30)), "v": [f"{vals}{i}" for i in range(30)]})
        )
        c.commit(w.prepare_commit())
    rb = t.new_read_builder()
    df = rb.new_read().to_df(rb.new_scan().plan().splits())
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" in plan, plan[:600]
    got = {r["k"]: r["v"] for r in df.collect()}
    assert len(got) == 30 and got[7] == "b7"


def test_bucket_local_key_predicate_pushdown_exact(catalog, spark):
    """Key predicates pushed below the bucket-local merge stay EXACT
    across versions: a key updated in a later commit must resolve to
    its newest value when point-read, and a range key predicate must
    return the merged rows only (no resurrected old versions)."""
    import pandas as pd
    import pyarrow as pa

    from paimon_python_spark import Schema

    schema = pa.schema([("k", pa.int64()), ("v", pa.string())])
    catalog.create_table(
        "default.blm_kpred",
        Schema(schema, primary_keys=["k"], options={"bucket": "2"}),
        False,
    )
    t = catalog.get_table("default.blm_kpred")
    for tag in ("a", "b", "c"):
        wb = t.new_batch_write_builder()
        w, c = wb.new_write(), wb.new_commit()
        w.write_pandas(
            pd.DataFrame({"k": list(range(200)), "v": [f"{tag}{i}" for i in range(200)]})
        )
        c.commit(w.prepare_commit())
    pb = t.new_read_builder().new_predicate_builder()
    rb = t.new_read_builder().with_filter(pb.equal("k", 137))
    df = rb.new_read().to_df(rb.new_scan().plan().splits())
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # still the bucket-local path
    assert [(r["k"], r["v"]) for r in df.collect()] == [(137, "c137")]
    rb2 = t.new_read_builder().with_filter(pb.between("k", 10, 13))
    out = sorted(
        (r["k"], r["v"])
        for r in rb2.new_read().to_df(rb2.new_scan().plan().splits()).collect()
    )
    assert out == [(10, "c10"), (11, "c11"), (12, "c12"), (13, "c13")]
    # IN + a VALUE predicate: value part re-applies after the merge,
    # key part pushes below it
    rb3 = t.new_read_builder().with_filter(
        pb.and_predicates([pb.is_in("k", [5, 6, 7]), pb.equal("v", "c6")])
    )
    out3 = [
        (r["k"], r["v"])
        for r in rb3.new_read().to_df(rb3.new_scan().plan().splits()).collect()
    ]
    assert out3 == [(6, "c6")]


def test_bitmap_file_index_engine_exact_prune(catalog):
    """file-index.bitmap.columns on an ENGINE table: the spec exact
    value-dictionary prunes at PLAN level — an absent value inside
    both files' min/max plans ZERO splits (the bloom twin can only
    promise an empty read after the residual filter). Payloads above
    the 500 B in-manifest default land as standalone .index extras;
    orphan cleanup pins them; snapshot expiry removes them with their
    dead data files."""
    import os

    from paimon_python_spark.maintenance import (
        expire_snapshots,
        remove_orphan_files,
    )
    from paimon_python_spark.metadata import MetadataStore

    schema = pa.schema([("id", pa.int64()), ("ref", pa.string())])
    catalog.create_table(
        "default.t_bitmap_engine",
        Schema(
            schema.with_metadata(None),
            options={"file-index.bitmap.columns": "ref"},
        ),
        False,
    )
    t = catalog.get_table("default.t_bitmap_engine")
    _write(t, pd.DataFrame({"id": range(0, 100), "ref": [f"r{i:04d}" for i in range(0, 200, 2)]}))
    _write(t, pd.DataFrame({"id": range(100, 200), "ref": [f"r{i:04d}" for i in range(1, 200, 2)]}))

    store = MetadataStore(t.table_path)
    files = store.live_files()
    assert len(files) == 2
    # ~2 KB dictionary exceeds the default threshold → standalone extra
    for f in files:
        assert f.file_index_b64 is None and f.extra_files
        xp = os.path.join(
            t.table_path, os.path.dirname(f.path), f.extra_files[0]
        )
        assert os.path.exists(xp)

    pb = t.new_read_builder().new_predicate_builder()
    rb = t.new_read_builder().with_filter(pb.equal("ref", "r0100"))
    assert sum(s.row_count() for s in rb.new_scan().plan().splits()) == 100
    assert rb.new_read().to_pandas()["id"].tolist() == [50]
    # absent value inside min/max: ZERO splits planned — exact index
    rb2 = t.new_read_builder().with_filter(pb.equal("ref", "r0100x"))
    assert rb2.new_scan().plan().splits() == []
    # range predicates skip index decode entirely; rows stay exact
    rb3 = t.new_read_builder().with_filter(pb.between("ref", "r0100", "r0103"))
    assert sorted(rb3.new_read().to_pandas()["id"]) == [50, 150, 51, 151] or sorted(
        rb3.new_read().to_pandas()["id"].tolist()
    ) == [50, 51, 150, 151]

    # orphan cleanup pins referenced extras, removes strays
    stray = os.path.join(t.table_path, "data", "stray-feed.index")
    os.makedirs(os.path.dirname(stray), exist_ok=True)
    with open(stray, "wb") as fh:
        fh.write(b"junk")
    os.utime(stray, (1, 1))
    for f in files:
        xp = os.path.join(t.table_path, os.path.dirname(f.path), f.extra_files[0])
        os.utime(xp, (1, 1))
    remove_orphan_files(t, older_than_seconds=0.0)
    assert not os.path.exists(stray)
    for f in files:
        xp = os.path.join(t.table_path, os.path.dirname(f.path), f.extra_files[0])
        assert os.path.exists(xp), "referenced index extra must survive"

    # a third commit then expiry to 1 snapshot: files stay live, extras
    # stay; overwrite-style death is exercised by the engine expiry path
    # below via compaction tests elsewhere — here assert reads still fine
    rb4 = t.new_read_builder().with_filter(pb.equal("ref", "r0101"))
    assert rb4.new_read().to_pandas()["id"].tolist() == [150]
    expire_snapshots(t, keep_last_n=1)
    assert t.new_read_builder().new_read().to_pandas().shape[0] == 200


def test_bsi_file_index_engine_exact_prune(catalog):
    """file-index.bsi.columns on an ENGINE table: exact bit-sliced
    numeric index — equality on an in-range gap value plans ZERO
    splits; a small payload stays inline (file_index_b64) under a
    raised threshold."""
    from paimon_python_spark.metadata import MetadataStore

    schema = pa.schema([("id", pa.int64()), ("amt", pa.int64())])
    catalog.create_table(
        "default.t_bsi_engine",
        Schema(
            schema.with_metadata(None),
            options={
                "file-index.bsi.columns": "amt",
                "file-index.in-manifest-threshold": "64 KB",
            },
        ),
        False,
    )
    t = catalog.get_table("default.t_bsi_engine")
    _write(t, pd.DataFrame({"id": range(100), "amt": [i * 10 for i in range(100)]}))

    store = MetadataStore(t.table_path)
    (f,) = store.live_files()
    assert f.file_index_b64 is not None and not f.extra_files

    pb = t.new_read_builder().new_predicate_builder()
    rb = t.new_read_builder().with_filter(pb.equal("amt", 500))
    assert sum(s.row_count() for s in rb.new_scan().plan().splits()) == 100
    assert rb.new_read().to_pandas()["id"].tolist() == [50]
    # 505 sits inside [0, 990] but no row holds it: plan ZERO splits
    rb2 = t.new_read_builder().with_filter(pb.equal("amt", 505))
    assert rb2.new_scan().plan().splits() == []
    # negative probe outside range also zero
    rb3 = t.new_read_builder().with_filter(pb.equal("amt", -10))
    assert rb3.new_scan().plan().splits() == []
    # IN mixing present+absent keeps the file, rows exact
    rb4 = t.new_read_builder().with_filter(pb.is_in("amt", [505, 430]))
    assert rb4.new_read().to_pandas()["id"].tolist() == [43]


def test_index_harvest_distributes_over_executors(catalog):
    """An index-declaring ENGINE write with real fan-out harvests its
    per-file column scans as a Spark job (not a driver loop): every
    file still gets its exact-index payload, manifest order stays
    deterministic, and pruning works."""
    from paimon_python_spark.metadata import MetadataStore
    from paimon_python_spark.session import get_spark

    schema = pa.schema([("k", pa.int64()), ("ref", pa.string())])
    catalog.create_table(
        "default.t_dist_harvest",
        Schema(
            schema.with_metadata(None),
            options={"file-index.bitmap.columns": "ref"},
        ),
        False,
    )
    t = catalog.get_table("default.t_dist_harvest")
    df = get_spark().createDataFrame(
        [(i, f"r{i:05d}") for i in range(3000)], "k long, ref string"
    ).repartition(8)
    wb = t.new_batch_write_builder()
    w, c = wb.new_write(), wb.new_commit()
    w.write_dataframe(df)
    c.commit(w.prepare_commit())
    w.close()
    c.close()
    files = MetadataStore(t.table_path).live_files()
    assert len(files) > 4
    assert all(f.file_index_b64 or f.extra_files for f in files)
    assert [f.path for f in files] == sorted(f.path for f in files)
    pb = t.new_read_builder().new_predicate_builder()
    rb = t.new_read_builder().with_filter(pb.equal("ref", "r01234"))
    assert rb.new_read().to_pandas()["k"].tolist() == [1234]
    rb2 = t.new_read_builder().with_filter(pb.equal("ref", "r01234x"))
    assert rb2.new_scan().plan().splits() == []


def test_partial_update_refuses_delete_by_default(catalog):
    """Paimon's contract: partial-update cannot accept retract records
    unless ignore-delete / remove-record-on-delete / a sequence-group
    opts in (PartialUpdateMergeFunction's refusal, JVM-side in the
    reference)."""
    t = _mk(catalog, "pu_noopt", {"merge-engine": "partial-update"})
    _write(t, pd.DataFrame({"k": [1], "a": ["a1"], "b": ["b1"]}))
    _write(
        t,
        pd.DataFrame({"k": [1], "a": [None], "b": [None], "_kind": [3]}),
        row_kind_col="_kind",
    )
    with pytest.raises(Exception, match="cannot accept"):
        t.new_read_builder().new_read().to_pandas()


def test_partial_update_remove_record_on_delete(catalog):
    """partial-update.remove-record-on-delete: a -D clears the
    accumulated record; later adds rebuild it from scratch (values
    patched BEFORE the delete stay cleared)."""
    t = _mk(
        catalog,
        "pu_rrod",
        {
            "merge-engine": "partial-update",
            "partial-update.remove-record-on-delete": "true",
        },
    )
    _write(t, pd.DataFrame({"k": [1, 2, 3], "a": ["a1", "a2", "a3"], "b": ["b1", "b2", "b3"]}))
    # delete k=1 and k=2; k=3 untouched
    _write(
        t,
        pd.DataFrame({"k": [1, 2], "a": [None, None], "b": [None, None], "_kind": [3, 3]}),
        row_kind_col="_kind",
    )
    # k=1 rebuilt from scratch: only column a patched — b must be NULL,
    # NOT the pre-delete "b1"
    _write(t, pd.DataFrame({"k": [1], "a": ["A1"], "b": [None]}))
    out = (
        t.new_read_builder()
        .new_read()
        .to_pandas()
        .sort_values("k")
        .reset_index(drop=True)
    )
    assert out["k"].tolist() == [1, 3]  # k=2 stays deleted
    assert out["a"].tolist() == ["A1", "a3"]
    assert out["b"].tolist() == [None, "b3"]


def test_partial_update_remove_record_on_delete_refuses_update_before(catalog):
    t = _mk(
        catalog,
        "pu_rrod_u",
        {
            "merge-engine": "partial-update",
            "partial-update.remove-record-on-delete": "true",
        },
    )
    _write(t, pd.DataFrame({"k": [1], "a": ["a1"], "b": ["b1"]}))
    _write(
        t,
        pd.DataFrame({"k": [1], "a": ["a1"], "b": ["b1"], "_kind": [1]}),
        row_kind_col="_kind",
    )
    with pytest.raises(Exception, match="cannot accept -U"):
        t.new_read_builder().new_read().to_pandas()


def test_partial_update_remove_record_on_delete_refuses_groups(catalog):
    # setup OUTSIDE pytest.raises: only the READ may raise the refusal
    t = _mk(
        catalog,
        "pu_rrod_g",
        {
            "merge-engine": "partial-update",
            "partial-update.remove-record-on-delete": "true",
            "fields.b.sequence-group": "a",
        },
    )
    _write(t, pd.DataFrame({"k": [1], "a": ["a1"], "b": ["9"]}))
    with pytest.raises(ValueError, match="remove-record-on-delete"):
        t.new_read_builder().new_read().to_pandas()


def test_partial_update_sequence_group_accepts_delete(catalog):
    """With a sequence-group declared the merge keeps its lenient
    pre-contract behavior (group retraction territory) — no raise."""
    schema = pa.schema(
        [("k", pa.int32()), ("a", pa.string()), ("b", pa.string()), ("ver", pa.int32())]
    )
    catalog.create_table(
        "default.pu_sg_del",
        Schema(
            schema,
            primary_keys=["k"],
            options={
                "bucket": "1",
                "merge-engine": "partial-update",
                "fields.ver.sequence-group": "a",
            },
        ),
        False,
    )
    t = catalog.get_table("default.pu_sg_del")
    _write(t, pd.DataFrame({"k": [1, 2], "a": ["a1", "a2"], "b": ["b1", "b2"], "ver": [1, 1]}))
    _write(
        t,
        pd.DataFrame({"k": [2], "a": [None], "b": [None], "ver": [None], "_kind": [3]}),
        row_kind_col="_kind",
    )
    out = t.new_read_builder().new_read().to_pandas().sort_values("k")
    assert out["k"].tolist() == [1]  # latest record for k=2 is the -D


# ---- model test: every PK reader against a pure-Python merge model ----

_BIG = 2**53 + 1  # float64 cannot hold it: a float detour shows

_MODEL_CONFIGS = {
    "deduplicate": {},
    "first-row": {"merge-engine": "first-row"},
    "partial-update": {"merge-engine": "partial-update"},
    "aggregation": {
        "merge-engine": "aggregation",
        "fields.v.aggregate-function": "sum",
    },
    "ignore-delete": {"ignore-delete": "true"},
}

_ADDS = (0, 2)  # +I, +U; -U = 1 and -D = 3 retract


def _model_merge(history, options):
    """{k: (v, s)} visible after replaying ``history`` (commits of
    {k: (kind, v, s)}, one event per key per commit) under
    ``options`` — the merge engines' semantics written as plain
    Python over each key's event list."""
    engine = options.get("merge-engine", "deduplicate")
    ignore_delete = options.get("ignore-delete") == "true"
    events: dict = {}
    for commit in history:
        for k, ev in commit.items():
            if not (ignore_delete and ev[0] not in _ADDS):
                events.setdefault(k, []).append(ev)
    out = {}
    for k, evs in events.items():
        if engine in ("deduplicate", "first-row"):
            kind, v, s = evs[-1] if engine == "deduplicate" else evs[0]
            if kind in _ADDS:
                out[k] = (v, s)
            continue

        def last_non_null(i, rows):
            vals = [e[i] for e in rows if e[i] is not None]
            return vals[-1] if vals else None

        if engine == "partial-update":
            out[k] = (last_non_null(1, evs), last_non_null(2, evs))
            continue
        adds = [e for e in evs if e[0] in _ADDS]
        if adds:  # aggregation: sum(v) minus retracted v, last non-null s
            vs = [e[1] if e[0] in _ADDS else -e[1] for e in evs if e[1] is not None]
            out[k] = (sum(vs) if vs else None, last_non_null(2, adds))
    return out


_EVENT_VALUES = st.one_of(st.none(), st.integers(-3, 3), st.just(_BIG))
_HISTORIES = st.lists(
    st.dictionaries(
        st.integers(1, 3),
        st.tuples(
            st.sampled_from([0, 1, 2, 3]),
            _EVENT_VALUES,
            st.one_of(st.none(), st.sampled_from(["a", "b"])),
        ),
        min_size=1,
        max_size=3,
    ),
    min_size=1,
    max_size=3,
)
_MODEL_SEQ = itertools.count()


@pytest.mark.parametrize("config", sorted(_MODEL_CONFIGS))
@settings(
    max_examples=3,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(history=_HISTORIES)
@example(
    history=[
        {1: (0, _BIG, "a"), 2: (0, None, "b")},
        {1: (2, 5, None), 3: (0, _BIG, None)},
    ]
)
def test_pk_readers_match_merge_model(config, history, catalog, spark, tmp_path):
    """Short PK histories (upserts, -U/-D retracts, NULLs, BIGINTs
    above 2^53) read back identically to the model through
    format('paimon_lake'), format('paimon_spark'), both read builders
    (in-task merge for the deduplicate engine on these one-bucket
    tables) and both builders' key-window path (forced with
    bucket-local.max-group-bytes=1)."""
    import copy

    from pyspark.sql import types as T

    from paimon_python_spark.datasource import register
    from paimon_python_spark.lake_datasource import register_lake
    from paimon_python_spark.paimon_import import write_paimon_table_fixture
    from paimon_python_spark.paimon_lake import PaimonLakeTable
    from paimon_python_spark.table import Table

    options = _MODEL_CONFIGS[config]
    if config == "partial-update":
        # plain partial-update refuses retracts: replay them as upserts
        history = [
            {k: (e[0] if e[0] in _ADDS else 2, e[1], e[2]) for k, e in c.items()}
            for c in history
        ]
    want = sorted((k, v, s) for k, (v, s) in _model_merge(history, options).items())
    register(spark)
    register_lake(spark)
    n = next(_MODEL_SEQ)

    def rows(df):
        return sorted((r["k"], r["v"], r["s"]) for r in df.collect())

    # lake: spec-format fixture, one level-0 file per commit
    kv = pa.schema(
        [
            ("_KEY_k", pa.int32()),
            ("_SEQUENCE_NUMBER", pa.int64()),
            ("_VALUE_KIND", pa.int32()),
            ("k", pa.int32()),
            ("v", pa.int64()),
            ("s", pa.string()),
        ]
    )
    files, seq = [], 0
    for commit in history:
        ks = sorted(commit)
        files.append(
            (
                0,
                {},
                0,
                pa.table(
                    {
                        "_KEY_k": ks,
                        "_SEQUENCE_NUMBER": list(range(seq, seq + len(ks))),
                        "_VALUE_KIND": [commit[k][0] for k in ks],
                        "k": ks,
                        "v": [commit[k][1] for k in ks],
                        "s": [commit[k][2] for k in ks],
                    },
                    schema=kv,
                ),
            )
        )
        seq += len(ks)
    lakes = []
    for extra in ({}, {"bucket-local.max-group-bytes": "1"}):
        p = str(tmp_path / f"model_lake_{n}_{len(lakes)}")
        write_paimon_table_fixture(
            p,
            [("k", "INT NOT NULL"), ("v", "BIGINT"), ("s", "STRING")],
            [],
            ["k"],
            files,
            options={"bucket": "1", **options, **extra},
        )
        lakes.append(p)
    lake_df = spark.read.format("paimon_lake").option("path", lakes[0]).load()
    assert rows(lake_df) == want, "format('paimon_lake')"
    for p in lakes:
        got = rows(PaimonLakeTable(p).new_read_builder().new_read().to_df())
        assert got == want, f"lake read builder {p}"

    # engine: one write per commit with explicit row kinds
    name = f"default.model_{n}"
    catalog.create_table(
        name,
        Schema(
            pa.schema([pa.field("k", pa.int32(), False), ("v", pa.int64()), ("s", pa.string())]),
            primary_keys=["k"],
            options={"bucket": "1", **options},
        ),
        False,
    )
    t = catalog.get_table(name)
    for commit in history:
        _write(
            t,
            [(k, v, s, kind) for k, (kind, v, s) in sorted(commit.items())],
            row_kind_col="_kind",
        )
    eng_df = spark.read.format("paimon_spark").option("path", t.table_path).load()
    assert rows(eng_df) == want, "format('paimon_spark')"
    window_schema = copy.deepcopy(t.schema)
    window_schema.options["bucket-local.max-group-bytes"] = "1"
    for tbl in (t, Table(name, t.table_path, window_schema)):
        got = rows(tbl.new_read_builder().new_read().to_df())
        assert got == want, f"engine read builder {tbl.schema.options}"
