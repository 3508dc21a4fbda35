"""Merge-engine functions — full Paimon parity — and the ONE in-task
primary-key merge (:func:`merge_pk_group`) every per-group reader
calls: the lake and engine read builders' no-shuffle paths and both
``format(...)`` data sources.

Paimon's aggregation merge engine resolves each value column with a
per-field aggregate declared via ``fields.<name>.aggregate-function``
(paimon.apache.org docs, "Aggregation" merge engine; the reference SDK
delegates the whole engine to its bundled JVM writer,
pypaimon/api/table_write.py:27-48, so the function surface here is the
table-format spec, not reference code).

Spark-first shape: ONE hash aggregate per read keyed on the merge key
(map-side partial aggregation halves shuffle volume vs any window
formulation — the reason this module never uses a window):

- plain scalar functions (sum/min/max/bool/first/last/listagg/product/
  count) are built-in JVM aggregates;
- order-sensitive container functions (``collect``, ``merge_map``,
  ``nested_update``) collect ``(seq, kind, value)`` structs and fold
  them in sequence order with HIGHER-ORDER functions (``aggregate`` /
  ``filter`` / ``exists``) — still whole-stage JVM, no Python in the
  loop, and the fold happens per merged key, post-shuffle, so state is
  bounded by one key's version count;
- sketch unions: ``hll_sketch`` is Spark's native ``hll_union_agg``
  (both Spark and Paimon serialize Apache DataSketches HLL, so bytes
  interoperate); ``rbm32``/``rbm64`` union portable-spec Roaring
  bitmaps (roaring.py codec) in ONE vectorized pandas UDF applied
  AFTER the hash aggregate — Arrow-batched, one call per merged key,
  never per version.

Retraction (``-U``/``-D`` rows): Paimon supports retraction only for
sum, product, count, collect, merge_map, nested_update, last_value and
last_non_null_value, and hard-errors elsewhere unless
``fields.<name>.ignore-retract = true``. This module mirrors that:
retractable functions subtract / remove the retracted contribution;
non-retractable fields RAISE on a non-null retracted value unless
ignore-retract is set (the raise is a guarded ``raise_error`` branch in
the field's own projection, so it costs one tiny extra aggregate and
only for fields that can trip it). ``last_value`` /
``last_non_null_value`` accept retract rows but resolve from the add
rows only — Paimon's accumulator keeps the standing value, which for a
full-state merge-on-read is the same answer.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from paimon_python_spark.write import (
    ADD_KINDS,
    ROWKIND_DELETE,
    ROWKIND_UPDATE_BEFORE,
)

#: every fields.<name>.aggregate-function value this engine accepts
#: — the complete Paimon aggregation merge-engine function list
#: (theta_sketch unions DataSketches compact-theta bytes through the
#: spec-faithful codec in theta_sketch.py).
AGG_FUNCTIONS = (
    "sum",
    "min",
    "max",
    "last_value",
    "last_non_null_value",
    "first_value",
    "first_non_null_value",
    "bool_and",
    "bool_or",
    "listagg",
    "product",
    "count",
    "collect",
    "merge_map",
    "nested_update",
    "rbm32",
    "rbm64",
    "hll_sketch",
    "theta_sketch",
)

#: functions whose retract path is implemented (matches Paimon's
#: retraction-support list minus the last_value pair, handled above)
RETRACTABLE = frozenset(
    {"sum", "product", "count", "collect", "merge_map", "nested_update"}
)

#: functions that tolerate retract rows without implementing them
_RETRACT_TOLERANT = frozenset({"last_value", "last_non_null_value"})

RETRACT_KINDS = (ROWKIND_UPDATE_BEFORE, ROWKIND_DELETE)

_ADD_SQL = "(" + ",".join(str(k) for k in ADD_KINDS) + ")"


def _seq_sorted_rows(c: str, seq_col: str, kind_col: str) -> str:
    """SQL for this column's (seq, kind, value) structs in commit order.

    ``array_sort`` takes the comparator form because map-typed values
    are not orderable — the lambda compares the sequence number only,
    which is unique per stored row."""
    return (
        f"array_sort(collect_list(struct(`{seq_col}` as s, `{kind_col}` as k, "
        f"`{c}` as v)), (l, r) -> case when l.s < r.s then -1 "
        f"when l.s > r.s then 1 else 0 end)"
    )


def _collect_expr(c, ddl, distinct, ignore_ret, seq_col, kind_col) -> str:
    """``collect``: ARRAY field; adds concatenate elements, retracts
    remove one occurrence per retracted element (set semantics under
    ``fields.<c>.distinct = true``), all in sequence order."""
    empty = f"cast(array() as {ddl})"
    rows = _seq_sorted_rows(c, seq_col, kind_col)
    add_branch = f"concat(acc, coalesce(r.v, {empty}))"
    if distinct:
        add_branch = f"array_distinct({add_branch})"
        ret_branch = (
            f"filter(acc, e -> not array_contains(coalesce(r.v, {empty}), e))"
        )
    else:
        # remove ONE occurrence of each retracted element: fold the
        # retracted array over the accumulator, slicing out the first
        # match (slice clamps at the end, so pos+1 past the tail is [])
        ret_branch = (
            f"aggregate(coalesce(r.v, {empty}), acc, (a, x) -> "
            f"case when array_position(a, x) > 0 then concat("
            f"slice(a, 1, cast(array_position(a, x) as int) - 1), "
            f"slice(a, cast(array_position(a, x) as int) + 1, size(a))) "
            f"else a end)"
        )
    if ignore_ret:
        body = f"(acc, r) -> case when r.k in {_ADD_SQL} then {add_branch} else acc end"
    else:
        body = (
            f"(acc, r) -> case when r.k in {_ADD_SQL} then {add_branch} "
            f"else {ret_branch} end"
        )
    return f"aggregate({rows}, {empty}, {body})"


def _merge_map_expr(c, ddl, ignore_ret, seq_col, kind_col) -> str:
    """``merge_map``: MAP field; adds merge entries newest-wins,
    retracts remove the retracted keys — a sequence-ordered fold, so an
    add AFTER a retract of the same key survives."""
    empty = f"cast(map() as {ddl})"
    rows = _seq_sorted_rows(c, seq_col, kind_col)
    rv = f"coalesce(r.v, {empty})"
    add_branch = (
        f"map_concat(map_filter(acc, (mk, mv) -> "
        f"not map_contains_key({rv}, mk)), {rv})"
    )
    ret_branch = f"map_filter(acc, (mk, mv) -> not map_contains_key({rv}, mk))"
    if ignore_ret:
        body = f"(acc, r) -> case when r.k in {_ADD_SQL} then {add_branch} else acc end"
    else:
        body = (
            f"(acc, r) -> case when r.k in {_ADD_SQL} then {add_branch} "
            f"else {ret_branch} end"
        )
    return f"aggregate({rows}, {empty}, {body})"


def _nested_update_expr(c, ddl, keys, ignore_ret, seq_col, kind_col) -> str:
    """``nested_update``: ARRAY<STRUCT> field with
    ``fields.<c>.nested-key = k1,k2``; each input array upserts rows by
    nested key, retracts delete by nested key."""
    empty = f"cast(array() as {ddl})"
    rows = _seq_sorted_rows(c, seq_col, kind_col)
    rv = f"coalesce(r.v, {empty})"
    match = " and ".join(f"x.`{k}` <=> e.`{k}`" for k in keys)
    drop_matching = f"filter(acc, e -> not exists({rv}, x -> {match}))"
    add_branch = f"concat({drop_matching}, {rv})"
    if ignore_ret:
        body = f"(acc, r) -> case when r.k in {_ADD_SQL} then {add_branch} else acc end"
    else:
        body = (
            f"(acc, r) -> case when r.k in {_ADD_SQL} then {add_branch} "
            f"else {drop_matching} end"
        )
    return f"aggregate({rows}, {empty}, {body})"


def _union_rbm_udf(bits: int):
    """Vectorized union of portable-spec roaring bitmaps: one Arrow
    batch of per-key binary lists in, one unioned binary out."""
    from paimon_python_spark import roaring

    if bits == 32:
        ser, de = roaring.serialize_roaring32, roaring.deserialize_roaring32
    else:
        ser, de = roaring.serialize_roaring64, roaring.deserialize_roaring64

    @F.pandas_udf("binary")
    def _union(lists: pd.Series) -> pd.Series:
        import numpy as np

        out = []
        for lst in lists:
            if lst is None or len(lst) == 0:
                out.append(None)
                continue
            arrays = [de(bytes(b)) for b in lst if b is not None]
            if not arrays:
                out.append(None)
                continue
            merged = arrays[0] if len(arrays) == 1 else np.unique(
                np.concatenate(arrays)
            )
            out.append(ser(merged))
        return pd.Series(out, dtype=object)

    return _union


def _union_theta_udf():
    """Vectorized union of DataSketches compact theta sketches: one
    Arrow batch of per-key binary lists in, one unioned compact-ordered
    sketch out (theta_sketch.py codec; Paimon's FieldThetaSketchAgg
    does the same union via the DataSketches library JVM-side)."""
    from paimon_python_spark import theta_sketch as _ts

    @F.pandas_udf("binary")
    def _union(lists: pd.Series) -> pd.Series:
        out = []
        for lst in lists:
            if lst is None or len(lst) == 0:
                out.append(None)
                continue
            bufs = [b for b in lst if b is not None]
            out.append(_ts.union_theta(bufs) if bufs else None)
        return pd.Series(out, dtype=object)

    return _union


#: the scalar subset usable as per-field aggregates inside the
#: partial-update merge engine's sequence groups (Paimon: declaring
#: fields.<c>.aggregate-function on a partial-update table switches
#: that column from last-non-null to the aggregate; container/sketch
#: functions are aggregation-engine-only there, same as the JVM)
SCALAR_AGG_FUNCTIONS = frozenset(
    {
        "sum",
        "product",
        "count",
        "min",
        "max",
        "last_value",
        "last_non_null_value",
        "first_value",
        "first_non_null_value",
        "bool_and",
        "bool_or",
        "listagg",
    }
)


def _scalar_expr(schema, c, fn, order, add_k, ret_k, ignore_ret):
    """One scalar aggregate expression; ``order`` is the Column that
    defines last/first/listagg ordering (the sequence number, or a
    (group-seq, seq) struct inside a partial-update sequence group)."""
    col = F.col(c)
    addcol = F.when(add_k, col)
    if fn == "sum":
        return (
            F.sum(addcol)
            if ignore_ret
            else F.sum(F.when(add_k, col).when(ret_k, -col))
        )
    if fn == "product":
        p_add = F.product(addcol)
        if ignore_ret:
            return p_add
        # Paimon's FieldProductAgg retracts by division
        return p_add / F.coalesce(F.product(F.when(ret_k, col)), F.lit(1.0))
    if fn == "count":
        branch = F.when(add_k & col.isNotNull(), F.lit(1))
        if not ignore_ret:
            branch = branch.when(ret_k & col.isNotNull(), F.lit(-1))
        return F.coalesce(F.sum(branch.otherwise(F.lit(0))), F.lit(0))
    if fn == "min":
        return F.min(addcol)
    if fn == "max":
        return F.max(addcol)
    if fn == "last_value":
        return F.max_by(col, F.when(add_k, order))
    if fn == "last_non_null_value":
        return F.max_by(col, F.when(add_k & col.isNotNull(), order))
    if fn == "first_value":
        return F.min_by(col, F.when(add_k, order))
    if fn == "first_non_null_value":
        return F.min_by(col, F.when(add_k & col.isNotNull(), order))
    if fn == "bool_and":
        return F.min(addcol.cast("boolean"))
    if fn == "bool_or":
        return F.max(addcol.cast("boolean"))
    if fn == "listagg":
        delim = schema.options.get(f"fields.{c}.list-agg-delimiter", ",")
        joined = F.concat_ws(
            delim,
            F.array_sort(
                F.collect_list(
                    F.when(add_k, F.struct(order.alias("o"), col.alias("v")))
                )
            ).getField("v"),
        )
        # Paimon's FieldListaggAgg keeps a NULL accumulator until the
        # first non-null value — all-null inputs merge to NULL, not ''
        return F.when(
            F.max(F.when(add_k & col.isNotNull(), F.lit(1))) == 1, joined
        )
    raise ValueError(f"not a scalar aggregate function: {fn!r}")


def partial_update_agg_expr(schema, c, fn, order, seq_col, kind_col):
    """Aggregate expression for a partial-update column that declares
    ``fields.<c>.aggregate-function`` (Paimon's sequence-group
    aggregation): the column folds with the aggregate instead of
    last-non-null. Only the scalar function set applies here."""
    if fn not in SCALAR_AGG_FUNCTIONS:
        raise ValueError(
            f"aggregate-function {fn!r} for field {c!r} is not usable with "
            f"merge-engine partial-update; one of {sorted(SCALAR_AGG_FUNCTIONS)}"
        )
    add_k = F.col(kind_col).isin(*ADD_KINDS)
    ret_k = F.col(kind_col).isin(*RETRACT_KINDS)
    ignore_ret = (
        schema.options.get(f"fields.{c}.ignore-retract", "false").lower()
        == "true"
    )
    dtype = {f.name: f.dataType for f in schema.spark_schema.fields}[c]
    return _scalar_expr(schema, c, fn, order, add_k, ret_k, ignore_ret).cast(
        dtype
    )


def field_agg_plan(schema, value_cols, seq_col, kind_col):
    """Build the aggregation merge engine's single hash aggregate.

    Returns ``(agg_exprs, post)``: ``agg_exprs`` go into one
    ``groupBy(keys).agg(...)`` (plus the caller's ``__has_add`` guard);
    ``post`` maps column name → callable applied to that column in the
    post-aggregation projection (sketch unions and the declared-dtype
    cast happen there)."""
    add_k = F.col(kind_col).isin(*ADD_KINDS)
    ret_k = F.col(kind_col).isin(*RETRACT_KINDS)
    dtypes = {f.name: f.dataType for f in schema.spark_schema.fields}

    aggs, post = [], {}
    for c in value_cols:
        fn = schema.options.get(
            f"fields.{c}.aggregate-function", "last_non_null_value"
        )
        if fn not in AGG_FUNCTIONS:
            raise ValueError(
                f"unknown aggregate-function {fn!r} for field {c!r}; "
                f"one of {AGG_FUNCTIONS}"
            )
        ignore_ret = (
            schema.options.get(f"fields.{c}.ignore-retract", "false").lower()
            == "true"
        )
        col = F.col(c)
        dtype = dtypes[c]
        ddl = dtype.simpleString()
        addcol = F.when(add_k, col)

        if fn in SCALAR_AGG_FUNCTIONS:
            expr = _scalar_expr(
                schema, c, fn, F.col(seq_col), add_k, ret_k, ignore_ret
            )
        elif fn == "collect":
            distinct = (
                schema.options.get(f"fields.{c}.distinct", "false").lower()
                == "true"
            )
            expr = F.expr(
                _collect_expr(c, ddl, distinct, ignore_ret, seq_col, kind_col)
            )
        elif fn == "merge_map":
            expr = F.expr(_merge_map_expr(c, ddl, ignore_ret, seq_col, kind_col))
        elif fn == "nested_update":
            keys_opt = schema.options.get(f"fields.{c}.nested-key", "")
            keys = [k.strip() for k in keys_opt.split(",") if k.strip()]
            if not keys:
                raise ValueError(
                    f"nested_update field {c!r} requires fields.{c}.nested-key"
                )
            elem = dtype.elementType
            missing = [k for k in keys if k not in elem.fieldNames()]
            if missing:
                raise ValueError(
                    f"nested-key columns {missing} not in element type of {c!r}"
                )
            expr = F.expr(
                _nested_update_expr(c, ddl, keys, ignore_ret, seq_col, kind_col)
            )
        elif fn == "hll_sketch":
            # Spark and Paimon both serialize DataSketches HLL, so the
            # union is the native JVM aggregate — no Python at all
            expr = F.hll_union_agg(addcol, True)
        elif fn in ("rbm32", "rbm64"):
            expr = F.collect_list(addcol)
            post[c] = _union_rbm_udf(32 if fn == "rbm32" else 64)
        elif fn == "theta_sketch":
            expr = F.collect_list(addcol)
            post[c] = _union_theta_udf()

        # non-retractable fields raise on a live (non-null) retracted
        # value, as Paimon does, unless ignore-retract opted out —
        # the raise_error branch is only evaluated when tripped
        needs_guard = (
            fn not in RETRACTABLE
            and fn not in _RETRACT_TOLERANT
            and not ignore_ret
        )

        def _guarded(e, cast_to):
            viol = F.max(
                F.when(ret_k & col.isNotNull(), F.lit(1)).otherwise(F.lit(0))
            )
            return F.when(
                viol == 1,
                F.raise_error(
                    F.lit(
                        f"aggregate function {fn!r} for field {c!r} does not "
                        f"support retraction; set fields.{c}.ignore-retract "
                        f"= true to drop -U/-D rows"
                    )
                ).cast(cast_to),
            ).otherwise(e)

        if c in post:
            # sketch columns stay in their pre-union intermediate type
            # (array<binary>); the declared dtype lands after the union
            if needs_guard:
                expr = _guarded(expr, f"array<{ddl}>")
        elif fn in ("collect", "merge_map", "nested_update"):
            # the fold's init value already pins the container type;
            # an outer cast can FAIL on nullability (e.g. the declared
            # map has valueContainsNull=false but map_concat yields
            # nullable values — Spark refuses that cast outright).
            # NULL-accumulator parity: Paimon's container aggs stay
            # NULL until the first non-null input, so a key whose
            # inputs are all NULL merges to NULL, not []/{} (the
            # fold's init leaks otherwise)
            expr = F.when(
                F.max(F.when(col.isNotNull(), F.lit(1))) == 1, expr
            )
        else:
            # pin the declared field dtype (sum(int) would widen to
            # bigint otherwise and drift the table schema)
            expr = expr.cast(dtype)
            if needs_guard:
                expr = _guarded(expr, ddl)
        aggs.append(expr.alias(c))
    return aggs, post


def hll_sketch_fields(options, value_cols) -> list:
    """Value columns declared ``fields.<c>.aggregate-function =
    hll_sketch`` — the ONE function the in-task pandas fold cannot
    express (the union is Spark's JVM ``hll_union_agg``; this engine
    does not re-implement the DataSketches HLL wire merge in Python).
    Data sources refuse tables with such fields at plan time and point
    at the builder path."""
    return [
        c
        for c in value_cols
        if options.get(f"fields.{c}.aggregate-function") == "hll_sketch"
    ]


def _is_null_value(v) -> bool:
    """Scalar/container null test for values coming out of
    pyarrow.to_pandas (None, NaN/NaT; containers are never NaN)."""
    if v is None:
        return True
    if isinstance(v, (list, tuple, dict, set, bytes, bytearray)):
        return False
    try:
        import numpy as np

        if isinstance(v, np.ndarray):
            return False
        return bool(pd.isna(v))
    except (TypeError, ValueError):
        return False


def _as_list(v) -> list:
    """ARRAY value → python list (pyarrow hands numpy arrays)."""
    if _is_null_value(v):
        return []
    return list(v)


def _as_map_items(v) -> list:
    """MAP value → list of (k, v) pairs in stored order (pyarrow hands
    list-of-tuples)."""
    if _is_null_value(v):
        return []
    if isinstance(v, dict):
        return list(v.items())
    return [tuple(kv) for kv in v]


def pandas_agg_merge(
    pdf: pd.DataFrame, opts, merge_keys, value_cols, seq_col, kind_col
) -> pd.DataFrame:
    """In-task pandas twin of :func:`field_agg_plan` — the aggregation
    merge engine for the ``format(...)`` data sources, where one task
    holds ALL runs of one (partition, bucket) and the fold is
    executor-local (no Spark expressions available). Semantics are the
    builder's, asserted equivalent by the pytest matrix
    (tests/test_agg_merge.py) and the shared SQL oracle of the gated
    format-agg roundtrip: keys with no add row drop; sum/product/count
    subtract retractions; container functions fold (kind, value) in
    sequence order; rbm/theta sketches union via the portable codecs;
    non-retractable fields raise on a live retracted value unless
    ``fields.<c>.ignore-retract``; every scalar keeps its declared
    dtype via the caller's arrow-schema conversion. ``hll_sketch``
    fields are refused at plan time (:func:`hll_sketch_fields`)."""
    import numpy as np

    bad = hll_sketch_fields(opts, value_cols)
    if bad:
        raise ValueError(
            f"hll_sketch fields {bad} cannot merge in-task; "
            f"use the read-builder path"
        )

    pdf = pdf.sort_values(seq_col, kind="mergesort").reset_index(drop=True)
    add_mask = pdf[kind_col].isin(ADD_KINDS)
    ret_mask = pdf[kind_col].isin(RETRACT_KINDS)

    # surviving keys: at least one add row, in first-appearance order
    keyed = pdf[merge_keys]
    out = keyed[add_mask].drop_duplicates().reset_index(drop=True)
    if out.empty:
        return out.reindex(columns=merge_keys + list(value_cols))

    def _grouped(frame, series):
        """series aggregated per merge key → merged into ``out``."""
        return frame.groupby(merge_keys, sort=False, dropna=False)[series]

    def _attach(name, per_key):
        nonlocal out
        per_key = per_key.rename(name)
        out = out.merge(per_key.reset_index(), on=merge_keys, how="left")

    for c in value_cols:
        fn = opts.get(f"fields.{c}.aggregate-function", "last_non_null_value")
        if fn not in AGG_FUNCTIONS:
            raise ValueError(
                f"unknown aggregate-function {fn!r} for field {c!r}; "
                f"one of {AGG_FUNCTIONS}"
            )
        ignore_ret = (
            opts.get(f"fields.{c}.ignore-retract", "false").lower() == "true"
        )
        col = pdf[c]
        nn = ~col.map(_is_null_value)

        # Paimon's retraction contract: non-retractable fields raise on
        # a live (non-null) retracted value unless ignore-retract
        if (
            fn not in RETRACTABLE
            and fn not in _RETRACT_TOLERANT
            and not ignore_ret
            and bool((ret_mask & nn).any())
        ):
            raise ValueError(
                f"aggregate function {fn!r} for field {c!r} does not "
                f"support retraction; set fields.{c}.ignore-retract "
                f"= true to drop -U/-D rows"
            )

        if fn == "sum":
            num = pd.to_numeric(col.where(nn), errors="coerce")
            if ignore_ret:
                contrib = num.where(add_mask)
            else:
                contrib = num.where(add_mask, (-num).where(ret_mask))
            _attach(c, _grouped(pdf.assign(__v=contrib), "__v").sum(min_count=1))
        elif fn == "product":
            num = pd.to_numeric(col.where(nn), errors="coerce").astype(float)
            p_add = _grouped(pdf.assign(__v=num.where(add_mask)), "__v").prod(
                min_count=1
            )
            if ignore_ret:
                _attach(c, p_add)
            else:
                p_ret = _grouped(
                    pdf.assign(__v=num.where(ret_mask)), "__v"
                ).prod(min_count=1)
                _attach(c, p_add / p_ret.fillna(1.0))
        elif fn == "count":
            ticks = add_mask.astype("int64").where(nn, 0)
            if not ignore_ret:
                ticks = ticks - (ret_mask & nn).astype("int64")
            _attach(c, _grouped(pdf.assign(__v=ticks), "__v").sum())
        elif fn in ("min", "max", "bool_and", "bool_or"):
            vals = col.where(add_mask & nn)
            if fn in ("bool_and", "bool_or"):
                vals = vals.map(lambda v: None if _is_null_value(v) else bool(v))
            g = _grouped(pdf.assign(__v=vals), "__v")
            _attach(c, g.min() if fn in ("min", "bool_and") else g.max())
        elif fn in (
            "last_value",
            "last_non_null_value",
            "first_value",
            "first_non_null_value",
        ):
            mask = add_mask if fn.endswith("_value") and "non_null" not in fn else (add_mask & nn)
            rows = pdf[mask]
            keep = "last" if fn.startswith("last") else "first"
            picked = rows.drop_duplicates(subset=merge_keys, keep=keep)
            _attach(
                c,
                picked.set_index(merge_keys)[c].rename(c),
            )
        elif fn == "listagg":
            delim = opts.get(f"fields.{c}.list-agg-delimiter", ",")
            rows = pdf[add_mask & nn]
            joined = (
                rows.groupby(merge_keys, sort=False, dropna=False)[c]
                .apply(lambda s: delim.join(str(v) for v in s))
            )
            _attach(c, joined)
        elif fn in ("collect", "merge_map", "nested_update"):
            distinct = opts.get(f"fields.{c}.distinct", "false").lower() == "true"
            nkeys = [
                k.strip()
                for k in opts.get(f"fields.{c}.nested-key", "").split(",")
                if k.strip()
            ]
            if fn == "nested_update" and not nkeys:
                raise ValueError(
                    f"nested_update field {c!r} requires fields.{c}.nested-key"
                )

            def _fold(sub, _fn=fn, _distinct=distinct, _nkeys=nkeys):
                # NULL-accumulator parity: stays NULL until any row
                # (any kind) carries a non-null container
                if not any(not _is_null_value(v) for v in sub[c]):
                    return None
                if _fn == "merge_map":
                    acc = []
                    for k_, v_ in zip(sub[kind_col], sub[c]):
                        rv = _as_map_items(v_)
                        rv_keys = {p[0] for p in rv}
                        if k_ in ADD_KINDS:
                            acc = [p for p in acc if p[0] not in rv_keys] + rv
                        elif not ignore_ret:
                            acc = [p for p in acc if p[0] not in rv_keys]
                    return acc
                if _fn == "nested_update":
                    def _match(x, e):
                        for k in _nkeys:
                            xa, eb = x.get(k), e.get(k)
                            if _is_null_value(xa) and _is_null_value(eb):
                                continue
                            if _is_null_value(xa) or _is_null_value(eb):
                                return False
                            if xa != eb:
                                return False
                        return True

                    acc = []
                    for k_, v_ in zip(sub[kind_col], sub[c]):
                        rv = [dict(e) for e in _as_list(v_)]
                        acc = [
                            e
                            for e in acc
                            if not any(_match(x, e) for x in rv)
                        ]
                        if k_ in ADD_KINDS:
                            acc = acc + rv
                    return acc
                # collect
                acc = []
                for k_, v_ in zip(sub[kind_col], sub[c]):
                    rv = _as_list(v_)
                    if k_ in ADD_KINDS:
                        acc = acc + rv
                        if _distinct:
                            seen, ded = set(), []
                            for e in acc:
                                if e not in seen:
                                    seen.add(e)
                                    ded.append(e)
                            acc = ded
                    elif not ignore_ret:
                        if _distinct:
                            drop = set(rv)
                            acc = [e for e in acc if e not in drop]
                        else:
                            for x in rv:
                                if x in acc:
                                    acc.remove(x)
                return acc

            folded = pdf.groupby(merge_keys, sort=False, dropna=False)[
                [kind_col, c]
            ].apply(_fold)
            _attach(c, folded)
        elif fn in ("rbm32", "rbm64", "theta_sketch"):
            rows = pdf[add_mask & nn]

            if fn == "theta_sketch":
                from paimon_python_spark import theta_sketch as _ts

                def _union(s):
                    bufs = [bytes(b) for b in s]
                    return _ts.union_theta(bufs) if bufs else None

            else:
                from paimon_python_spark import roaring

                if fn == "rbm32":
                    ser, de = (
                        roaring.serialize_roaring32,
                        roaring.deserialize_roaring32,
                    )
                else:
                    ser, de = (
                        roaring.serialize_roaring64,
                        roaring.deserialize_roaring64,
                    )

                def _union(s):
                    arrays = [de(bytes(b)) for b in s]
                    if not arrays:
                        return None
                    merged = (
                        arrays[0]
                        if len(arrays) == 1
                        else np.unique(np.concatenate(arrays))
                    )
                    return ser(merged)

            _attach(
                c,
                rows.groupby(merge_keys, sort=False, dropna=False)[c].apply(
                    _union
                ),
            )
        else:  # pragma: no cover — AGG_FUNCTIONS is exhaustive above
            raise AssertionError(fn)

    return out[merge_keys + list(value_cols)]


def _rank_series(pdf: pd.DataFrame, cols: list) -> pd.Series:
    """Ascending order rank over ``cols`` (NULLS FIRST, Spark's asc
    semantics; ties stable in current row order). Works for any
    orderable dtype mix because it ranks via a stable sort."""
    import numpy as np

    idx = pdf.sort_values(
        cols, kind="mergesort", na_position="first"
    ).index
    rank = pd.Series(np.empty(len(pdf), dtype=np.int64), index=pdf.index)
    rank.loc[idx] = range(len(pdf))
    return rank


def _pandas_scalar_agg(
    pdf, c, fn, rank, add_mask, ret_mask, ignore_ret, delim, merge_keys
):
    """Per-key pandas evaluation of one SCALAR_AGG_FUNCTIONS member —
    the executor-side twin of ``_scalar_expr`` (same retraction
    arithmetic, same null handling), with ``rank`` as the merge order
    (commit sequence, or a (group-seq, seq) rank inside a
    partial-update sequence group)."""
    import numpy as np

    col = pdf[c]
    nn = col.notna()

    def g(series):
        return pdf.assign(__v=series).groupby(
            merge_keys, sort=False, dropna=False
        )["__v"]

    if fn == "sum":
        num = pd.to_numeric(col.where(nn), errors="coerce")
        contrib = (
            num.where(add_mask)
            if ignore_ret
            else num.where(add_mask, (-num).where(ret_mask))
        )
        return g(contrib).sum(min_count=1)
    if fn == "product":
        num = pd.to_numeric(col.where(nn), errors="coerce").astype(float)
        p_add = g(num.where(add_mask)).prod(min_count=1)
        if ignore_ret:
            return p_add
        p_ret = g(num.where(ret_mask)).prod(min_count=1)
        return p_add / p_ret.fillna(1.0)
    if fn == "count":
        ticks = add_mask.astype("int64").where(nn, 0)
        if not ignore_ret:
            ticks = ticks - (ret_mask & nn).astype("int64")
        return g(ticks).sum()
    if fn in ("min", "max", "bool_and", "bool_or"):
        vals = col.where(add_mask & nn)
        if fn in ("bool_and", "bool_or"):
            vals = vals.map(lambda v: None if pd.isna(v) else bool(v))
        gr = g(vals)
        return gr.min() if fn in ("min", "bool_and") else gr.max()
    if fn in (
        "last_value",
        "last_non_null_value",
        "first_value",
        "first_non_null_value",
    ):
        mask = add_mask if "non_null" not in fn else (add_mask & nn)
        rows = pdf.assign(__r=rank)[mask].sort_values("__r", kind="mergesort")
        keep = "last" if fn.startswith("last") else "first"
        picked = rows.drop_duplicates(subset=merge_keys, keep=keep)
        return picked.set_index(merge_keys)[c]
    if fn == "listagg":
        rows = pdf.assign(__r=rank)[add_mask & nn].sort_values(
            "__r", kind="mergesort"
        )
        return rows.groupby(merge_keys, sort=False, dropna=False)[c].apply(
            lambda s: delim.join(str(v) for v in s)
        )
    raise ValueError(
        f"aggregate-function {fn!r} is not usable with merge-engine "
        f"partial-update; one of {sorted(SCALAR_AGG_FUNCTIONS)}"
    )


def pandas_partial_update_merge(
    pdf: pd.DataFrame, opts, merge_keys, value_cols, seq_col, kind_col
) -> pd.DataFrame:
    """In-task pandas twin of the builder's FULL partial-update merge
    (read.py merge_on_read): sequence groups (``fields.<g>.
    sequence-group``), per-field scalar aggregates inside groups
    (``fields.<c>.aggregate-function``), and
    ``partial-update.remove-record-on-delete`` — the extras the
    ``format(...)`` data sources previously refused toward the
    builder. Semantics pinned by the equivalence pytest matrix
    (front-door read vs builder read) and the shared SQL oracles.
    The caller applies ignore-delete BEFORE this fold, exactly like
    merge_on_read."""
    groups: dict = {}
    for opt, val in opts.items():
        if opt.startswith("fields.") and opt.endswith(".sequence-group"):
            gname = opt[len("fields.") : -len(".sequence-group")]
            cols = [c.strip() for c in val.split(",") if c.strip()]
            missing = [c for c in [gname, *cols] if c not in value_cols]
            if missing:
                raise ValueError(
                    f"sequence-group {gname!r}: not value columns: {missing}"
                )
            groups[gname] = cols
    col_group = {c: gname for gname, cs in groups.items() for c in cs}
    remove_on_delete = (
        opts.get("partial-update.remove-record-on-delete", "false").lower()
        == "true"
    )
    has_fn = any(
        opts.get(f"fields.{c}.aggregate-function") is not None
        for c in value_cols
    )
    if remove_on_delete and (groups or has_fn):
        raise ValueError(
            "partial-update.remove-record-on-delete cannot combine "
            "with sequence-groups or fields.<c>.aggregate-function "
            "(their folds are not restartable after a delete); use "
            "sequence-group retraction or ignore-delete instead"
        )

    pdf = pdf.sort_values(seq_col, kind="mergesort").reset_index(drop=True)
    add_mask = pdf[kind_col].isin(ADD_KINDS)
    ret_mask = pdf[kind_col].isin(RETRACT_KINDS)
    if not groups:
        if remove_on_delete:
            if (pdf[kind_col] == ROWKIND_UPDATE_BEFORE).any():
                raise ValueError(
                    "partial-update cannot accept -U records: declare a "
                    "sequence-group for the retracted columns"
                )
        elif bool(ret_mask.any()):
            raise ValueError(
                "partial-update cannot accept retract (-U/-D) records: "
                "set ignore-delete, partial-update."
                "remove-record-on-delete, or a sequence-group"
            )

    # the merged record's kind = the LAST row's kind per key; keys
    # whose last row is a delete drop at the end
    last_rows = pdf.drop_duplicates(subset=merge_keys, keep="last")
    out = last_rows[merge_keys].reset_index(drop=True)
    last_kind = last_rows.set_index(merge_keys)[kind_col]

    seq_rank = _rank_series(pdf, [seq_col])

    def _attach(name, per_key):
        nonlocal out
        out = out.merge(
            per_key.rename(name).reset_index(), on=merge_keys, how="left"
        )

    del_seq = None
    if remove_on_delete:
        del_seq = (
            pdf.assign(
                __d=pdf[seq_col].where(pdf[kind_col] == ROWKIND_DELETE)
            )
            .groupby(merge_keys, sort=False, dropna=False)["__d"]
            .max()
        )

    for c in value_cols:
        fn = opts.get(f"fields.{c}.aggregate-function")
        col = pdf[c]
        nn = col.notna()
        if c in groups:
            # a group's version field: highest version seen, any kind
            _attach(
                c,
                pdf.groupby(merge_keys, sort=False, dropna=False)[c].max(),
            )
        elif fn is not None:
            if fn not in SCALAR_AGG_FUNCTIONS:
                raise ValueError(
                    f"aggregate-function {fn!r} for field {c!r} is not "
                    f"usable with merge-engine partial-update; one of "
                    f"{sorted(SCALAR_AGG_FUNCTIONS)}"
                )
            rank = (
                _rank_series(pdf, [col_group[c], seq_col])
                if c in col_group
                else seq_rank
            )
            ignore_ret = (
                opts.get(f"fields.{c}.ignore-retract", "false").lower()
                == "true"
            )
            delim = opts.get(f"fields.{c}.list-agg-delimiter", ",")
            _attach(
                c,
                _pandas_scalar_agg(
                    pdf, c, fn, rank, add_mask, ret_mask, ignore_ret,
                    delim, merge_keys,
                ),
            )
        elif c in col_group:
            # value from the row with the greatest (group seq, seq)
            # among rows where BOTH the column and its group version
            # are non-null — any row kind (group retraction semantics)
            gcol = pdf[col_group[c]]
            cond = nn & gcol.notna()
            rank = _rank_series(pdf, [col_group[c], seq_col])
            rows = pdf.assign(__r=rank)[cond].sort_values(
                "__r", kind="mergesort"
            )
            picked = rows.drop_duplicates(subset=merge_keys, keep="last")
            _attach(c, picked.set_index(merge_keys)[c])
        elif remove_on_delete:
            # latest non-null ADD value, cleared when an equal-or-later
            # -D retracted the record
            cond = nn & add_mask
            rows = pdf[cond].drop_duplicates(subset=merge_keys, keep="last")
            val = rows.set_index(merge_keys)[c]
            sval = rows.set_index(merge_keys)[seq_col]
            joined = pd.DataFrame({"__v": val, "__s": sval})
            joined = joined.join(del_seq.rename("__d"), how="left")
            keep = joined["__d"].isna() | (joined["__s"] > joined["__d"])
            _attach(c, joined["__v"].where(keep))
        else:
            # default: latest non-null by commit sequence, any kind
            rows = pdf[nn].drop_duplicates(subset=merge_keys, keep="last")
            _attach(c, rows.set_index(merge_keys)[c])

    survive = last_kind.isin(ADD_KINDS)
    out = out[
        survive.reindex(
            pd.MultiIndex.from_frame(out[merge_keys])
            if len(merge_keys) > 1
            else pd.Index(out[merge_keys[0]])
        ).to_numpy()
    ].reset_index(drop=True)
    return out[merge_keys + list(value_cols)]


def merge_pk_group(
    pdf: pd.DataFrame, merge_keys, order_cols, kind_col, value_cols, options
) -> pd.DataFrame:
    """The in-task primary-key merge of one merge-closed group (one
    (partition, bucket) holding every version of its keys) — Paimon's
    SortMergeReader with its pluggable merge function
    (sort_merge_reader.py:78-108), shared by every in-task reader.

    ``order_cols`` is the ONE ascending merge order, NULLS FIRST
    (Spark's ascending order); a later row is a newer version. A
    caller wanting a descending tie-break passes a negated column.
    ``ignore-delete`` drops retracts first, then the ``merge-engine``
    decides: ``deduplicate`` keeps each key's last row, ``first-row``
    its first, and both drop ``-U``/``-D`` survivors;
    ``partial-update`` and ``aggregation`` fold in merge order.
    Returns ``merge_keys + value_cols`` of the visible rows, in key
    order."""
    engine = options.get("merge-engine", "deduplicate")
    if options.get("ignore-delete", "false").lower() == "true":
        pdf = pdf[pdf[kind_col].isin(ADD_KINDS)]
    pdf = pdf.sort_values(
        [*merge_keys, *order_cols], kind="mergesort", na_position="first"
    ).reset_index(drop=True)
    if engine in ("partial-update", "aggregation"):
        fold = (
            pandas_partial_update_merge
            if engine == "partial-update"
            else pandas_agg_merge
        )
        pdf["__ord"] = range(len(pdf))
        return fold(pdf, options, merge_keys, value_cols, "__ord", kind_col)
    if engine not in ("deduplicate", "first-row"):
        raise ValueError(f"unknown merge-engine {engine!r}")
    pdf = pdf.drop_duplicates(
        subset=merge_keys, keep="first" if engine == "first-row" else "last"
    )
    return pdf.loc[pdf[kind_col].isin(ADD_KINDS), [*merge_keys, *value_cols]]


def key_arrow_filter(key_predicate):
    """A key predicate as a pyarrow filter for the in-task reads, or
    None. Filtering a group's rows on KEY columns before the merge is
    exact (every version of a key shares them); a method pyarrow
    cannot express reads unfiltered."""
    if key_predicate is None:
        return None
    try:
        return key_predicate.to_arrow()
    except ValueError:
        return None


def read_group_file(path: str, fmt: str, cols, arrow_filter=None):
    """The columns of ``cols`` one data file has, as an Arrow table.
    ``arrow_filter`` (parquet only) skips row groups whose stats rule
    it out and drops non-matching rows; callers pass None for a file
    whose row positions still matter (deletion vectors)."""
    if fmt == "orc":
        import pyarrow.orc as po

        f = po.ORCFile(path)
        return f.read(columns=[c for c in cols if c in f.schema.names])
    if fmt == "avro":
        import pyarrow as pa

        from paimon_python_spark.avro_codec import read_avro_table

        with open(path, "rb") as fh:
            names, rows = read_avro_table(fh.read())
        idx = {c: names.index(c) for c in cols if c in names}
        return pa.table({c: [r[i] for r in rows] for c, i in idx.items()})
    import pyarrow.parquet as pq

    pf = pq.ParquetFile(path)
    have = [c for c in cols if c in pf.schema_arrow.names]
    if arrow_filter is None:
        return pf.read(columns=have)
    return pq.read_table(path, columns=have, filters=arrow_filter)
