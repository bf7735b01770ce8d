"""Key-merge (upsert) semantics as declarative DataFrame plans.

The reference's every writable Store implements update() as an upsert by
key — `ReplaceOne(search_doc, doc, upsert=True)` bulk writes, compound
keys supported (reference:src/maggma/stores/mongolike.py:372-406,388-391).
remove_docs(criteria) deletes matching docs
(reference:src/maggma/core/store.py:174-181); MapBuilder.delete_orphans
removes target keys absent from the source
(reference:src/maggma/builders/map_builder.py:185-196).

Spark-first formulation (SURVEY §2.1 "Sinks"):

    upsert = unionByName(new, old, allowMissingColumns=True)
             |> row_number over (partition by key order by precedence desc)
             |> keep rn == 1

- `unionByName(allowMissingColumns=True)` reproduces the reference's
  schemaless disjoint-key-set writes: fields absent on one side become
  nulls.
- The dedup window shuffles once on the key — exactly the partitioning a
  MERGE would need; at 100 TB with a transactional table format this maps
  1:1 onto `MERGE INTO` (Delta/Iceberg), and with plain parquet onto
  dynamic partition-overwrite where only partitions containing updated
  keys rewrite. AQE handles skewed keys (a hot key's window is still one
  partition — salt upstream if a single key exceeds executor memory,
  which for upsert-identity keys means duplicate-heavy input and is a
  data-quality signal, not a plan problem).
- remove = anti-filter (`~pred`), with Mongo null semantics preserved by
  compiling the criteria once and negating with null-safe handling.
"""

from __future__ import annotations

from typing import Optional, Sequence, Union

from pyspark.sql import DataFrame, Window, functions as F

from maggma_spark.functions.criteria import compile_criteria

_PREC = "__precedence"
_RN = "__rn"


def _as_key_list(key: Union[str, Sequence[str]]) -> list[str]:
    return [key] if isinstance(key, str) else list(key)


def upsert_by_key(
    old: Optional[DataFrame],
    new: DataFrame,
    key: Union[str, Sequence[str]],
    last_updated_field: Optional[str] = None,
) -> DataFrame:
    """Merge `new` docs into `old` by key; new docs win per key.

    Within `new` itself, later/greater `last_updated` wins when provided
    (mirrors last-writer-wins of sequential ReplaceOne upserts).
    """
    keys = _as_key_list(key)
    new = new.withColumn(_PREC, F.lit(1))
    if old is None:
        merged = new
    else:
        old = old.withColumn(_PREC, F.lit(0))
        merged = new.unionByName(old, allowMissingColumns=True)
    order = [F.col(_PREC).desc()]
    if last_updated_field is not None and last_updated_field in merged.columns:
        order.append(F.col(last_updated_field).desc_nulls_last())
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        merged.withColumn(_RN, F.row_number().over(w))
        .filter(F.col(_RN) == 1)
        .drop(_RN, _PREC)
    )


def latest_per_key(
    df: DataFrame,
    key: Union[str, Sequence[str]],
    order_by: Union[str, Sequence[str]],
    tiebreak: Optional[Sequence[str]] = None,
) -> DataFrame:
    """Newest document per key — the window form of upsert identity
    ("latest doc per key wins", reference:src/maggma/stores/
    mongolike.py:388-391; GridFS newest-upload-wins,
    reference:src/maggma/stores/gridfs.py:404-409).

    One shuffle on the key; ties broken deterministically by `tiebreak`
    columns descending.
    """
    keys = _as_key_list(key)
    order_cols = [F.col(c).desc() for c in _as_key_list(order_by)]
    order_cols += [F.col(c).desc() for c in (tiebreak or [])]
    w = Window.partitionBy(*keys).orderBy(*order_cols)
    return (
        df.withColumn(_RN, F.row_number().over(w))
        .filter(F.col(_RN) == 1)
        .drop(_RN)
    )


def remove_matching(df: DataFrame, criteria: dict) -> DataFrame:
    """remove_docs as an anti-filter rewrite: keep rows NOT matching.

    Rows where the predicate evaluates to NULL are *kept* (Mongo deletes
    only definite matches)."""
    pred = compile_criteria(criteria, schema=df.schema)
    return df.filter(~F.coalesce(pred, F.lit(False)))


def delete_orphans(
    target: DataFrame, source: DataFrame, key: Union[str, Sequence[str]]
) -> DataFrame:
    """Keep only target rows whose key still exists in source
    (reference:src/maggma/builders/map_builder.py:185-196). Left-semi
    join — broadcastable when the source key set is small; Catalyst/AQE
    picks the strategy."""
    keys = _as_key_list(key)
    src_keys = source.select(*keys).distinct()
    return target.join(src_keys, on=keys, how="left_semi")


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key: Union[str, Sequence[str]],
    compare_cols: Optional[Sequence[str]] = None,
) -> DataFrame:
    """Change-data-capture diff of two snapshots: one row per changed
    key with change_type ∈ {insert, delete, update}.

    insert = key only in `new`; delete = key only in `old`; update = key
    in both with any `compare_cols` value differing (default: all shared
    non-key columns). Comparison is null-safe. One shuffle on the key
    (full outer join); the value comparison is a hashed column equality,
    so wide rows never compare field-by-field across the network.
    """
    keys = _as_key_list(key)
    if compare_cols is None:
        shared = [c for c in old.columns if c in new.columns and c not in keys]
        compare_cols = shared
    digest = lambda df: F.xxhash64(*[
        F.coalesce(F.col(c).cast("string"), F.lit("\x00null"))
        for c in compare_cols
    ]) if compare_cols else F.lit(0)
    o = old.select(*keys, digest(old).alias("__old_h"))
    n = new.select(*keys, digest(new).alias("__new_h"))
    joined = o.join(n, on=keys, how="full_outer")
    change = (
        F.when(F.col("__old_h").isNull(), F.lit("insert"))
        .when(F.col("__new_h").isNull(), F.lit("delete"))
        .when(F.col("__old_h") != F.col("__new_h"), F.lit("update"))
    )
    return (
        joined.withColumn("change_type", change)
        .filter(F.col("change_type").isNotNull())
        .select(*keys, "change_type")
    )


def set_matching(df: DataFrame, criteria: dict, updates: dict) -> DataFrame:
    """Mongo `update(filter, {"$set": updates}, upsert=False)` as a
    declarative rewrite: every row matching `criteria` gets the $set
    fields applied; non-matching rows pass through unchanged
    (reference:src/maggma/api/resource/submission.py:372-375 — the
    reference targets ONE doc via update_one; set-based Spark applies to
    ALL matches, identical when the filter hits a unique key, which is
    the submission_id contract. Documented in DEVIATIONS.md).

    New top-level fields widen the schema (null for non-matching rows);
    dotted paths set nested struct leaves via withField. No shuffle —
    this is a pure projection rewrite, so at 100 TB it pipelines into
    whatever scan/write surrounds it."""
    # freeze the match BEFORE rewriting: setting a criteria column
    # (e.g. {"a": 0} under {"a": {"$gte": 5}}) must not flip the match
    # for the remaining $set paths — unresolved Column predicates
    # re-bind to rewritten columns (same hazard as apply_update_operators)
    df = df.withColumn("__set_pred", F.coalesce(
        compile_criteria(criteria, schema=df.schema), F.lit(False)))
    return _apply_set(df, F.col("__set_pred"), updates).drop("__set_pred")


def _elem_cond(t, c):
    """Element-level arrayFilters comparison: `c` is a plain value
    (equality) or a {$op: operand} doc. Null comparisons take Mongo's
    polarity ($eq/$gt/... fail on null, $ne/$nin match null/missing)."""
    if isinstance(c, dict) and all(str(k).startswith("$") for k in c):
        pos = {"$eq": lambda x, v: x == F.lit(v),
               "$gt": lambda x, v: x > F.lit(v),
               "$gte": lambda x, v: x >= F.lit(v),
               "$lt": lambda x, v: x < F.lit(v),
               "$lte": lambda x, v: x <= F.lit(v),
               "$in": lambda x, v: x.isin(list(v))}
        neg = {"$ne": lambda x, v: x != F.lit(v),
               "$nin": lambda x, v: x.isin(list(v))}
        out = None
        for op, v in c.items():
            if op in pos:
                p = F.coalesce(pos[op](t, v), F.lit(False))
            elif op in neg:
                p = ~F.coalesce(neg[op](t, v), F.lit(False)) \
                    if op == "$nin" else \
                    F.coalesce(neg[op](t, v), F.lit(True))
            else:
                raise ValueError(
                    f"arrayFilters operator {op!r} unsupported")
            out = p if out is None else (out & p)
        return out
    return F.coalesce(t == F.lit(c), F.lit(False))


def _subfield(x, dotted: str):
    for part in dotted.split("."):
        x = x[part]
    return x


def _apply_positional(df: DataFrame, pred, path: str, leaf_fn,
                      array_filters, criteria) -> Optional[DataFrame]:
    """Mongo positional update paths — `arr.$` (first element matching
    the QUERY's condition on arr), `arr.$[]` (every element),
    `arr.$[ident]` (elements matching the arrayFilters entry for
    ident) — optionally with a struct leaf (`arr.$[i].qty`). Returns
    None when `path` has no positional segment (caller falls through
    to the plain column/struct set). Everything is an F.transform
    projection rewrite over the array column: no explode, no shuffle,
    element order preserved. Reference parity note: the reference's
    own update surface is update_one {$set}
    (reference:src/maggma/api/resource/submission.py:372-375); the
    positional dialect is Mongo update_many completeness."""
    segs = path.split(".")
    pos = next((i for i, s in enumerate(segs)
                if s == "$" or (s.startswith("$[") and s.endswith("]"))),
               None)
    if pos is None:
        return None
    if pos != 1:
        raise ValueError(
            f"positional path {path!r}: only <arrayColumn>.<positional>"
            "[.<field>] shapes are supported")
    top = segs[0]
    if top not in df.columns:
        raise ValueError(f"positional target {top!r} is not a column")
    rest = ".".join(segs[2:]) or None
    seg = segs[1]

    def apply_leaf(x):
        if rest is None:
            return leaf_fn(x)
        return x.withField(rest, leaf_fn(_subfield(x, rest)))

    arr = F.col(top)
    if seg == "$[]":
        new_arr = F.transform(arr, apply_leaf)
    elif seg == "$":
        # the query must constrain the array field — that condition
        # picks the FIRST matching element, as in Mongo
        c = (criteria or {}).get(top)
        if c is None:
            raise ValueError(
                f"positional $ on {top!r} requires the criteria to "
                f"constrain {top!r}")
        if isinstance(c, dict) and set(c) == {"$elemMatch"}:
            inner = c["$elemMatch"]
            if all(str(k).startswith("$") for k in inner):
                cond = lambda x: _elem_cond(x, inner)  # noqa: E731
            else:
                def cond(x, _inner=inner):
                    p = None
                    for fld, fc in _inner.items():
                        pc = _elem_cond(_subfield(x, fld), fc)
                        p = pc if p is None else (p & pc)
                    return p
        else:
            cond = lambda x: _elem_cond(x, c)  # noqa: E731
        with_idx = F.transform(arr, lambda x, i: F.when(cond(x), i))
        first_idx = F.element_at(
            F.filter(with_idx, lambda v: v.isNotNull()), 1)
        new_arr = F.transform(
            arr, lambda x, i: F.when(i == first_idx, apply_leaf(x))
            .otherwise(x))
    else:
        ident = seg[2:-1]
        conds = []
        for fdoc in (array_filters or []):
            for k, c in fdoc.items():
                base, _, sub = str(k).partition(".")
                if base == ident:
                    conds.append((sub or None, c))
        if not conds:
            raise ValueError(
                f"positional path {path!r}: no arrayFilters entry "
                f"for identifier {ident!r}")

        def cond(x, _conds=conds):
            p = None
            for sub, c in _conds:
                t = _subfield(x, sub) if sub else x
                pc = _elem_cond(t, c)
                p = pc if p is None else (p & pc)
            return p
        new_arr = F.transform(
            arr, lambda x: F.when(cond(x), apply_leaf(x)).otherwise(x))
    return df.withColumn(
        top, F.when(pred & arr.isNotNull(), new_arr).otherwise(arr))


def _apply_set(df: DataFrame, pred, updates: dict,
               array_filters=None, criteria=None) -> DataFrame:
    """Shared $set loop over a FROZEN match column: dotted paths set
    struct leaves, existing columns rewrite conditionally, new columns
    widen (null on non-matches); positional paths ($ / $[] /
    $[ident]) rewrite array elements in place."""
    for path, val in updates.items():
        lit = F.lit(val)
        positional = _apply_positional(
            df, pred, path, lambda _cur, _lit=lit: _lit,
            array_filters, criteria)
        if positional is not None:
            df = positional
            continue
        if "." in path:
            top, rest = path.split(".", 1)
            if top not in df.columns:
                raise ValueError(
                    f"$set dotted path {path!r}: no struct column {top!r}")
            df = df.withColumn(
                top, F.when(pred, F.col(top).withField(rest, lit))
                .otherwise(F.col(top)))
        elif path in df.columns:
            df = df.withColumn(
                path, F.when(pred, lit).otherwise(F.col(path)))
        else:
            df = df.withColumn(path, F.when(pred, lit))
    return df


def apply_update_operators(df: DataFrame, criteria: dict,
                           update: dict, *,
                           array_filters: Optional[list] = None,
                           upsert: bool = False) -> DataFrame:
    """Mongo update-operator document applied to matching rows — the
    `update_many(filter, {"$set"/"$inc"/"$unset"/"$rename"/"$push"})`
    surface. Non-matching rows pass through unchanged; everything is a
    projection rewrite (no shuffle).

    Supported: $set (delegates to set_matching), $inc (null treated as
    0, as Mongo creates the field), $unset (nulls the field on matches;
    column is kept for non-matching rows' values), $rename (per-row:
    matched rows' value moves old -> new and old nulls out; the old
    COLUMN survives carrying non-matching rows' values — the same
    set-engine convention as $unset), $push (append to array; $each
    appends several), $mul (missing field -> 0, as Mongo), $min/$max
    (keep the smaller/larger; missing field takes the operand),
    $currentDate ({f: true} or {"$type": "date"/"timestamp"}),
    $addToSet (append unless present; $each supported), $pop (1 drops
    the last element, -1 the first), $pull (remove elements equal to a
    scalar or matching a one-operator comparison doc), $pullAll.

    Round-8 dialect completion: positional array paths in $set/$inc —
    `arr.$` (first query-matched element), `arr.$[]` (all elements),
    `arr.$[ident]` with `array_filters=[{ident: cond}, ...]` — and
    `$setOnInsert` + `upsert=True`: when NO row matches, ONE new row
    is appended, seeded Mongo-style from the criteria's equality
    fields plus the update operators applied to an empty doc
    ($setOnInsert only takes effect there; on matched rows it is a
    no-op, as in Mongo). The match probe is a single take(1) action;
    the insert is a 1-row unionByName — cost O(1) beyond the scan.
    """
    known = {"$set", "$inc", "$unset", "$rename", "$push", "$mul",
             "$min", "$max", "$currentDate", "$addToSet", "$pop",
             "$pull", "$pullAll", "$setOnInsert"}
    unknown = set(update) - known
    if unknown:
        raise ValueError(f"unsupported update operators: {sorted(unknown)}")
    # Mongo evaluates the filter against the ORIGINAL document; freeze
    # the match as a materialized column BEFORE any rewrite, or an
    # operator that changes a criteria column (e.g. $set {"a": 0} under
    # {"a": {"$gte": 26}}) would flip later operators' own match
    # (unresolved Column expressions re-bind to the rewritten column).
    df = df.withColumn("__upd_pred", F.coalesce(
        compile_criteria(criteria, schema=df.schema), F.lit(False)))
    pred = F.col("__upd_pred")
    if update.get("$set"):
        df = _apply_set(df, pred, update["$set"], array_filters,
                        criteria)
    for path, delta in (update.get("$inc") or {}).items():
        positional = _apply_positional(
            df, pred, path,
            lambda cur, _d=delta: F.coalesce(cur, F.lit(0)) + F.lit(_d),
            array_filters, criteria)
        if positional is not None:
            df = positional
            continue
        base = F.coalesce(F.col(path), F.lit(0)) if path in df.columns \
            else F.lit(0)
        df = df.withColumn(
            path, F.when(pred, base + F.lit(delta))
            .otherwise(F.col(path) if path in df.columns else F.lit(None)))
    unset = update.get("$unset") or []
    for path in ([unset] if isinstance(unset, str) else list(unset)):
        if path in df.columns:
            df = df.withColumn(
                path, F.when(pred, F.lit(None)).otherwise(F.col(path)))
    for old, new in (update.get("$rename") or {}).items():
        if old not in df.columns:
            continue
        # per-row, like Mongo: only MATCHED rows with a PRESENT source
        # field move the value (Mongo $rename is a no-op when the field
        # is missing — a null source must not clobber the target); a
        # whole-column withColumnRenamed would rename non-matching
        # rows' fields too
        moved = pred & F.col(old).isNotNull()
        existing_new = F.col(new) if new in df.columns else \
            F.lit(None).cast(df.schema[old].dataType)
        df = (df.withColumn(new, F.when(moved, F.col(old))
                            .otherwise(existing_new))
              .withColumn(old, F.when(moved, F.lit(None))
                          .otherwise(F.col(old))))
    for path, delta in (update.get("$mul") or {}).items():
        # Mongo: a missing field is CREATED as 0 (0 * anything)
        base = F.coalesce(F.col(path), F.lit(0)) if path in df.columns \
            else F.lit(0)
        df = df.withColumn(
            path, F.when(pred, base * F.lit(delta))
            .otherwise(F.col(path) if path in df.columns
                       else F.lit(None)))
    for mop, comb in (("$min", F.least), ("$max", F.greatest)):
        for path, val in (update.get(mop) or {}).items():
            # least/greatest skip nulls, so a missing/null field takes
            # the operand — Mongo's "sets the field" rule
            cur = F.col(path) if path in df.columns else F.lit(None)
            df = df.withColumn(
                path, F.when(pred, comb(cur, F.lit(val)))
                .otherwise(cur))
    for path, spec_cd in (update.get("$currentDate") or {}).items():
        if spec_cd is True or (isinstance(spec_cd, dict)
                               and spec_cd.get("$type")
                               in ("date", "timestamp")):
            now = (F.current_date()
                   if isinstance(spec_cd, dict)
                   and spec_cd.get("$type") == "date"
                   else F.current_timestamp())
        else:
            raise ValueError(
                f"$currentDate {path!r}: use true or "
                '{"$type": "date"/"timestamp"}')
        cur = F.col(path) if path in df.columns else \
            F.lit(None).cast("timestamp")
        df = df.withColumn(path, F.when(pred, now).otherwise(cur))

    def _arr_items(val):
        if isinstance(val, dict) and set(val) == {"$each"}:
            return list(val["$each"])
        return [val]

    for path, val in (update.get("$push") or {}).items():
        if path not in df.columns:
            raise ValueError(f"$push target {path!r} is not a column")
        empty = F.array().cast(df.schema[path].dataType.simpleString())
        df = df.withColumn(
            path, F.when(pred, F.concat(
                F.coalesce(F.col(path), empty),
                F.array(*[F.lit(v) for v in _arr_items(val)])))
            .otherwise(F.col(path)))
    for path, val in (update.get("$addToSet") or {}).items():
        if path not in df.columns:
            raise ValueError(f"$addToSet target {path!r} is not a column")
        empty = F.array().cast(df.schema[path].dataType.simpleString())
        col = F.coalesce(F.col(path), empty)
        for v in _arr_items(val):
            col = F.when(F.array_contains(col, F.lit(v)), col) \
                .otherwise(F.concat(col, F.array(F.lit(v))))
        df = df.withColumn(path,
                           F.when(pred, col).otherwise(F.col(path)))
    for path, which in (update.get("$pop") or {}).items():
        if which not in (1, -1):
            raise ValueError("$pop takes 1 (last) or -1 (first)")
        if path not in df.columns:
            raise ValueError(f"$pop target {path!r} is not a column")
        arr = F.col(path)
        popped = F.when(
            F.size(arr) <= 1,
            F.array().cast(df.schema[path].dataType.simpleString())
        ).otherwise(
            F.slice(arr, 1, F.size(arr) - 1) if which == 1
            else F.slice(arr, 2, F.size(arr) - 1))
        df = df.withColumn(
            path, F.when(pred & arr.isNotNull(), popped).otherwise(arr))
    for path, cond in (update.get("$pull") or {}).items():
        if path not in df.columns:
            raise ValueError(f"$pull target {path!r} is not a column")
        if isinstance(cond, dict):
            if len(cond) != 1:
                raise ValueError(
                    "$pull condition supports one comparison operator")
            ((cop, cval),) = cond.items()
            cmps = {"$eq": lambda x: x == F.lit(cval),
                    "$ne": lambda x: x != F.lit(cval),
                    "$gt": lambda x: x > F.lit(cval),
                    "$gte": lambda x: x >= F.lit(cval),
                    "$lt": lambda x: x < F.lit(cval),
                    "$lte": lambda x: x <= F.lit(cval),
                    "$in": lambda x: x.isin(list(cval))}
            if cop not in cmps:
                raise ValueError(f"$pull operator {cop!r} unsupported")
            keep = cmps[cop]
            drop_fn = lambda x: ~F.coalesce(keep(x), F.lit(False))  # noqa: E731
        else:
            drop_fn = lambda x: x != F.lit(cond)  # noqa: E731
        arr = F.col(path)
        df = df.withColumn(
            path, F.when(pred & arr.isNotNull(),
                         F.filter(arr, drop_fn)).otherwise(arr))
    for path, vals in (update.get("$pullAll") or {}).items():
        if path not in df.columns:
            raise ValueError(f"$pullAll target {path!r} is not a column")
        arr = F.col(path)
        vals = list(vals)
        # F.filter, not array_except: except() DEDUPLICATES survivors,
        # Mongo $pullAll keeps duplicate non-removed elements
        df = df.withColumn(
            path, F.when(pred & arr.isNotNull(),
                         F.filter(arr, lambda x: ~x.isin(vals)))
            .otherwise(arr))
    out = df.drop("__upd_pred")
    if upsert and not df.filter(pred).select(F.lit(1)).take(1):
        out = out.unionByName(_upsert_insert_row(out, criteria, update))
    return out


def _upsert_insert_row(out: DataFrame, criteria: dict,
                       update: dict) -> DataFrame:
    """The one document a Mongo upsert inserts when nothing matched:
    the criteria's top-level equality fields, then the update
    operators applied to THAT seeded doc — $set/$setOnInsert take
    their value, $inc adds its delta to the seed (or 0), $mul
    multiplies the seed (or 0), $min/$max compare against the seed
    when one exists, $push/$addToSet their items, $currentDate now.
    Built as a literal 1-row select conforming to `out`'s schema so
    the union is exact."""
    doc: dict = {}
    seeds: dict = {}  # raw criteria-equality values the ops act on
    for k, v in (criteria or {}).items():
        if str(k).startswith("$") or "." in str(k):
            continue
        if isinstance(v, dict):
            if set(v) == {"$eq"}:
                seeds[k] = v["$eq"]
                doc[k] = F.lit(v["$eq"])
        else:
            seeds[k] = v
            doc[k] = F.lit(v)

    def items(val):
        if isinstance(val, dict) and set(val) == {"$each"}:
            return list(val["$each"])
        return [val]

    for src in ("$set", "$setOnInsert"):
        for k, v in (update.get(src) or {}).items():
            if "." in k or "$" in k:
                raise ValueError(
                    f"upsert insert does not support path {k!r}")
            doc[k] = F.lit(v)
    for k, d in (update.get("$inc") or {}).items():
        doc[k] = F.lit(seeds.get(k, 0) + d)
    for k, m in (update.get("$mul") or {}).items():
        doc[k] = F.lit(seeds.get(k, 0) * m)
    for mop, fold in (("$min", min), ("$max", max)):
        for k, v in (update.get(mop) or {}).items():
            if k not in seeds:
                doc[k] = F.lit(v)
                continue
            try:
                doc[k] = F.lit(fold(seeds[k], v))
            except TypeError:
                # Mongo resolves e.g. {'k':'a'} vs {'$max':{'k':5}}
                # via BSON type ordering; this dialect doesn't model
                # the BSON type order — name the gap instead of
                # leaking a bare TypeError at plan-build time
                raise ValueError(
                    f"upsert insert: {mop} on field {k!r} compares a "
                    f"criteria seed of type "
                    f"{type(seeds[k]).__name__} with an operand of "
                    f"type {type(v).__name__}; mixed-type BSON "
                    f"ordering is not supported in this dialect "
                    f"(use same-typed values)") from None
    for op in ("$push", "$addToSet"):
        for k, v in (update.get(op) or {}).items():
            doc[k] = F.array(*[F.lit(x) for x in items(v)])
    for k in (update.get("$currentDate") or {}):
        doc[k] = F.current_timestamp()
    cols = [
        (doc[f.name] if f.name in doc else F.lit(None))
        .cast(f.dataType).alias(f.name)
        for f in out.schema.fields]
    return out.sparkSession.range(1).select(*cols)


def scd2_history(
    changes: DataFrame,
    key_col: str,
    ts_col: str,
    order_cols: list[str] | None = None,
) -> DataFrame:
    """Build a slowly-changing-dimension type-2 history from a change
    log: each change row becomes a versioned dimension row with
    `valid_from` (its own timestamp), `valid_to` (the NEXT change's
    timestamp for the same key, NULL while current), `version` (1-based
    per key), and `is_current`.

    This is the dimensional-history companion of upsert_by_key: upsert
    keeps only the latest row per key, SCD2 keeps every state with its
    validity interval — the shape an as-of join (operators/asof.py)
    consumes to answer "what did this dimension look like at time t".

    One partitioned window over (key, ts [, tiebreakers]); per-key
    history length bounds the window partition, so the plan is the same
    at 100 TB. Pass `order_cols` to break same-timestamp ties
    deterministically.
    """
    order = [F.col(ts_col).asc()] + [
        F.col(c).asc() for c in (order_cols or [])]
    w = Window.partitionBy(key_col).orderBy(*order)
    return (
        changes.withColumn("valid_from", F.col(ts_col))
        .withColumn("valid_to", F.lead(ts_col).over(w))
        .withColumn("version", F.row_number().over(w))
        .withColumn("is_current", F.lead(ts_col).over(w).isNull())
    )


def snapshot_delta(
    old: DataFrame,
    new: DataFrame,
    key: Union[str, Sequence[str]],
    compare_cols: Optional[Sequence[str]] = None,
    include_old: bool = False,
) -> DataFrame:
    """snapshot_diff with the payload attached: insert/update rows
    carry the NEW row's columns, delete rows carry the key with null
    payload — the shippable changelog `apply_cdc` consumes, satisfying
    `apply_cdc(old, snapshot_delta(old, new)) == new`.

    `include_old=True` additionally attaches the PRIOR row as
    `old_<col>` columns (null for inserts) — the before-image that
    incremental aggregate maintenance (`incremental_agg_update`) and
    audit logs need.

    Cost over snapshot_diff: one extra join of the (small) changed-key
    set back to `new` (and to `old` with before-images) — still
    key-partitioned end to end.
    """
    keys = _as_key_list(key)
    d = snapshot_diff(old, new, key, compare_cols)
    payload = d.filter(F.col("change_type") != "delete") \
        .join(new, on=keys, how="left")
    deletes = d.filter(F.col("change_type") == "delete")
    out = payload.unionByName(deletes, allowMissingColumns=True)
    if include_old:
        prior = old.select(
            *keys, *[F.col(c).alias(f"old_{c}") for c in old.columns
                     if c not in keys])
        out = out.join(prior, on=keys, how="left")
    return out


def apply_cdc(
    base: DataFrame,
    changes: DataFrame,
    key: Union[str, Sequence[str]],
    op_col: str = "change_type",
) -> DataFrame:
    """Apply a CDC changelog to a snapshot: delete rows whose key has a
    'delete' op, replace rows whose key has an 'update', add 'insert'
    rows. Inverse of snapshot_delta — replaying a delta reproduces the
    source snapshot exactly (pytest + the oracle round-trip pin this).

    ONE anti join on the key removes every changed key from the base;
    the insert/update payload unions back (no second shuffle — union
    is partition-preserving). Unknown op values raise AT EXECUTION,
    from inside the main pass: the pre-round-13 eager validation
    (`changes.select(op_col).distinct().collect()`) was a dedicated
    driver action and a FULL extra scan of the changelog per call —
    at 100 TB that doubles the changelog reads. The in-plan check
    costs one codegen'd branch per row instead; every non-delete row
    evaluates it in the payload filter, so a bad op value still fails
    the job (as a raise_error SparkRuntimeException rather than an
    eager ValueError).
    """
    keys = _as_key_list(key)
    ok = F.col(op_col).isin("insert", "update", "delete")
    checked = changes.withColumn(
        op_col,
        F.when(ok, F.col(op_col)).otherwise(F.raise_error(F.concat(
            F.lit(f"unknown {op_col} value: "),
            # a NULL op would null the whole message
            F.coalesce(F.col(op_col).cast("string"), F.lit("null"))))))
    upserts = (checked.filter(F.col(op_col) != "delete")
               .drop(op_col)
               .select(*[c for c in changes.columns if c != op_col]))
    kept = base.join(changes.select(*keys), on=keys, how="left_anti")
    return kept.unionByName(upserts, allowMissingColumns=True)


def table_checksums(
    df: DataFrame,
    key: Union[str, Sequence[str]],
    compare_cols: Optional[Sequence[str]] = None,
    buckets: int = 1024,
) -> DataFrame:
    """Anti-entropy checksums: (bucket, n, checksum) per md5 key
    bucket, where checksum is the bit-XOR of 60-bit md5 row digests —
    order- and layout-independent, overflow-free, and computable in
    any SQL engine (no JVM-private hash).

    Comparing two replicas costs ONE aggregate per side plus a
    `buckets`-row join — divergent buckets localize where to run the
    full snapshot_diff, instead of full-outer-joining 100 TB against
    100 TB. Raising `buckets` narrows each repair scan (Merkle-style
    refinement by re-running on a bucket's keys with more buckets).
    """
    keys = _as_key_list(key)
    if compare_cols is None:
        compare_cols = [c for c in df.columns if c not in keys]
    all_cols = list(keys) + list(compare_cols)
    row_str = F.concat_ws(
        "\x1f", *[F.coalesce(F.col(c).cast("string"), F.lit("\x00null"))
                  for c in all_cols])
    digest = F.conv(F.substring(F.md5(row_str), 1, 15), 16, 10) \
        .cast("long")
    bucket = F.conv(F.substring(
        F.md5(F.concat_ws("\x1f", *[F.col(k).cast("string")
                                    for k in keys])), 1, 8), 16, 10) \
        .cast("long") % buckets
    return (
        df.select(bucket.alias("bucket"), digest.alias("__d"))
        .groupBy("bucket")
        .agg(F.count("*").alias("n"),
             F.expr("bit_xor(__d)").alias("checksum"))
    )


def incremental_agg_update(
    old_agg: DataFrame,
    delta: DataFrame,
    group_cols: Union[str, Sequence[str]],
    sum_cols: Sequence[str],
    count_col: str = "n",
) -> DataFrame:
    """Incremental materialized-view maintenance for count/sum
    aggregates: given the PREVIOUS aggregate (group_cols, count, sums)
    and a before-image changelog from
    `snapshot_delta(..., include_old=True)`, produce the aggregate of
    the NEW snapshot WITHOUT rescanning it.

    Each delta row contributes algebraically: inserts/updates add the
    new row under its (new) group, deletes/updates subtract the old
    row under its OLD group — so a row that moves between groups is
    handled as subtract-here + add-there. Groups whose count reaches
    zero drop out. Cost ∝ |changes|, not |table| — the point of
    incremental view maintenance at 100 TB.

    `delta` must carry: group/sum columns (new image, null on delete),
    `old_<group>`/`old_<sum>` before-images (null on insert), and
    `change_type`.
    """
    groups = _as_key_list(group_cols)
    add = delta.filter(F.col("change_type") != "delete").select(
        *[F.col(g).alias(g) for g in groups],
        F.lit(1).cast("long").alias("__dc"),
        *[F.col(c).alias(f"__ds_{c}") for c in sum_cols])
    sub = delta.filter(F.col("change_type") != "insert").select(
        *[F.col(f"old_{g}").alias(g) for g in groups],
        F.lit(-1).cast("long").alias("__dc"),
        *[(-F.col(f"old_{c}")).alias(f"__ds_{c}") for c in sum_cols])
    contrib = add.unionByName(sub).groupBy(*groups).agg(
        F.sum("__dc").alias("__dc"),
        *[F.sum(f"__ds_{c}").alias(f"__ds_{c}") for c in sum_cols])
    # null-SAFE group match: a NULL group key is a real group (Mongo
    # semantics upstream produce them); plain equality would keep the
    # old null-group row and the null-group contribution as two
    # separate output rows
    o = old_agg.select(*[F.col(g).alias(f"__og_{g}") for g in groups],
                       F.col(count_col).alias("__on"),
                       *[F.col(c).alias(f"__os_{c}") for c in sum_cols])
    cond = None
    for g in groups:
        piece = F.col(f"__og_{g}").eqNullSafe(contrib[g])
        cond = piece if cond is None else cond & piece
    joined = o.join(contrib, cond, "full_outer")
    merged = joined.select(
        *[F.coalesce(contrib[g], F.col(f"__og_{g}")).alias(g)
          for g in groups],
        (F.coalesce(F.col("__on"), F.lit(0))
         + F.coalesce(F.col("__dc"), F.lit(0))).alias(count_col),
        *[(F.coalesce(F.col(f"__os_{c}"), F.lit(0.0))
           + F.coalesce(F.col(f"__ds_{c}"), F.lit(0.0))).alias(c)
          for c in sum_cols])
    return merged.filter(F.col(count_col) > 0)
