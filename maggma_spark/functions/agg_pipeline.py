"""Mongo aggregation-pipeline compiler — `[{"$match": ...}, {"$group":
...}, ...]` -> one declarative DataFrame chain.

Reference parity: AggregationResource executes a pipeline supplied by
its query operator verbatim against Mongo
(reference:src/maggma/api/resource/aggregation.py:65-88); builders and
users also hand stores raw pipelines. Here every stage compiles onto
the running DataFrame, so the WHOLE pipeline is one Catalyst plan —
$match participates in pushdown, $project in column pruning, $group in
partial aggregation, and stage order is preserved exactly (a $match
after a $group filters groups, before it filters rows — same as Mongo).

Supported stages: $match, $project, $addFields/$set, $unset, $group,
$sort, $skip, $limit, $count, $unwind, $lookup, $sortByCount,
$replaceRoot. Accumulators: $sum, $avg, $min, $max, $push, $addToSet,
$first, $last, $stdDevPop, $stdDevSamp, $count, $median, $percentile,
$top, $bottom, $topN, $bottomN, $firstN, $lastN, $mergeObjects.
Values/expressions reuse the criteria compiler's $expr subset, so the
two dialects stay consistent.
"""

from __future__ import annotations

from typing import Any, Optional, Union

from pyspark.sql import Column, DataFrame, functions as F

from maggma_spark.functions.criteria import (
    _lit,
    compile_criteria,
    compile_expr,
    default_resolver,
)

_ACCUMULATORS = {
    "$sum": F.sum,
    "$avg": F.avg,
    "$min": F.min,
    "$max": F.max,
    "$push": F.collect_list,
    "$addToSet": F.collect_set,
    "$first": F.first,
    "$last": F.last,
    "$stdDevPop": F.stddev_pop,
    "$stdDevSamp": F.stddev_samp,
}

_TOPN_OPS = ("$top", "$bottom", "$topN", "$bottomN")

# Hard cap on elements any single group may COLLECT through the
# list-materializing accumulators ($push/$addToSet/$firstN/$lastN/
# $mergeObjects). These hold a whole group in one task (exactly Mongo's
# memory shape); past this cap the query raises inside the task instead
# of letting the executor OOM — the same house guard as GroupBuilder's
# max_group_rows. $top/$bottom/$topN/$bottomN are NOT capped: they are
# pre-filtered with a per-group rank window so at most n elements per
# group are ever collected, regardless of group size.
MAX_GROUP_ELEMENTS = 500_000


def _guard_group_array(arr: Column, op: str) -> Column:
    """Raise inside the task when a collected group exceeds
    MAX_GROUP_ELEMENTS (task-OOM guard, house style: raise, never
    silently bottleneck)."""
    return F.when(
        F.size(arr) > F.lit(MAX_GROUP_ELEMENTS),
        F.raise_error(F.concat(
            F.lit(f"{op}: group of "), F.size(arr).cast("string"),
            F.lit(f" elements exceeds MAX_GROUP_ELEMENTS="
                  f"{MAX_GROUP_ELEMENTS}; a collected group must fit "
                  "one task. Use $topN/$bottomN (rank-prefiltered) or "
                  "the window top-k plan for data-scale groups, or "
                  "raise maggma_spark.functions.agg_pipeline."
                  "MAX_GROUP_ELEMENTS.")))
    ).otherwise(arr)


def _topn_order_cols(df: DataFrame, sort_doc: dict, bottom: bool) -> list:
    """Sort columns for the $top/$bottom rank-prefilter window. Spark's
    default null placement (asc = nulls first, desc = nulls last) agrees
    with struct_comparator's null-is-smallest rule in BOTH directions,
    so the prefilter keeps exactly the rows the comparator would rank
    first."""
    cols = []
    for f, d in sort_doc.items():
        asc = (d > 0) != bottom
        c = _value(df, f"${f}")
        cols.append(c.asc() if asc else c.desc())
    return cols


def _compile_accumulator(df: DataFrame, op: str, arg: Any,
                         prefilter: Optional[str] = None) -> Column:
    """One $group/$bucket accumulator -> an aggregate Column. Simple
    accumulators map straight to JVM aggregates; the structured ones
    ($count, $median, $percentile, $top/$bottom/$topN/$bottomN,
    $firstN/$lastN, $mergeObjects) compile to compositions of
    collect_list / array_sort(comparator) / min-max slicing — all
    JVM-side, no UDFs.

    Scale shape: $top/$bottom/$topN/$bottomN take `prefilter` — a
    boolean marker column produced by a per-group rank window
    (_compile_group_aggs) — and collect ONLY marked rows
    (collect_list skips the nulls the F.when produces), so at most n
    elements per group ever materialize. The remaining list-collecting
    accumulators cap at MAX_GROUP_ELEMENTS and raise past it."""
    from maggma_spark.functions.criteria import struct_comparator

    if op in ("$push", "$addToSet"):
        return _guard_group_array(_ACCUMULATORS[op](_value(df, arg)), op)
    if op in _ACCUMULATORS:
        return _ACCUMULATORS[op](_value(df, arg))
    if op == "$count":
        if arg not in ({},):
            raise ValueError("$count accumulator takes {}")
        return F.count(F.lit(1))
    if op == "$median":
        return F.median(_value(df, arg["input"] if isinstance(arg, dict)
                               else arg))
    if op == "$percentile":
        ps = arg["p"]
        return F.percentile(_value(df, arg["input"]),
                            F.array(*[F.lit(float(p)) for p in ps]))
    if op in _TOPN_OPS:
        sort_doc = dict(arg["sortBy"])
        n = int(arg["n"]) if op in ("$topN", "$bottomN") else 1
        if n < 1:
            raise ValueError(f"{op} n must be >= 1")
        keys = list(sort_doc)
        elem = F.struct(*[_value(df, f"${f}").alias(f) for f in keys],
                        _value(df, arg["output"]).alias("__out"))
        if prefilter is not None:
            # collect_list skips nulls -> <= n elements per group
            elem = F.when(F.col(prefilter), elem)
        ordered = F.array_sort(F.collect_list(elem),
                               struct_comparator(sort_doc))
        if op in ("$bottom", "$bottomN"):
            ordered = F.reverse(ordered)
        picked = F.slice(ordered, 1, n)
        vals = F.transform(picked, lambda e: e["__out"])
        return vals if op in ("$topN", "$bottomN") else \
            F.element_at(vals, 1)
    if op in ("$firstN", "$lastN"):
        n = int(arg["n"])
        if n < 1:
            raise ValueError(f"{op} n must be >= 1")
        all_vals = _guard_group_array(
            F.collect_list(_value(df, arg["input"])), op)
        if op == "$firstN":
            return F.slice(all_vals, 1, n)
        # last n: negative start clamped at -size (short groups)
        return F.when(F.size(all_vals) <= n, all_vals).otherwise(
            F.slice(all_vals, -n, n))
    if op == "$mergeObjects":
        # MapType documents, later-wins like Mongo: fold the collected
        # entry lists key-by-key, keeping each key's LAST value
        v = _value(df, arg)
        entries = F.flatten(F.transform(
            _guard_group_array(F.collect_list(v), op), F.map_entries))
        rev = F.reverse(entries)  # last occurrence first
        ks = F.array_distinct(F.transform(rev, lambda e: e["key"]))
        return F.map_from_arrays(
            ks,
            F.transform(ks, lambda k: F.element_at(
                F.filter(rev, lambda e: e["key"] == k), 1)["value"]))
    raise ValueError(f"unsupported accumulator {op}")


def _compile_group_aggs(df: DataFrame, out_spec: dict,
                        part_exprs: Optional[list]) -> tuple:
    """Compile a $group/$bucket output spec to (prepared_df, agg_cols).

    $top/$bottom/$topN/$bottomN get a rank-window prefilter: a boolean
    marker (row_number() <= n per group, ordered by the accumulator's
    sortBy — reversed for bottom) stamped BEFORE the aggregation, so
    the collect never holds more than n elements of any group. The
    window partitions on the same expressions the groupBy uses, so
    Catalyst reuses ONE hash exchange for the window sort and the
    aggregation. `part_exprs=None` (global group) skips the marker —
    _group handles that case with TakeOrdered subplans instead."""
    from pyspark.sql import Window

    aggs = []
    for i, (out, accdoc) in enumerate(out_spec.items()):
        if not (isinstance(accdoc, dict) and len(accdoc) == 1):
            raise ValueError(
                f"$group accumulator must be one-op doc: {accdoc}")
        op, arg = next(iter(accdoc.items()))
        prefilter = None
        if op in _TOPN_OPS and part_exprs is not None:
            sort_doc = dict(arg["sortBy"])
            n = int(arg["n"]) if op in ("$topN", "$bottomN") else 1
            if n < 1:
                raise ValueError(f"{op} n must be >= 1")
            order = _topn_order_cols(df, sort_doc,
                                     op in ("$bottom", "$bottomN"))
            marker = f"__topn_{i}"
            w = Window.partitionBy(*part_exprs).orderBy(*order)
            df = df.withColumn(marker, F.row_number().over(w) <= n)
            prefilter = marker
        aggs.append((out, op, arg, prefilter))
    return df, [_compile_accumulator(df, op, arg, pf).alias(out)
                for out, op, arg, pf in aggs]


def _value(df: DataFrame, v: Any) -> Column:
    """A pipeline value: "$field" ref, operator doc, or literal."""
    return compile_expr(v, default_resolver(df.schema))


def _project(df: DataFrame, spec: dict) -> DataFrame:
    flags = {k: v for k, v in spec.items() if isinstance(v, (int, bool))}
    exprs = {k: v for k, v in spec.items() if k not in flags}
    inc = [k for k, v in flags.items() if v]
    exc = {k for k, v in flags.items() if not v}
    if (inc or exprs) and (exc - {"_id"}):
        raise ValueError("cannot mix inclusion and exclusion in $project")
    if inc or exprs:
        # Mongo: any inclusion/expression makes the projection exclusive
        cols: list[Column] = [F.col(k).alias(k) for k in inc]
        cols += [_value(df, v).alias(k) for k, v in exprs.items()]
        return df.select(*cols)
    return df.select(*[F.col(c) for c in df.columns if c not in exc])


def _group(df: DataFrame, spec: dict) -> DataFrame:
    spec = dict(spec)
    if "_id" not in spec:
        raise ValueError("$group requires _id")
    gid = spec.pop("_id")
    if gid is None:
        # global group: $top/$bottom family compiles to a TakeOrdered
        # subplan (orderBy+limit n -> per-partition heaps, driver
        # merges n rows — never a single-task whole-data collect);
        # each single-row subframe cross-joins back onto the main
        # single-row aggregate
        rest, tops = {}, {}
        for out, accdoc in spec.items():
            if not (isinstance(accdoc, dict) and len(accdoc) == 1):
                raise ValueError(
                    f"$group accumulator must be one-op doc: {accdoc}")
            op, arg = next(iter(accdoc.items()))
            (tops if op in _TOPN_OPS else rest)[out] = accdoc
        frames = []
        if rest:
            _, aggs = _compile_group_aggs(df, rest, None)
            frames.append(df.agg(*aggs))
        for out, accdoc in tops.items():
            op, arg = next(iter(accdoc.items()))
            sort_doc = dict(arg["sortBy"])
            n = int(arg["n"]) if op in ("$topN", "$bottomN") else 1
            if n < 1:
                raise ValueError(f"{op} n must be >= 1")
            sub = df.orderBy(*_topn_order_cols(
                df, sort_doc, op in ("$bottom", "$bottomN"))).limit(n)
            frames.append(sub.agg(
                _compile_accumulator(sub, op, arg).alias(out)))
        if not frames:
            raise ValueError("$group with _id: null needs at least "
                             "one accumulator")
        out_df = frames[0]
        for fr in frames[1:]:
            out_df = out_df.crossJoin(fr)  # all single-row frames
        return out_df.select(*spec)
    if isinstance(gid, dict) and not any(k.startswith("$") for k in gid):
        # compound _id document {k: expr, ...} -> struct key
        prepped, aggs = _compile_group_aggs(
            df, spec, [_value(df, v) for v in gid.values()])
        key_cols = [_value(prepped, v).alias(k) for k, v in gid.items()]
        grouped = prepped.groupBy(*key_cols).agg(*aggs)
        return grouped.select(
            F.struct(*[F.col(k) for k in gid]).alias("_id"),
            *[F.col(a) for a in spec])
    # "$field" ref or operator-doc expression ({"$toLower": "$g"}, ...)
    prepped, aggs = _compile_group_aggs(df, spec, [_value(df, gid)])
    return (prepped.groupBy(_value(prepped, gid).alias("_id")).agg(*aggs))


def _unwind(df: DataFrame, spec: Union[str, dict]) -> DataFrame:
    """$unwind: explode/explode_outer; `includeArrayIndex` emits the
    element's position via posexplode (null index on preserved
    null/empty docs, like Mongo). A dotted path unwinds a nested
    array and rewrites the struct LEAF in place (withField) — Mongo
    replaces the nested field, not a new top-level column. Preserved
    null/empty docs leave the leaf null (the columnar
    missing==null convention, DEVIATIONS §1)."""
    if isinstance(spec, str):
        path, preserve, idx = spec, False, None
    else:
        path = spec["path"]
        preserve = bool(spec.get("preserveNullAndEmptyArrays", False))
        idx = spec.get("includeArrayIndex")
    field = path.lstrip("$")
    if "." in field:
        top, rest = field.split(".", 1)
        if top not in df.columns:
            raise ValueError(f"$unwind path {path!r}: no column {top!r}")
        ex = (F.posexplode_outer if preserve else F.posexplode)(
            F.col(field)) if idx else \
            (F.explode_outer if preserve else F.explode)(F.col(field))
        if idx:
            df = df.select("*", ex.alias("__uw_i", "__uw_v"))
        else:
            df = df.select("*", ex.alias("__uw_v"))
        df = df.withColumn(
            top, F.col(top).withField(rest, F.col("__uw_v")))
        if idx:
            df = df.withColumn(idx, F.col("__uw_i").cast("long"))
        return df.drop("__uw_i", "__uw_v")
    others = [c for c in df.columns if c != field]
    if idx:
        exploded = (F.posexplode_outer(field) if preserve
                    else F.posexplode(field))
        return df.select(
            *others, exploded.alias(idx, field)
        ).withColumn(idx, F.col(idx).cast("long")) \
            .select(*others, field, idx)
    exploded = F.explode_outer(field) if preserve else F.explode(field)
    return df.select(*others, exploded.alias(field))


def _lookup_let(df: DataFrame, fdf: DataFrame, spec: dict) -> DataFrame:
    """$lookup with `let` + correlated `pipeline` (Mongo 3.6 form).

    Set-based compile: the first pipeline stage must be a correlated
    `{"$match": {"$expr": ...}}`; its conjuncts split into (a) at
    least one `{"$eq": ["$foreignField", "$$var"]}` equality — the
    JOIN KEYS (Mongo evaluates the pipeline per local doc; without an
    equality the set-based equivalent is a cross join, so that shape
    raises), and (b) residual var-referencing conditions — post-join
    filters. Optional `$project` (inclusion flags; pushes into the
    foreign scan as column pruning, sort keys retained internally and
    stripped after the slice), `$sort` and `$limit` stages apply to
    each local doc's matched set via array_sort(comparator) + slice on
    the collected array. Other post-$match stages raise (shape the
    foreign side with an uncorrelated `pipeline` + plain $lookup
    instead).

    Row identity: local rows are stamped with
    monotonically_increasing_id and localCheckpoint-ed ONCE (the same
    pinning $graphLookup uses — mono ids are NOT stable across plan
    re-evaluations, and the collected arrays join back to the stamped
    frame). Cost: one materialization of the local side; the join
    itself is a plain equi-join on the correlation keys."""
    let = dict(spec["let"])
    pipeline = list(spec.get("pipeline") or [])
    as_name = spec["as"]
    if not pipeline or "$match" not in pipeline[0] \
            or set(pipeline[0]["$match"]) != {"$expr"}:
        raise ValueError(
            "$lookup with let: first pipeline stage must be "
            '{"$match": {"$expr": ...}}')
    expr = pipeline[0]["$match"]["$expr"]
    conjuncts = expr["$and"] if isinstance(expr, dict) \
        and set(expr) == {"$and"} else [expr]

    def is_var(x):
        return isinstance(x, str) and x.startswith("$$")

    def is_field(x):
        return isinstance(x, str) and x.startswith("$") \
            and not x.startswith("$$")

    eq_pairs, extra = [], []
    for c in conjuncts:
        if isinstance(c, dict) and set(c) == {"$eq"}:
            a, b = c["$eq"]
            if is_field(a) and is_var(b):
                eq_pairs.append((a[1:], b[2:]))
                continue
            if is_var(a) and is_field(b):
                eq_pairs.append((b[1:], a[2:]))
                continue
        extra.append(c)
    if not eq_pairs:
        raise ValueError(
            "$lookup with let needs at least one "
            '{"$eq": ["$foreignField", "$$var"]} conjunct — arbitrary '
            "correlation would compile to a cross join")
    for f, v in eq_pairs:
        if v not in let:
            raise ValueError(f"$lookup let: unknown variable $${v}")

    post = pipeline[1:]
    sort_doc, limit_n, proj_fields = None, None, None
    for st in post:
        if "$project" in st and proj_fields is None and limit_n is None:
            # inclusion-flag projection of foreign fields; it pushes
            # into the foreign side pre-join (column pruning) — sort
            # keys stay available internally and are stripped from the
            # output structs after the slice
            pj = dict(st["$project"])
            pj.pop("_id", None)
            if not pj or not all(
                    isinstance(v, (int, bool)) and v for v in pj.values()):
                raise ValueError(
                    "$lookup with let: $project inside the pipeline "
                    "supports inclusion flags of foreign fields only")
            missing = [k for k in pj if k not in fdf.columns]
            if missing:
                raise ValueError(
                    f"$lookup with let: $project fields {missing} not "
                    "in the foreign collection")
            proj_fields = list(pj)
        elif "$sort" in st and sort_doc is None and limit_n is None:
            sort_doc = dict(st["$sort"])
        elif "$limit" in st and limit_n is None:
            limit_n = int(st["$limit"])
        else:
            raise ValueError(
                "$lookup with let supports only $project/$sort/$limit "
                "after the correlated $match; shape the foreign side "
                "with an uncorrelated pipeline + plain $lookup instead")

    src = df.withColumn(
        "__lk_id", F.monotonically_increasing_id()).localCheckpoint(
        eager=True)
    for v, local_expr in let.items():
        src = src.withColumn(f"__lkv_{v}", _value(src, local_expr))
    fcols = fdf.columns
    fp = fdf.select(*[F.col(c).alias(f"__lkf_{c}") for c in fcols])

    def resolver(name: str):
        if name.startswith("$"):  # "$$var" arrived as "$var"
            v = name[1:]
            if v not in let:
                raise ValueError(f"$lookup let: unknown variable $${v}")
            return F.col(f"__lkv_{v}")
        head, *rest = name.split(".")
        col = F.col(f"__lkf_{head}")
        for p in rest:
            col = col[p]
        return col

    cond = None
    for f, v in eq_pairs:
        c = F.col(f"__lkf_{f}").eqNullSafe(F.col(f"__lkv_{v}"))
        cond = c if cond is None else (cond & c)
    matched = src.join(fp, cond, "inner")
    for c in extra:
        matched = matched.filter(
            compile_expr(c, resolver).cast("boolean"))
    # the collected struct carries the projected fields plus any sort
    # keys the comparator needs; Catalyst prunes the foreign scan to
    # exactly this set (the $project pushes down for free)
    keep = proj_fields if proj_fields is not None else fcols
    elem_fields = list(dict.fromkeys(
        list(keep) + (list(sort_doc) if sort_doc else [])))
    elem = F.struct(*[F.col(f"__lkf_{c}").alias(c) for c in elem_fields])
    arr = F.collect_list(elem)
    if sort_doc is not None:
        from maggma_spark.functions.criteria import struct_comparator

        arr = F.array_sort(arr, struct_comparator(sort_doc))
    if limit_n is not None:
        arr = F.slice(arr, 1, limit_n)
    if proj_fields is not None and set(elem_fields) != set(proj_fields):
        # strip the internal sort keys back out of the output structs
        arr = F.transform(arr, lambda e: F.struct(
            *[e[c].alias(c) for c in proj_fields]))
    grouped = matched.groupBy("__lk_id").agg(arr.alias(as_name))
    joined = src.join(grouped, on="__lk_id", how="left")
    elem_t = dict(zip(joined.columns,
                      (f.dataType for f in joined.schema.fields)))[as_name]
    return (joined.withColumn(
        as_name, F.coalesce(F.col(as_name),
                            F.array().cast(elem_t.simpleString())))
        .drop("__lk_id", *[f"__lkv_{v}" for v in let]))


def _lookup(df: DataFrame, spec: dict,
            stores: Optional[dict] = None) -> DataFrame:
    frm = spec["from"]
    if isinstance(frm, str):
        if not stores or frm not in stores:
            raise ValueError(f"$lookup from {frm!r}: pass stores={{name: "
                             f"store_or_df}} to resolve it")
        frm = stores[frm]
    fdf = frm if isinstance(frm, DataFrame) else frm.df
    if spec.get("let"):
        return _lookup_let(df, fdf, spec)
    if spec.get("pipeline"):
        # Mongo 8 concise form: pre-filter/shape the foreign side with
        # an uncorrelated pipeline, then equi-join as usual
        fdf = compile_pipeline(fdf, spec["pipeline"])
    local, foreign, as_name = (spec["localField"], spec["foreignField"],
                               spec["as"])
    gathered = (fdf.groupBy(F.col(foreign).alias("__lk"))
                .agg(F.collect_list(F.struct(*fdf.columns)).alias(as_name)))
    joined = df.join(F.broadcast(gathered) if spec.get("broadcast") else
                     gathered,
                     df[local] == gathered["__lk"], "left").drop("__lk")
    elem_t = dict(zip(joined.columns,
                      (f.dataType for f in joined.schema.fields)))[as_name]
    return joined.withColumn(
        as_name, F.coalesce(F.col(as_name),
                            F.array().cast(elem_t.simpleString())))


def _bucket(df: DataFrame, spec: dict) -> DataFrame:
    """$bucket: range bucketing on explicit boundaries; docs outside the
    boundaries go to `default` (error without one, as in Mongo)."""
    group_by = _value(df, spec["groupBy"])
    bounds = spec["boundaries"]
    if sorted(bounds) != list(bounds) or len(bounds) < 2:
        raise ValueError("$bucket boundaries must be sorted, len >= 2")
    # Mongo buckets can mix a numeric boundary _id with a string
    # default; a Column needs ONE type, so heterogeneous ids stringify
    ids = list(bounds[:-1]) + ([spec["default"]] if "default" in spec else [])
    hetero = len({isinstance(v, str) for v in ids}) > 1
    mk = (lambda v: F.lit(str(v))) if hetero else F.lit
    bucket = None
    for lo, hi in zip(bounds, bounds[1:]):
        cond = (group_by >= F.lit(lo)) & (group_by < F.lit(hi))
        bucket = F.when(cond, mk(lo)) if bucket is None else \
            bucket.when(cond, mk(lo))
    if "default" in spec:
        bucket = bucket.otherwise(mk(spec["default"]))
    out_spec = dict(spec.get("output") or {"count": {"$sum": 1}})
    out_spec.pop("_id", None)  # keys come from the bucket expression
    grouped = df.withColumn("_id", bucket)
    if "default" not in spec:
        # Mongo errors on out-of-range docs; set-based engines can't
        # raise per-row — dropping with no default would silently lose
        # data, so require an explicit default instead
        missing = grouped.filter(F.col("_id").isNull()).limit(1).count()
        if missing:
            raise ValueError(
                "$bucket: document outside boundaries and no default given")
    prepped, aggs = _compile_group_aggs(grouped, out_spec,
                                        [F.col("_id")])
    return prepped.groupBy("_id").agg(*aggs)


# ISO 3 Renard and IEC 60063 E-series preferred numbers (public
# standards data; also Mongo's $bucketAuto granularity series). E48/
# E96/E192 are exactly 10^(k/N) rounded to 3 significant figures, so
# they are generated; the smaller series have historical exceptions
# (e.g. R10's 3.15) and are tabulated.
_GRANULARITY_SERIES = {
    "R5": [1.0, 1.6, 2.5, 4.0, 6.3],
    "R10": [1.0, 1.25, 1.6, 2.0, 2.5, 3.15, 4.0, 5.0, 6.3, 8.0],
    "R20": [1.0, 1.12, 1.25, 1.4, 1.6, 1.8, 2.0, 2.24, 2.5, 2.8, 3.15,
            3.55, 4.0, 4.5, 5.0, 5.6, 6.3, 7.1, 8.0, 9.0],
    "R40": [1.0, 1.06, 1.12, 1.18, 1.25, 1.32, 1.4, 1.5, 1.6, 1.7, 1.8,
            1.9, 2.0, 2.12, 2.24, 2.36, 2.5, 2.65, 2.8, 3.0, 3.15, 3.35,
            3.55, 3.75, 4.0, 4.25, 4.5, 4.75, 5.0, 5.3, 5.6, 6.0, 6.3,
            6.7, 7.1, 7.5, 8.0, 8.5, 9.0, 9.5],
    "1-2-5": [1.0, 2.0, 5.0],
    "E6": [1.0, 1.5, 2.2, 3.3, 4.7, 6.8],
    "E12": [1.0, 1.2, 1.5, 1.8, 2.2, 2.7, 3.3, 3.9, 4.7, 5.6, 6.8, 8.2],
    "E24": [1.0, 1.1, 1.2, 1.3, 1.5, 1.6, 1.8, 2.0, 2.2, 2.4, 2.7, 3.0,
            3.3, 3.6, 3.9, 4.3, 4.7, 5.1, 5.6, 6.2, 6.8, 7.5, 8.2, 9.1],
}
for _n in (48, 96, 192):
    _GRANULARITY_SERIES[f"E{_n}"] = [
        round(10.0 ** (_k / _n), 2) for _k in range(_n)]
# IEC 60063's one tabulated anomaly: E192 publishes 9.20 where the
# formula yields 9.19 (10^(185/192) = 9.1896...) — patch to the
# published series so $bucketAuto boundaries match Mongo's tables
_GRANULARITY_SERIES["E192"] = [
    9.2 if _v == 9.19 else _v for _v in _GRANULARITY_SERIES["E192"]]


def _granularity_round(v: float, granularity: str, up: bool) -> float:
    """Round `v` to the preferred-number series: up = smallest series
    value STRICTLY greater than v (bucket maxes stay exclusive), down =
    largest series value <= v. v must be > 0 (0 rounds down to 0)."""
    import math

    if v == 0:
        if not up:
            return 0.0
        raise ValueError(
            "$bucketAuto granularity: cannot round 0 upward — all "
            "groupBy values are 0")
    if granularity == "POWERSOF2":
        e = math.floor(math.log2(v))
        while 2.0 ** e > v:
            e -= 1
        while 2.0 ** (e + 1) <= v:
            e += 1
        return 2.0 ** (e + 1) if up else 2.0 ** e
    series = _GRANULARITY_SERIES[granularity]
    e = math.floor(math.log10(v))
    while series[0] * 10.0 ** e > v:
        e -= 1
    while series[0] * 10.0 ** (e + 1) <= v:
        e += 1
    cands = [s * 10.0 ** e for s in series] + [series[0] * 10.0 ** (e + 1)]
    if up:
        return min(c for c in cands if c > v)
    return max(c for c in cands if c <= v)


def _bucket_auto(df: DataFrame, spec: dict) -> DataFrame:
    """$bucketAuto: split into `buckets` groups of ~equal document
    count with data-derived boundaries; `_id` is a {min, max} struct
    (max exclusive except the last bucket, as in Mongo). Ties stay in
    one bucket (boundary rule: a distinct value lands in bucket
    floor(docs_before * buckets / total)). Nulls sort lowest and fold
    into the first bucket with `_id.min` null, matching BSON order.

    `granularity` rounds boundaries to a preferred-number series
    (Renard R5-R40, 1-2-5, E6-E192, POWERSOF2 — ISO 3 / IEC 60063):
    the first min rounds DOWN from the global min, every max rounds UP
    strictly past its bucket's largest value, and buckets whose rounded
    boundaries collide merge (so fewer than `buckets` may come back, as
    in Mongo). Granularity requires non-null, non-negative numeric
    groupBy values.

    Plan shape: one count-per-distinct-value aggregate whose stats row
    (total/cardinality/max) is the ONLY driver action on the default
    path, a cumulative window over the DISTINCT-VALUE frame
    (cardinality-bounded — not the data; the single global-order window
    runs on |distinct values| rows), then a null-safe equi-join
    assigning each row its bucket. The granularity path adds one more
    bounded action (<= `buckets` per-bucket maxes) and assigns buckets
    with a literal CASE — no join at all. At 100 TB prefer a $bucket
    with precomputed approx-quantile boundaries when value cardinality
    itself is data-scale."""
    from pyspark.sql import Window

    granularity = spec.get("granularity")
    if granularity and granularity != "POWERSOF2" \
            and granularity not in _GRANULARITY_SERIES:
        raise ValueError(
            f"$bucketAuto granularity {granularity!r} not supported; "
            f"one of {sorted(_GRANULARITY_SERIES)} or POWERSOF2")
    n_buckets = int(spec["buckets"])
    if n_buckets < 1:
        raise ValueError("$bucketAuto buckets must be >= 1")
    tagged = df.withColumn("__ba_val", _value(df, spec["groupBy"]))
    vals = tagged.groupBy("__ba_val").agg(F.count(F.lit(1)).alias("__c"))
    # total / cardinality / extrema / null presence in ONE driver
    # action over the distinct-value frame (F.min/F.max skip nulls,
    # matching a scan of the raw data)
    stats = vals.agg(
        F.sum("__c").alias("total"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.min("__ba_val").alias("gmin"),
        F.max("__ba_val").alias("gmax"),
        F.max(F.col("__ba_val").isNull().cast("int")).alias("has_null"),
    ).first()
    total, n_distinct, gmax = (int(stats["total"] or 0),
                               stats["n_distinct"], stats["gmax"])
    if total == 0:
        raise ValueError("$bucketAuto on an empty input")
    max_distinct = int(spec.get("maxDistinct", 1_000_000))
    if n_distinct > max_distinct:
        # the boundary window is a single global-order pass over the
        # distinct-value frame; past ~1M distinct values precompute
        # approx-quantile boundaries and use $bucket instead of letting
        # one task sort a data-scale frame (house guard style: raise,
        # never silently bottleneck)
        raise ValueError(
            f"$bucketAuto: {n_distinct} distinct groupBy values exceeds "
            f"maxDistinct={max_distinct}; use $bucket with "
            "approx-quantile boundaries at this cardinality")
    w = (Window.orderBy(F.col("__ba_val").asc_nulls_first())
         .rowsBetween(Window.unboundedPreceding, -1))
    bkt = F.least(
        F.floor(F.coalesce(F.sum("__c").over(w), F.lit(0))
                * n_buckets / F.lit(total)),
        F.lit(n_buckets - 1)).cast("int")
    out_spec = dict(spec.get("output") or {"count": {"$sum": 1}})

    if granularity:
        if stats["has_null"] or (stats["gmin"] is not None
                                 and float(stats["gmin"]) < 0):
            raise ValueError(
                "$bucketAuto granularity requires non-null, "
                "non-negative numeric groupBy values")
        # <= `buckets` rows: the preliminary buckets' largest values
        pre_max = sorted(
            (r["__bkt"], float(r["__mx"]))
            for r in vals.select(bkt.alias("__bkt"), "__ba_val")
            .groupBy("__bkt").agg(F.max("__ba_val").alias("__mx"))
            .collect())
        first_min = _granularity_round(float(stats["gmin"]), granularity,
                                       up=False)
        uppers: list[float] = []
        for _, mx in pre_max:
            ub = _granularity_round(mx, granularity, up=True)
            if not uppers or ub > uppers[-1]:
                uppers.append(ub)
        val = F.col("__ba_val").cast("double")
        lowers = [first_min] + uppers[:-1]
        id_col = None
        for lo, hi in zip(lowers, uppers):
            branch = F.struct(F.lit(lo).alias("min"), F.lit(hi).alias("max"))
            id_col = F.when(val < hi, branch) if id_col is None \
                else id_col.when(val < hi, branch)
        grouped = tagged.withColumn("_id", id_col)
        prepped, aggs = _compile_group_aggs(grouped, out_spec,
                                            [F.col("_id")])
        return prepped.groupBy("_id").agg(*aggs)

    # inner join must be NULL-SAFE: plain equi-join drops every row
    # whose groupBy value is null, losing the first-bucket null fold
    vdf = vals.select(F.col("__ba_val").alias("__ba_vv"),
                      bkt.alias("__bkt"))
    assigned = (tagged.join(
        vdf, tagged["__ba_val"].eqNullSafe(vdf["__ba_vv"]))
        .drop("__ba_vv"))
    wb = Window.orderBy("__bkt")
    bounds = (assigned.groupBy("__bkt").agg(
        F.min("__ba_val").alias("__min_nn"),
        F.max(F.col("__ba_val").isNull().cast("int")).alias("__has_null"))
        .withColumn("min", F.when(F.col("__has_null") == 1, F.lit(None))
                    .otherwise(F.col("__min_nn")))
        .withColumn("max", F.coalesce(F.lead("min").over(wb), F.lit(gmax)))
        .select("__bkt", "min", "max"))
    assigned, aggs = _compile_group_aggs(assigned, out_spec,
                                         [F.col("__bkt")])
    grouped = assigned.groupBy("__bkt").agg(*aggs)
    return (grouped.join(bounds, on="__bkt")
            .select(F.struct("min", "max").alias("_id"),
                    *[o for o in out_spec]))


def _vector_search(df: DataFrame, spec: dict) -> DataFrame:
    """$vectorSearch (Atlas vector-search stage) over an embedding
    column.

    `exact: true` (ENN) scores every row with the JVM zip_with cosine
    kernel and takes the top `limit` — Catalyst plans the sort+limit
    as TakeOrderedAndProject (per-partition heaps + driver merge of
    limit rows, never a global sort). The approximate path prefilters
    with multi-table random-hyperplane signatures (the LSH ANN index's
    kernel): only rows whose signature matches the query's in some
    table are scored, trading recall for candidate count exactly like
    the IVF/LSH operators (operators/similarity.py — use those for
    persistent indexes). `numCandidates` sizes the signature width:
    fewer candidates wanted => more bits => smaller buckets.
    `filter` is an MQL criteria document applied BEFORE scoring (it
    participates in parquet pushdown). The score is exposed to later
    stages via {"$meta": "vectorSearchScore"}, as in Mongo, and uses
    Atlas's published normalization per the index `similarity`:
    cosine -> (1 + cos)/2, dotProduct -> (1 + dot)/2, euclidean ->
    1/(1 + d^2) — all in [0, 1], higher = closer."""
    from maggma_spark.operators.similarity import cosine, lsh_signature

    path, qv = spec["path"], list(spec["queryVector"])
    k = int(spec["limit"])
    if k < 1:
        raise ValueError("$vectorSearch limit must be >= 1")
    sim = spec.get("similarity", "cosine")
    if sim not in ("cosine", "dotProduct", "euclidean"):
        raise ValueError(f"$vectorSearch similarity {sim!r} not "
                         "supported (cosine/dotProduct/euclidean)")
    if spec.get("filter"):
        df = df.filter(compile_criteria(spec["filter"], schema=df.schema))
    qlit = F.array(*[F.lit(float(x)) for x in qv])
    if not spec.get("exact", False):
        dim = len(qv)
        ncand = int(spec.get("numCandidates", 10 * k))
        if ncand < k:
            raise ValueError("numCandidates must be >= limit")
        # Atlas semantics: HIGHER numCandidates = broader search. Each
        # signature bit roughly halves a table's bucket population, so
        # candidate count ~ N * tables / 2^bits — make bits INVERSELY
        # related to numCandidates (more candidates wanted => fewer
        # bits => bigger buckets), bounded to a sane range
        import math as _m

        bits = max(4, min(16, 16 - int(_m.log2(max(2, ncand)))))
        tables = 4
        from maggma_spark.operators.similarity import (
            _hyperplane,
            lsh_signature_tables,
        )

        # the query's signatures are CONSTANTS — fold them driver-side
        # with the same plane/sum/threshold sequence the row-side
        # kernel uses (identical IEEE op order => identical bits)
        qsigs = []
        for t in range(tables):
            qsig = 0
            for b in range(bits):
                plane = _hyperplane(dim, t * bits + b)
                proj = 0.0
                for x, p in zip(qv, plane):
                    proj += float(x) * p
                if proj >= 0:
                    qsig |= 1 << b
            qsigs.append(qsig)
        # round-8: ONE packed-bits expression for all tables (plan
        # construction was ~1-3 s with per-bit per-table chains —
        # SCALE.md), matched positionally against the folded constants
        rsigs = lsh_signature_tables(F.col(path), dim, bits, tables)
        qarr = F.array(*[F.lit(q).cast("long") for q in qsigs])
        df = df.filter(F.exists(
            F.zip_with(rsigs, qarr, lambda r, q: r == q),
            lambda hit: hit))
    # score in DOUBLE: float32 embeddings would quantize the cosine to
    # ~1e-7, which both loses ranking resolution and disagrees with
    # any double-precision reference
    v = F.col(path).cast("array<double>")
    if sim == "cosine":
        score = (F.lit(1.0) + cosine(v, qlit)) / F.lit(2.0)
    elif sim == "dotProduct":
        dot = F.aggregate(F.zip_with(v, qlit, lambda a, b: a * b),
                          F.lit(0.0), lambda acc, x: acc + x)
        score = (F.lit(1.0) + dot) / F.lit(2.0)
    else:  # euclidean: 1 / (1 + d^2) — d^2 needs no sqrt
        d2 = F.aggregate(
            F.zip_with(v, qlit, lambda a, b: (a - b) * (a - b)),
            F.lit(0.0), lambda acc, x: acc + x)
        score = F.lit(1.0) / (F.lit(1.0) + d2)
    scored = df.withColumn("__vector_search_score", score)
    return (scored.orderBy(F.col("__vector_search_score").desc())
            .limit(k))


# options that would silently change semantics if ignored raise
_SEARCH_OPTIONS = {
    "text": {"query", "path", "score", "fuzzy"},
    "phrase": {"query", "path", "slop", "score"},
    "equals": {"path", "value", "score"},
    "range": {"path", "gt", "gte", "lt", "lte", "score"},
    "exists": {"path", "score"},
    "in": {"path", "value", "score"},
    "wildcard": {"query", "path", "allowAnalyzedField", "score"},
    "regex": {"query", "path", "allowAnalyzedField", "score"},
    "autocomplete": {"query", "path", "tokenOrder", "score"},
    "near": {"path", "origin", "pivot", "score"},
    "compound": {"must", "mustNot", "should", "filter",
                 "minimumShouldMatch"}}
_SEARCH_GROUPS = ("must", "mustNot", "should", "filter")


def _search_plan(spec: dict) -> dict:
    """Session-free plan of a $search/$searchMeta operator spec: ONE
    walk of the clause tree that normalizes paths, query terms, fuzzy
    keys and phrases, rejects every option it does not model, and
    registers the corpus statistics the scoring needs. Returns
    {"root": clause, "len_paths", "term_reqs", "phrase_reqs"}: the
    requirement lists are in walk order, which names the stats
    aggregate's columns. Every error raises here, before any Spark job.

    Atlas lexical search (the reference compiles $text into Atlas
    $search pipelines, reference:src/maggma/api/resource/utils.py:69-115).
    Operators: `text` (BM25 sum over query terms; `path` may be a
    string or list — list scores sum, predicate ORs), `phrase`
    (contiguous token sequence as one pseudo-term, slop unsupported),
    `equals`, `range` (gt/gte/lt/lte), `exists`, `in`, `wildcard` /
    `regex` (keyword semantics: whole-value LIKE / anchored rlike),
    `autocomplete` (token-prefix, tokenOrder any|sequential), `near`
    (Atlas pivot decay pivot/(pivot+dist); numeric or date origin,
    geo raises), and `compound` with must/mustNot/should/filter +
    minimumShouldMatch (defaults to 1 when only should clauses
    constrain, as in Atlas). Every clause but compound accepts
    `score: {boost: {value}}` / `{constant: {value}}`."""
    spec = dict(spec)
    spec.pop("index", None)
    spec.pop("sort", None)  # consumed by _search
    if len(spec) != 1:
        raise ValueError(
            "$search takes exactly one operator (plus optional "
            "index/sort)")
    plan: dict = {"len_paths": [], "term_reqs": [], "phrase_reqs": []}
    ((op, args),) = spec.items()
    plan["root"] = _search_clause_plan(op, args, plan)
    return plan


def _search_clause_plan(op: str, args: dict, plan: dict) -> dict:
    """One clause of _search_plan, its stats requirements appended to
    `plan` (deduplicated, in walk order)."""
    if op not in _SEARCH_OPTIONS:
        raise ValueError(f"unsupported $search operator {op!r}")
    extra = set(args) - _SEARCH_OPTIONS[op]
    if extra:
        raise ValueError(
            f"$search {op} options {sorted(extra)} are not supported")
    if op != "compound" and "path" not in args:
        raise ValueError(f"$search {op} clause {args!r} has no path")
    c = {"op": op, "score": _search_score_plan(args.get("score"))}
    if op == "compound":
        c["groups"] = {k: [_search_clause_plan(*_one_clause(k, s), plan)
                           for s in args.get(k, ())]
                       for k in _SEARCH_GROUPS}
        c["msm"] = args.get(
            "minimumShouldMatch",
            0 if (c["groups"]["must"] or c["groups"]["filter"]) else
            (1 if c["groups"]["should"] else 0))
        return c
    if op in ("equals", "exists", "in"):
        c["path"], c["value"] = args["path"], args.get("value")
        return c
    if op == "range":
        c["path"] = args["path"]
        c["bounds"] = [(k, args[k]) for k in ("gt", "gte", "lt", "lte")
                       if k in args]
        return c
    p = args["path"]
    c["paths"] = p if isinstance(p, list) else [p]
    if op == "near":
        if isinstance(args["origin"], dict):
            raise ValueError("$search near geo origins are not "
                             "supported (DEVIATIONS §15)")
        if not float(args["pivot"]) > 0:
            raise ValueError("$search near pivot must be > 0")
        c["origin"], c["pivot"] = args["origin"], float(args["pivot"])
    elif op in ("wildcard", "regex"):
        q = args["query"]
        c["pattern"] = (_wildcard_like(q) if op == "wildcard"
                        else f"^(?:{q})$")
    elif op == "phrase":
        if args.get("slop"):
            raise ValueError("$search phrase slop is not supported")
        c["phrase"] = " ".join(args["query"].lower().split())
        if not c["phrase"]:
            raise ValueError("phrase query must be non-empty")
    else:  # text / autocomplete
        c["terms"] = _search_terms(args["query"])
        if op == "autocomplete":
            if not c["terms"]:
                raise ValueError("autocomplete query must be non-empty")
            c["order"] = args.get("tokenOrder", "any")
            if c["order"] not in ("any", "sequential"):
                raise ValueError(f"autocomplete tokenOrder {c['order']!r}")
        else:
            c["fuzzy"] = _fuzzy_key(args.get("fuzzy"))
    if op in ("text", "phrase"):
        for p in c["paths"]:
            _add_once(plan["len_paths"], p)
            if op == "phrase":
                _add_once(plan["phrase_reqs"], (p, c["phrase"]))
            for t in c.get("terms", ()):
                _add_once(plan["term_reqs"], (p, t, c["fuzzy"]))
    return c


def _one_clause(group: str, clause: dict) -> tuple:
    if not isinstance(clause, dict) or len(clause) != 1:
        raise ValueError(
            f"$search compound {group} clause {clause!r} must hold "
            "exactly one operator")
    ((op, args),) = clause.items()
    return op, args


def _add_once(xs: list, x) -> None:
    if x not in xs:
        xs.append(x)


def _search_terms(query) -> list:
    """Lower-cased, de-duplicated whitespace tokens of a query string
    or list of strings, in first-seen order."""
    out: list = []
    for q in query if isinstance(query, list) else [query]:
        for t in q.lower().split():
            _add_once(out, t)
    return out


def _fuzzy_key(fz) -> Optional[tuple]:
    """Normalized (maxEdits, prefixLength) of a text clause's `fuzzy`
    option, or None. Atlas fuzzy: maxEdits 1|2 (default 2),
    prefixLength exact-prefix chars (default 0). maxExpansions caps the
    INDEX's candidate-term expansion — with no index we match every
    in-document token within the edit budget, a superset of any capped
    expansion (DEVIATIONS §21). Lucene measures Damerau-Levenshtein
    (transposition = 1 edit); Spark's levenshtein counts it as 2 —
    documented there too."""
    if fz is None:
        return None
    extra = set(fz) - {"maxEdits", "prefixLength", "maxExpansions"}
    if extra:
        raise ValueError(
            f"$search text fuzzy options {sorted(extra)} are not "
            "supported")
    me = int(fz.get("maxEdits", 2))
    if me not in (1, 2):
        raise ValueError("fuzzy maxEdits must be 1 or 2")
    return me, int(fz.get("prefixLength", 0))


def _search_score_plan(opt) -> Optional[tuple]:
    """Atlas per-clause `score` option as ("boost" | "constant", value),
    or None. `boost.path`/`function` score expressions are not modeled
    (raise)."""
    if opt is None:
        return None
    if not isinstance(opt, dict) or len(opt) != 1:
        raise ValueError("$search score takes exactly one of "
                         "boost/constant")
    ((kind, body),) = opt.items()
    if kind in ("boost", "constant") and set(body) == {"value"}:
        return kind, float(body["value"])
    raise ValueError(
        f"$search score option {kind!r} with keys "
        f"{sorted(body)} is not supported (boost.value / "
        "constant.value only)")


def _score_opt(score: Column, opt: Optional[tuple]) -> Column:
    """Apply a planned `score` option: boost multiplies, constant
    replaces."""
    if opt is None:
        return score
    kind, value = opt
    return score * F.lit(value) if kind == "boost" else F.lit(value)


def _wildcard_like(q: str) -> str:
    """Translate Atlas/Lucene wildcard (* ? with \\ escapes) to a SQL
    LIKE pattern, escaping LIKE's own metacharacters."""
    out, i = [], 0
    while i < len(q):
        c = q[i]
        if c == "\\" and i + 1 < len(q):
            nxt = q[i + 1]
            out.append("\\" + nxt if nxt in "%_\\" else nxt)
            i += 2
            continue
        if c == "*":
            out.append("%")
        elif c == "?":
            out.append("_")
        elif c in "%_":
            out.append("\\" + c)
        elif c == "\\":  # trailing lone backslash: match literally
            out.append("\\\\")
        else:
            out.append(c)
        i += 1
    return "".join(out)


def _tok_match(t: str, fzkey: Optional[tuple]):
    """One-arg element predicate for F.filter/F.exists: token == t, or
    within the fuzzy edit budget (threshold levenshtein short-circuits:
    -1 past it) sharing the exact prefix. A real closure, NOT a
    defaulted lambda: pyspark's higher-order functions count the
    callable's parameters (defaults included) and would pass the
    element INDEX into a default arg."""
    if fzkey is None:
        def m(x):
            return x == F.lit(t)
    else:
        me, pl = fzkey

        def m(x):
            cond = F.levenshtein(x, F.lit(t), me) != F.lit(-1)
            if pl:
                cond = cond & x.startswith(t[:pl])
            return cond
    return m


def _search_tokens(df: DataFrame, p: str) -> Column:
    from maggma_spark.functions.text import normalized_text, tokens

    return tokens(normalized_text(_value(df, f"${p}")))


def _search_padded(df: DataFrame, p: str) -> Column:
    from maggma_spark.functions.text import normalized_text

    return F.concat(F.lit(" "), normalized_text(_value(df, f"${p}")),
                    F.lit(" "))


def _search_stats(df: DataFrame, plan: dict):
    """The bm25_rank two-job shape (functions/text.py): ONE corpus-stats
    aggregate — N, per-path length sums, per-term and per-phrase
    document frequencies, a scalar row folded into literals — then a
    pure-JVM scoring scan. No join, no shuffle; at 100 TB the stats
    pass is one scan. None (no action) when nothing scores by BM25.
    The aggregate keeps the inline token trees: it is ONE pass either
    way."""
    if not plan["len_paths"]:
        return None
    aggs = [F.count(F.lit(1)).alias("n")]
    for i, p in enumerate(plan["len_paths"]):
        aggs.append(F.sum(F.size(_search_tokens(df, p))).alias(f"len__{i}"))
    for i, (p, t, fzkey) in enumerate(plan["term_reqs"]):
        if fzkey is None:
            hit = F.array_contains(_search_tokens(df, p), t)
        else:
            hit = F.exists(_search_tokens(df, p), _tok_match(t, fzkey))
        aggs.append(F.sum(hit.cast("long")).alias(f"df__{i}"))
    for i, (p, ph) in enumerate(plan["phrase_reqs"]):
        aggs.append(F.sum(F.contains(_search_padded(df, p),
                                     F.lit(f" {ph} ")).cast("long"))
                    .alias(f"pdf__{i}"))
    return df.agg(*aggs).first()


class _SearchColumns:
    """Helper columns of one $search compile (round-13, guide §1.2
    per-task work): the scoring expressions reference the tokenized
    text and each term's fuzzy tf count SEVERAL times (tf twice inside
    every bm25 term, the token array once per term plus once for dl,
    the padded text once per autocomplete token), and the higher-order
    filter/exists calls are CodegenFallback — Catalyst neither fuses
    nor CSEs them, so every reference would re-tokenize (and re-run
    the per-token levenshtein) per row. Level 1 (`base`) holds the
    tokenized / padded text per path; level 2 (`tfs`) the per-(path,
    term, fuzzy) tf counts, whose exprs reference level-1 COLUMNS — so
    they apply as two consecutive withColumns calls. Measured ×1.4 on
    the fuzzy-scoring scan fragment; values are bit-identical (same
    trees, evaluated once)."""

    K1, B = 1.2, 0.75

    def __init__(self, df: DataFrame, plan: dict, stats):
        self.df, self.plan, self.stats = df, plan, stats
        self.base: dict = {}
        self.tfs: dict = {}
        self._names: dict = {"toks": {}, "pad": {}, "tf": {}}

    def _ref(self, kind: str, key, cols: dict, make) -> Column:
        names = self._names[kind]
        if key not in names:
            names[key] = f"__srch_{kind}_{len(names)}"
            cols[names[key]] = make()
        return F.col(names[key])

    def toks(self, p: str) -> Column:
        return self._ref("toks", p, self.base,
                         lambda: _search_tokens(self.df, p))

    def pad(self, p: str) -> Column:
        return self._ref("pad", p, self.base,
                         lambda: _search_padded(self.df, p))

    def tf(self, p: str, t: str, fzkey) -> Column:
        return self._ref("tf", (p, t, fzkey), self.tfs, lambda: F.size(
            F.filter(self.toks(p), _tok_match(t, fzkey))))

    def bm25(self, path: str, tf: Column, stat: str) -> Column:
        import math

        n, df_count = self.stats["n"], self.stats[stat]
        i = self.plan["len_paths"].index(path)
        avgdl = (self.stats[f"len__{i}"] / n) if n else 1.0
        idf = math.log(1.0 + (n - df_count + 0.5) / (df_count + 0.5))
        dl = F.size(self.toks(path))
        return F.lit(idf) * (
            tf * (self.K1 + 1.0)
            / (tf + self.K1 * (1.0 - self.B + self.B * dl / F.lit(avgdl))))


def _search_text(c: dict, sc: _SearchColumns):
    score = F.lit(0.0)
    for p in c["paths"]:
        for t in c["terms"]:
            i = sc.plan["term_reqs"].index((p, t, c["fuzzy"]))
            score = score + sc.bm25(p, sc.tf(p, t, c["fuzzy"]), f"df__{i}")
    return score > 0, score


def _search_phrase(c: dict, sc: _SearchColumns):
    """Phrase tf counts non-overlapping padded occurrences in the
    normalized text — self-overlapping phrases ("a a" in "a a a")
    undercount vs Lucene's sloppy counter."""
    pad = f" {c['phrase']} "
    score = F.lit(0.0)
    for p in c["paths"]:
        padded = sc.pad(p)
        tf = ((F.length(padded) - F.length(F.replace(padded, F.lit(pad))))
              / F.lit(len(pad))).cast("int")
        i = sc.plan["phrase_reqs"].index((p, c["phrase"]))
        score = score + sc.bm25(p, tf, f"pdf__{i}")
    return score > 0, score


def _search_field(c: dict, sc: _SearchColumns):
    """equals / range / exists / in: a constant-score predicate."""
    col = _value(sc.df, "$" + c["path"])
    if c["op"] == "equals":
        return col == _lit(c["value"]), None
    if c["op"] == "exists":
        return col.isNotNull(), None
    if c["op"] == "in":
        return col.isin(list(c["value"])), None
    pred = F.lit(True)
    for key, v in c["bounds"]:
        pred = pred & {"gt": col.__gt__, "gte": col.__ge__,
                       "lt": col.__lt__, "lte": col.__le__}[key](_lit(v))
    return pred, None


def _search_pattern(c: dict, sc: _SearchColumns):
    """wildcard / regex, keyword semantics: the pattern matches the
    WHOLE raw field value (Atlas keyword-analyzer behavior);
    allowAnalyzedField's per-token matching against analyzer output is
    an index-internals behavior not modeled here (DEVIATIONS §21)."""
    pred = F.lit(False)
    for p in c["paths"]:
        col = _value(sc.df, "$" + p).cast("string")
        pred = pred | (col.like(c["pattern"]) if c["op"] == "wildcard"
                       else col.rlike(c["pattern"]))
    return pred, None


def _search_autocomplete(c: dict, sc: _SearchColumns):
    """Token-prefix match over the normalized text: " t" in the
    space-padded text <=> some token starts with t. tokenOrder "any"
    (default): every query token is a token prefix somewhere;
    "sequential": the tokens appear contiguously in order, last one as
    a prefix. Constant score (Atlas edgeGram scoring is
    index-internal)."""
    ts = c["terms"]
    pred = F.lit(False)
    for p in c["paths"]:
        padded = sc.pad(p)
        if c["order"] == "sequential":
            sub = F.contains(padded, F.lit(" " + " ".join(ts)))
        else:
            sub = F.lit(True)
            for t in ts:
                sub = sub & F.contains(padded, F.lit(" " + t))
        pred = pred | sub
    return pred, None


def _search_near(c: dict, sc: _SearchColumns):
    """Atlas's published decay: score = pivot / (pivot + dist). Numeric
    origin -> |x - origin|; date origin (ISO string) -> millisecond
    distance (pivot in ms). Geo points raise in the plan ($geoNear
    disposition, DEVIATIONS §15)."""
    origin, pivot = c["origin"], F.lit(c["pivot"])
    score, pred = F.lit(0.0), F.lit(False)
    for p in c["paths"]:
        col = _value(sc.df, "$" + p)
        if isinstance(origin, str):
            dist = F.abs(F.unix_millis(col.cast("timestamp"))
                         - F.unix_millis(F.lit(origin).cast("timestamp")))
        else:
            dist = F.abs(col - F.lit(origin))
        here = col.isNotNull()
        score = score + F.when(here, pivot / (pivot + dist)).otherwise(0.0)
        pred = pred | here
    return pred, score


def _search_compound(c: dict, sc: _SearchColumns):
    groups = {k: [_search_expr(s, sc) for s in c["groups"][k]]
              for k in _SEARCH_GROUPS}
    pred = F.lit(True)
    for p, _ in groups["must"] + groups["filter"]:
        pred = pred & p
    for p, _ in groups["mustNot"]:
        pred = pred & ~F.coalesce(p, F.lit(False))
    if groups["should"] and c["msm"]:
        matched = sum((F.coalesce(p, F.lit(False)).cast("int")
                       for p, _ in groups["should"]), F.lit(0))
        pred = pred & (matched >= c["msm"])
    score = F.lit(0.0)
    for _, s in groups["must"]:
        score = score + s
    for p, s in groups["should"]:
        score = score + F.when(F.coalesce(p, F.lit(False)), s).otherwise(0.0)
    return pred, score


_SEARCH_BUILDERS = {
    "text": _search_text, "phrase": _search_phrase,
    "equals": _search_field, "range": _search_field,
    "exists": _search_field, "in": _search_field,
    "wildcard": _search_pattern, "regex": _search_pattern,
    "autocomplete": _search_autocomplete, "near": _search_near,
    "compound": _search_compound}


def _search_expr(c: dict, sc: _SearchColumns):
    """(predicate, score) of a planned clause. Builders that return no
    score are non-scoring: Atlas's constant score 1 / 0."""
    pred, score = _SEARCH_BUILDERS[c["op"]](c, sc)
    if score is None:
        return pred, F.when(
            pred, _score_opt(F.lit(1.0), c["score"])).otherwise(0.0)
    return pred, _score_opt(score, c["score"])


def _compile_search(df: DataFrame, spec: dict):
    """Shared $search/$searchMeta compiler: returns (base, predicate,
    score, helpers) — `base` is `df` with the helper columns added
    (_SearchColumns), `helpers` their names, for the caller to drop
    after the filter/score projection. Plan (_search_plan, no Spark),
    then the one stats action (_search_stats), then the clause tree
    through the _SEARCH_BUILDERS table."""
    plan = _search_plan(spec)
    sc = _SearchColumns(df, plan, _search_stats(df, plan))
    pred, score = _search_expr(sc.plan["root"], sc)
    base = df
    for cols in (sc.base, sc.tfs):
        if cols:
            base = base.withColumns(cols)
    return base, pred, score, [*sc.base, *sc.tfs]


def _search(df: DataFrame, spec: dict) -> DataFrame:
    """$search: filter to matching docs, rank by relevance score
    descending (Mongo returns $search results score-ordered). The
    declared global sort folds into TakeOrderedAndProject whenever a
    $limit follows — the common Atlas idiom and the 100 TB plan; an
    unlimited ranked scan is what the user asked for otherwise. The
    score surfaces via {"$meta": "searchScore"} and the internal
    column is dropped at pipeline end unless projected. An Atlas
    `sort` option replaces the score ordering with a field sort
    (score ties broken Atlas-style is index-internal; here the field
    sort is total if the caller makes it so)."""
    base, pred, score, helpers = _compile_search(df, spec)
    out = (base.filter(pred).withColumn("__search_score", score)
           .drop(*helpers))
    sort = spec.get("sort") if isinstance(spec, dict) else None
    if sort:
        order = [F.col(k).asc() if d > 0 else F.col(k).desc()
                 for k, d in sort.items()]
        return out.orderBy(*order)
    return out.orderBy(F.col("__search_score").desc())


def _facet_buckets(counts: DataFrame, order: Column,
                   name: str) -> DataFrame:
    """A facet's one-row `name` column: its (_id, count) rows collected
    into one array of {_id, count} structs, sorted by `order` (a
    leading struct field, dropped after the sort)."""
    item = F.struct(order, F.col("_id").alias("_id"),
                    F.col("count").alias("count"))
    return counts.agg(F.transform(
        F.sort_array(F.collect_list(item)),
        lambda s: F.struct(s["_id"].alias("_id"),
                           s["count"].alias("count"))).alias(name))


def _search_meta(df: DataFrame, spec: dict) -> DataFrame:
    """$searchMeta: search metadata without materializing results.

    Count form: a single aggregate row {count: {lowerBound, total}}
    (both exact here: a columnar count IS exact, Atlas's lowerBound
    distinction is an index-internals artifact).

    Facet form ({"facet": {"operator": ..., "facets": {...}}}):
    string facets group-count the path and keep the top `numBuckets`
    (default 10) by count desc, _id asc — a bounded collect; number
    facets bucket by the `boundaries` ladder (+ optional `default`)
    in boundary order. Facet bucket ids are STRINGS (a columnar
    struct cannot mix the number boundaries with a string default
    bucket id). Each facet is one groupBy; single-row results
    crossJoin together — the same shape as $facet. Date facets and
    Atlas's 1000-bucket cap beyond numBuckets are unsupported
    (raise)."""
    if isinstance(spec, dict) and set(spec) - {"index"} == {"facet"}:
        fs = dict(spec["facet"])
        unknown = set(fs) - {"operator", "facets"}
        if unknown:
            raise ValueError(
                f"$searchMeta facet options {sorted(unknown)}")
        if fs.get("operator"):
            base, pred, _sc, helpers = _compile_search(df, fs["operator"])
            base = base.filter(pred).drop(*helpers)
        else:
            base = df.filter(F.lit(True))
        out = base.agg(F.count(F.lit(1)).alias("__total"))
        facet_cols = []
        for name, fd in fs["facets"].items():
            ftype, path = fd.get("type"), fd["path"]
            if ftype == "string":
                nb = int(fd.get("numBuckets", 10))
                counts = (base.groupBy(
                    F.col(path).cast("string").alias("_id"))
                    .agg(F.count(F.lit(1)).alias("count"))
                    .orderBy(F.col("count").desc(), F.col("_id").asc())
                    .limit(nb))
                one = _facet_buckets(
                    counts, (-F.col("count")).alias("__neg"), name)
            elif ftype == "number":
                bounds = list(fd["boundaries"])
                if sorted(bounds) != bounds or len(bounds) < 2:
                    raise ValueError(
                        f"facet {name!r}: boundaries must be an "
                        "ascending list of >= 2 values")
                col = F.col(path)
                bucket = None
                for lo, hi in zip(bounds, bounds[1:]):
                    cond = (col >= F.lit(lo)) & (col < F.lit(hi))
                    lbl = F.lit(str(lo))
                    bucket = (F.when(cond, lbl) if bucket is None
                              else bucket.when(cond, lbl))
                if "default" in fd:
                    bucket = bucket.otherwise(F.lit(str(fd["default"])))
                order = {str(lo): i for i, lo in enumerate(bounds[:-1])}
                order[str(fd.get("default"))] = len(bounds)
                counts = (base.withColumn("__fb", bucket)
                          .filter(F.col("__fb").isNotNull())
                          .groupBy(F.col("__fb").alias("_id"))
                          .agg(F.count(F.lit(1)).alias("count")))
                pos = None
                for lbl, i in order.items():
                    pos = (F.when(F.col("_id") == lbl, F.lit(i))
                           if pos is None
                           else pos.when(F.col("_id") == lbl, F.lit(i)))
                one = _facet_buckets(counts, pos.alias("__pos"), name)
            else:
                raise ValueError(
                    f"facet {name!r}: type must be string|number, "
                    f"got {ftype!r}")
            out = out.crossJoin(one)
            facet_cols.append(name)
        return out.select(
            F.struct(F.col("__total").alias("lowerBound"),
                     F.col("__total").alias("total")).alias("count"),
            F.struct(*[
                F.struct(F.coalesce(
                    F.col(n),
                    F.array().cast(
                        "array<struct<_id:string,count:bigint>>"))
                    .alias("buckets")).alias(n)
                for n in facet_cols]).alias("facet"))
    base, pred, _sc, _helpers = _compile_search(df, spec)
    cnt = F.count(F.lit(1))
    return base.filter(pred).agg(
        F.struct(F.struct(cnt.alias("lowerBound"),
                          cnt.alias("total")).alias("count")).alias("meta")
    ).select(F.col("meta.count").alias("count"))


def _graph_lookup(df: DataFrame, spec: dict,
                  stores: Optional[dict]) -> DataFrame:
    """$graphLookup: bounded-depth BFS over the `from` collection.

    Node identity is the `connectToField` value (the usual org-chart /
    graph-table shape; Mongo uses _id identity, which a set-based
    engine has no access to — DEVIATIONS.md §14). Each BFS round is one
    equi-join on the node id with lineage truncation; `maxDepth` bounds
    the rounds (default 20 — Mongo's unbounded default would be an
    unbounded iterative job at 100 TB, so the bound is explicit here).
    """
    frm = spec["from"]
    if isinstance(frm, str):
        frm = _resolve_store(frm, stores)
    fdf = frm if isinstance(frm, DataFrame) else frm.df
    ct, cf, as_name = (spec["connectToField"], spec["connectFromField"],
                       spec["as"])
    max_depth = int(spec.get("maxDepth", 20))
    depth_field = spec.get("depthField")

    # pin the row ids: monotonically_increasing_id is nondeterministic
    # across re-evaluations (partition layout can shift between the BFS
    # rounds and the final join-back), so materialize src ONCE — the
    # checkpointed ids are what every BFS frame and the final join see
    src = df.withColumn(
        "__gl_id", F.monotonically_increasing_id()).localCheckpoint(
        eager=True)
    nodes = fdf.select(F.col(ct).alias("__node"),
                       F.col(cf).alias("__next")).distinct()
    frontier = src.select(
        "__gl_id", _value(df, spec["startWith"]).alias("__node")).distinct()
    reached = None
    live: list = []  # previous round's checkpoint handles
    # ONE driver action per BFS round (round-13, guide §5): both
    # round checkpoints are LAZY, and the emptiness probe is a FULL
    # count of the frontier — the one action that materializes the
    # frontier blocks deterministically (limit(1) would early-exit
    # and leave later partitions to compute under a different job)
    # and, through the anti-join's read of `reached`, the reached
    # blocks too. The eager form paid three driver actions per round
    # (two checkpoint jobs + the probe), each with a fixed job floor.
    for depth in range(max_depth + 1):
        step = frontier.join(nodes, on="__node")
        found = (step.select("__gl_id", "__node")
                 .withColumn("__depth", F.lit(depth)))
        reached = found if reached is None else reached.unionByName(found)
        reached = reached.localCheckpoint(eager=False)
        frontier = (step.select("__gl_id",
                                F.col("__next").alias("__node"))
                    .distinct()
                    .join(reached.select("__gl_id", "__node"),
                          on=["__gl_id", "__node"], how="left_anti")
                    .localCheckpoint(eager=False))
        n_frontier = frontier.count()
        # both this round's frames are materialized by the count —
        # the previous round's checkpoint blocks are unreachable;
        # free them for real (graph._free_blocks) so BFS storage
        # doesn't grow with depth
        from maggma_spark.operators.graph import _free_blocks

        for h in live:
            _free_blocks(h)
        live = [reached, frontier]
        if n_frontier == 0:
            break
    reached = (reached.groupBy("__gl_id", "__node")
               .agg(F.min("__depth").alias("__depth")))
    docs = reached.join(fdf, reached["__node"] == fdf[ct])
    member = F.struct(*fdf.columns, *(
        [F.col("__depth").alias(depth_field)] if depth_field else []))
    arrays = (docs.groupBy("__gl_id")
              .agg(F.collect_list(member).alias(as_name)))
    joined = src.join(arrays, on="__gl_id", how="left")
    elem_t = dict(zip(joined.columns,
                      (f.dataType for f in joined.schema.fields)))[as_name]
    return (joined.withColumn(
        as_name, F.coalesce(F.col(as_name),
                            F.array().cast(elem_t.simpleString())))
        .drop("__gl_id"))


# Mongo $setWindowFields range-`unit` offsets in milliseconds; the
# calendar units (year/quarter/month) have no fixed width and raise
_RANGE_UNIT_MS = {"millisecond": 1, "second": 1000, "minute": 60_000,
                  "hour": 3_600_000, "day": 86_400_000,
                  "week": 7 * 86_400_000}


def _unit_ms(unit, what: str = "range unit"):
    """Width in ms of a Mongo window `unit`, None when there is none."""
    if unit is None:
        return None
    if unit not in _RANGE_UNIT_MS:
        raise ValueError(f"{what} {unit!r} has no fixed width "
                         "(supported: millisecond..week)")
    return _RANGE_UNIT_MS[unit]


def _window_bounds(bounds) -> list:
    """A window doc's [lo, hi] bounds. Booleans raise: Python counts
    True as the int 1, and Mongo rejects non-numeric bounds."""
    if any(isinstance(b, bool) or not isinstance(b, (int, float))
           and b not in ("unbounded", "current") for b in bounds):
        raise ValueError("window bounds must be numbers, 'unbounded' or "
                         f"'current', got {list(bounds)}")
    return list(bounds)


def _finite_bounds(bounds, documents: bool):
    """(lo, hi) of a finite window frame, else None (an unbounded end or
    a non-numeric bound). Documents frames take integer row offsets with
    "current" as 0; range frames take int/float offsets and keep a
    "current" end symbolic."""
    lo, hi = _window_bounds(bounds)
    if documents:
        lo, hi = (0 if b == "current" else b for b in (lo, hi))
    num = int if documents else (int, float)
    return (lo, hi) if isinstance(lo, num) and isinstance(hi, num) else None


def _sort_axis(sort: dict, what: str) -> str:
    """The single ascending sortBy field `what` orders on — Mongo's rule
    for range windows and the time axis of $derivative/$integral/
    $linearFill (rangeBetween offsets would silently flip meaning under
    a descending order)."""
    if not sort or len(sort) != 1:
        raise ValueError(f"{what} requires exactly one sortBy field")
    (field, direction), = sort.items()
    if direction <= 0:
        raise ValueError(f"{what} requires an ascending sortBy")
    return field


def _epoch_ms(field: str) -> Column:
    """A timestamp sortBy field as exact integer epoch milliseconds (a
    double epoch loses sub-ms bits at 2024-era magnitudes and shifts
    range boundaries by 1 ms)."""
    return F.unix_millis(F.col(field).cast("timestamp"))


def _time_axis(field: str, ms) -> Column:
    """A sortBy field as a numeric axis: exact epoch-ms scaled to `ms`
    (a unit's width) for timestamps, the raw value without a unit."""
    if ms:
        return _epoch_ms(field).cast("double") / F.lit(ms)
    return F.col(field).cast("double")


def _cov_pair(df: DataFrame, a, b) -> Column:
    """$covariance* input as an (x, y) struct, null unless BOTH sides are
    non-null, so counts and partials match covar_* skip semantics."""
    xa = _value(df, a).cast("double")
    xb = _value(df, b).cast("double")
    return F.when(xa.isNotNull() & xb.isNotNull(),
                  F.struct(xa.alias("x"), xb.alias("y")))


def _window_agg(op: str, v: Column) -> Column:
    """A window accumulator's aggregate; $covariance* reads the pair."""
    if op == "$covariancePop":
        return F.covar_pop(v["x"], v["y"])
    if op == "$covarianceSamp":
        return F.covar_samp(v["x"], v["y"])
    return _ACCUMULATORS[op](v)


def _ema_alpha(arg) -> float:
    """$expMovingAvg smoothing factor from `alpha` or `N` (2 / (N+1))."""
    a = arg if isinstance(arg, dict) else {}
    if "alpha" in a:
        alpha = float(a["alpha"])
    elif "N" in a:
        alpha = 2.0 / (float(a["N"]) + 1.0)
    else:
        raise ValueError("$expMovingAvg needs alpha or N")
    if not 0 < alpha < 1:
        raise ValueError("$expMovingAvg alpha must be in (0, 1)")
    return alpha


def _order_cols(sort: dict) -> list:
    return [F.col(k).asc() if v > 0 else F.col(k).desc()
            for k, v in sort.items()]


def _min_rows_per_range(spark) -> int:
    """Target minimum rows per scaffold range (round-9): every
    per-range stage schedules one task per range, so at small data
    fewer/wider ranges beat the default shuffle-partition count —
    measured 25-35% off the global-window bench rows at sf0.1. Large
    inputs hit the shuffle-partition cap and keep full parallelism.
    Conf: spark.maggma.globalWindow.minRowsPerRange (0 disables)."""
    return int(spark.conf.get(
        "spark.maggma.globalWindow.minRowsPerRange", "20000"))


def _global_scaffold(df: DataFrame, sort: dict, bs: list = None):
    """Shared scale shape for UNPARTITIONED global-order windows: the
    naive compile is a single-task sort of the whole dataset
    (Exchange SinglePartition + Window), a non-starter at 100 TB.
    Instead: stamp a DETERMINISTIC range id on the first sort key
    (boundaries computed once and baked in as literals — see
    functions/partitioning.py for why spark_partition_id over
    repartitionByRange silently mis-stitches carries across jobs),
    window per range id, and let callers fold a one-row-per-range
    boundary aggregate driver-side and broadcast it back. Equal sort
    keys always share a range id, which the rank offsets and carry
    folds rely on. The only driver materialization is the boundary
    scalars plus N carry rows, so the plan is identical at sf0.01 and
    at 100 TB."""
    from pyspark.sql import Window

    from maggma_spark.functions.partitioning import (
        range_boundaries,
        range_pid,
    )

    n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    (first_key, first_dir), = list(sort.items())[:1] or [(None, 1)]
    total = None
    if bs is None:
        # callers running SEVERAL passes over one sortBy (fills +
        # shifts + the scaffold pass of a single $setWindowFields)
        # precompute the boundaries once — the split values depend
        # only on the sort field, and each pass re-running this
        # percentile action over ever-heavier lineage was ~1/3 of the
        # multi-pass build cost at bench SF (SCALE.md round-9).
        # The probe's row count rides along (round-13): callers use
        # it to bound join-back broadcasts without a second action.
        bs, total = range_boundaries(
            df, first_key, n,
            min_rows_per_range=_min_rows_per_range(df.sparkSession),
            with_total=True)
    ranged = df.withColumn(
        "__gw_pid", range_pid(df, first_key, bs,
                              descending=first_dir < 0))
    wloc = Window.partitionBy("__gw_pid").orderBy(*_order_cols(sort))
    ranged = ranged.withColumn("__gw_rn", F.row_number().over(wloc))
    return ranged, wloc, bs, total


def _carry_df(spark, rows: list[dict], fields: list):
    """Broadcast-able carry frame (__gw_pid + per-partition carry
    scalars); `fields` are (name, DataType) pairs."""
    from pyspark.sql.types import IntegerType, StructField, StructType

    schema = StructType(
        [StructField("__gw_pid", IntegerType(), False)]
        + [StructField(nm, dt, True) for nm, dt in fields])
    return F.broadcast(spark.createDataFrame(
        [tuple(r[f] for f in ["__gw_pid"] + [nm for nm, _ in fields])
         for r in rows], schema))


# max copies of a row the finite-range replication path may fan out
# to neighboring ranges: the factor is ~ frame_width / range_span, so
# past this the frame is too wide for the current range count — raise
# and ask for partitionBy (or fewer, wider ranges) instead of silently
# multiplying the shuffle volume
MAX_RANGE_REPLICATION = 32

# one kernel task of the global running-percentile selection holds one
# value-bucket's (g, v) element pairs (~16 B each in Arrow) — 50M
# elements ~= 800 MB, past which the job should have been decomposed
MAX_PCTL_BUCKET_ELEMENTS = 50_000_000

# a global $shift folds |by| edge rows per scaffold range driver-side;
# a frame-sized shift belongs under partitionBy, not in a broadcast
MAX_SHIFT_CARRY = 1024

# logical-plan markers that make re-executing the upstream lineage per
# driver action expensive: shuffles (Join/Aggregate/Deduplicate/
# Expand), per-range windows, lateral generators, and Python stages.
# A plan with none of these is scan/filter/project, where a re-scan
# with pushdown is cheaper than writing a full checkpoint.
_HEAVY_PLAN_MARKERS = ("Join", "Aggregate", "Window", "Generate",
                       "InPandas", "CoGroup", "Expand", "Deduplicate",
                       "InPython")


def _maybe_checkpoint_global_input(df: DataFrame) -> DataFrame:
    """Materialize the input of an unpartitioned global-order pass ONCE
    when its lineage is non-trivial. The scaffold family (_swf_global /
    _fill_global / _shift_global) runs 2-5 driver actions each (range
    boundaries, boundary/carry aggregates, slim checkpoints), and each
    action re-analyzes and re-executes the full upstream plan — in a
    multi-stage $setWindowFields pipeline the later stage's actions
    re-ran the earlier stage's windows and joins 3-5x (round-8: ~95% of
    swf_global_frames_suite's 11 s bench cost was exactly this, SCALE.md
    round-9). One localCheckpoint turns those re-executions into
    in-memory block reads. LAZY (eager=False, round-10): the scaffold's
    own first action (the range-boundary percentile) materializes the
    blocks as a side effect, so the checkpoint costs zero dedicated
    driver actions — the measured ~1 s/action fixed floor (Python
    worker startup + codegen per job) was the single biggest bench
    line item of the global-window family.

    `spark.maggma.globalWindow.checkpoint`: `auto` (default) checkpoints
    only when the optimized plan contains a shuffle/window/Python stage
    — a bare scan+filter+project re-executes cheaper than it writes, and
    an already-checkpointed frame (LogicalRDD) is skipped by the same
    test; `always` / `never` override both directions. `never` is the
    escape hatch for clusters where executor churn makes localCheckpoint
    blocks (non-reconstructible lineage) too risky to hold."""
    mode = df.sparkSession.conf.get(
        "spark.maggma.globalWindow.checkpoint", "auto")
    if mode == "never":
        return df
    if mode != "always":
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        if not any(m in plan for m in _HEAVY_PLAN_MARKERS):
            return df
    return df.localCheckpoint(eager=False)

# Window accumulators whose finite-frame value decomposes through
# subtractable cumulative moments (sum/count/sum-of-squares/
# cross-moment). $min/$max/$percentile are NOT here: min has no
# inverse, percentile no partial.
_INVERTIBLE_WINDOW_OPS = {"$sum", "$avg", "$stdDevPop", "$stdDevSamp",
                          "$covariancePop", "$covarianceSamp"}


def _agg_type(df: DataFrame, col: Column):
    """Resolved data type of an expression against df (analysis only,
    nothing executes) — used to pin the differenced finite-frame
    result to the exact type the direct sliding aggregate would have
    had (decimal sums widen by 1 digit under subtraction)."""
    return df.select(col.alias("__t")).schema[0].dataType


def _cum_diff(g_hi, g_lo):
    """cum(fn, expr) as the difference of two growing frames: fn over
    (.., hi] minus fn over (.., lo-1]."""
    def cum(fn, expr):
        z = F.lit(0)
        return (F.coalesce(fn(expr).over(g_hi), z)
                - F.coalesce(fn(expr).over(g_lo), z))
    return cum


def _growing_cum_rows(ordered, lo: int, hi: int):
    """Finite ROWS frame [lo, hi] as the difference of two GROWING
    frames: cum(ub, hi) - cum(ub, lo-1). Spark evaluates a growing
    frame (UnboundedPrecedingWindowFunctionFrame) in O(1) amortized
    per row — rows are only ever ADDED to the buffer — while the
    direct sliding compile (SlidingWindowFunctionFrame) re-aggregates
    the whole buffer every time the lower bound moves: O(width)/row,
    the measured 38-89 s at 10M rows / W=1000 in SCALE.md round-7.
    Both cumulatives share one (partition, order) spec, so they run
    in ONE WindowExec over one sort — tied-key traversal is
    identical for both terms and the difference is exact."""
    from pyspark.sql import Window

    return _cum_diff(ordered.rowsBetween(Window.unboundedPreceding, hi),
                     ordered.rowsBetween(Window.unboundedPreceding, lo - 1))


def _growing_cum_axis(wpart, axis: Column, lo: int, hi: int):
    """Finite frame [lo, hi] over a UNIQUE non-null integer axis
    (the global scaffold's row number): same two-growing-frames
    difference as _growing_cum_rows, expressed as range frames on
    the axis so it works on the replicated-destination partitions."""
    from pyspark.sql import Window

    asc = wpart.orderBy(axis.asc())
    return _cum_diff(asc.rangeBetween(Window.unboundedPreceding, hi),
                     asc.rangeBetween(Window.unboundedPreceding, lo - 1))


def _growing_cum_range(wpart, axis: Column, alo: int, ahi: int):
    """Finite VALUE-RANGE frame [alo, ahi] on a continuous axis via
    three inclusion-exclusion terms, all O(1)-amortized per row:

        frame(x) = {y : x+alo <= y <= x+ahi}
                 = cum_asc(y <= x+ahi) + cum_desc(y >= x+alo) - total

    (every value is <= x+ahi or >= x+alo since alo <= ahi, so the
    union is the whole partition and the overlap is exactly the
    frame). cum_desc is a growing frame over the DESCENDING axis —
    a continuous axis has no "alo - 1" exclusive bound, hence the
    complement form instead of _growing_cum_rows' two-term one.
    Null-axis rows (Mongo sorts them together; a range frame over
    them is their null-peer group) are masked out of the three
    difference terms and answered from a null-peer aggregate carried
    on the whole-partition frame, so null ordering conventions never
    leak into the arithmetic. Costs two sorts of the partition
    (asc + desc) instead of one — still O(n log n), vs O(n*width)."""
    from pyspark.sql import Window

    asc = wpart.orderBy(axis.asc_nulls_first())
    g_hi = asc.rangeBetween(Window.unboundedPreceding, ahi)
    # descending order: Spark's range offset is SUBTRACTED from the
    # current value, so bound -alo means "values >= x + alo"
    g_lo = (wpart.orderBy(axis.desc_nulls_last())
            .rangeBetween(Window.unboundedPreceding, -alo))
    tot = asc.rowsBetween(Window.unboundedPreceding,
                          Window.unboundedFollowing)

    def cum(fn, expr):
        nn = F.when(axis.isNotNull(), expr)
        z = F.lit(0)
        diff = (F.coalesce(fn(nn).over(g_hi), z)
                + F.coalesce(fn(nn).over(g_lo), z)
                - F.coalesce(fn(nn).over(tot), z))
        npeer = F.coalesce(
            fn(F.when(axis.isNull(), expr)).over(tot), z)
        return F.when(axis.isNull(), npeer).otherwise(diff)
    return cum


def _moment_combine(op: str, n: Column, s: Column, q: Column = None,
                    y: Column = None) -> Column:
    """A window accumulator from its moments: n = count, s = Σv (Σx for
    $covariance*), q = Σv² (Σxy), y = Σy. Each caller builds its own
    moment expressions (growing-frame cumulatives, running carries);
    the recombination carries the ~log10(mean^2/var)-digit cancellation
    caveat of any sum-of-squares variance."""
    if op == "$sum":
        return s
    if op == "$avg":
        return F.when(n > 0, s / n)
    if op == "$stdDevPop":
        return F.sqrt(F.when(n > 0, F.greatest(
            q / n - (s / n) * (s / n), F.lit(0.0))))
    if op == "$stdDevSamp":
        return F.sqrt(F.when(n > 1, F.greatest(
            (q - s * s / n) / (n - 1), F.lit(0.0))))
    if op == "$covariancePop":
        return F.when(n > 0, q / n - (s / n) * (y / n))
    return F.when(n > 1, (q - s * y / n) / (n - 1))


def _frame_from_cum(op: str, v: Column, cum) -> Column:
    """Express an invertible window accumulator through `cum(fn,
    expr)` — the frame-restricted aggregate built from growing-frame
    cumulatives. For $covariance* `v` is the pair struct (x, y) of
    _cov_pair."""
    if op == "$sum":
        return cum(F.sum, v)
    if op == "$avg":
        return _moment_combine(op, cum(F.count, v),
                               cum(F.sum, v.cast("double")))
    if op in ("$stdDevPop", "$stdDevSamp"):
        vd = v.cast("double")
        return _moment_combine(op, cum(F.count, vd).cast("double"),
                               cum(F.sum, vd), cum(F.sum, vd * vd))
    return _moment_combine(op, cum(F.count, v).cast("double"),
                           cum(F.sum, v["x"]), cum(F.sum, v["x"] * v["y"]),
                           cum(F.sum, v["y"]))


def _dlit(x) -> str:
    """SQL double literal for parsed F.expr strings: CAST('repr' AS
    DOUBLE) round-trips bit-exact, a bare decimal literal may not."""
    return f"CAST('{float(x)!r}' AS DOUBLE)"


def _pctl_bucket_count(total_rows: int, approx: bool,
                       requested: int = 0) -> int:
    """Value-bucket count V of the global running-percentile paths,
    capped at 64. Exact: floored by DATA MASS only, >= ~10k elements
    per bucket (round-13, r12 verdict next #2 — the former
    shuffle.partitions term collapsed V to 8 on an 8-core session and
    the selection kernel's per-bucket O((n/V + q/S) log^2(n/V)) work
    blew up super-linearly: window_median_percentile 91.4 s @8 cores
    vs 2.2 s @32, BENCH_r12_c8; exact results are V-independent).
    Approximate: the answer interpolates within one bucket, so rank
    error is bounded by the largest bucket's mass (~n/V x sketch
    skew) — ~1k rows per bucket by default, or `requested`
    (spark.maggma.windowPctl.approxBuckets). The 64 cap is hard: the
    V-term cumulative projection crossed janino's 64 KB method limit
    past ~64 and ran interpreted (12 s -> 43 s at 4M rows going
    64 -> 128, round-9)."""
    if not approx:
        return max(2, min(64, total_rows // 10_000 + 2))
    return max(2, min(64, requested or total_rows // 1024 + 2))


def _approx_buckets(spark) -> int:
    """The one reader of spark.maggma.windowPctl.approxBuckets: the
    approximate paths' requested value-bucket count, 0 when unset (the
    global paths then size by _pctl_bucket_count, the partitioned one
    takes 32)."""
    return int(spark.conf.get("spark.maggma.windowPctl.approxBuckets", "0"))


def _equi_depth_splits(sketch: list, V: int) -> list:
    """<= V-1 ascending, de-duplicated bucket splits thinned from a
    sorted value sketch (equi-depth up to the sketch's own error)."""
    if not sketch:
        return []
    return sorted({sketch[(len(sketch) * i) // V] for i in range(1, V)})


def _cum_bucket_offsets(counts, dir_: str):
    """Per-range incoming offsets of the running-percentile kernels
    from a (ranges x buckets) count matrix in range order: cumulative
    along the bucket axis, then exclusive-cumulative along the range
    axis — 'fwd' accumulates EARLIER ranges, 'bwd' LATER ones."""
    sc = counts.cumsum(axis=1)
    if dir_ == "fwd":
        return sc.cumsum(axis=0) - sc
    return sc[::-1].cumsum(axis=0)[::-1] - sc


# group-chunk size for the percentile kernels' cumulative traversal:
# bounds every per-chunk matrix to CHUNK x V (64k x 64 x 8 B = 32 MB)
# regardless of how many rows one scaffold range holds — see
# _pctl_group_traversal
_PCTL_KERNEL_CHUNK_GROUPS = 65_536


def _pctl_group_traversal(g, ax, mode: str, dir_: str, axn=None):
    """Frame traversal for the global running-percentile kernels:
    returns (order, gid, starts) where `order` sorts the rows into
    the (possibly mirrored) axis traversal, `gid` is the per-SORTED-
    row key-tie group index and `starts` the first sorted index of
    each group (int64, len = #groups).

    Null sort keys form their OWN peer group via an explicit null
    flag as the primary sort key — nulls first on the ascending
    range axis, nulls last on the mirrored one, exactly SQL's
    'asc nulls first' / 'desc nulls last' (round-11; the former
    -inf/+inf SENTINELS merged a genuine IEEE infinity axis value into
    the null peer group, silently diverging from SQL window semantics
    on data containing infinite sort keys — r10 ADVICE).
    `axn` is the Spark-side is-null mask for the axis (round-12, r11
    ADVICE): the Arrow transfer erases nullity (double + null ->
    float64 NaN), so without it a genuine IEEE NaN sort key is
    indistinguishable from SQL NULL — but Spark's ordering puts NaN
    in its own peer group AFTER +inf (asc) / FIRST on the mirrored
    axis, not with the nulls. With the mask, NaN keys get their own
    flag level matching Spark's ordering; axn=None keeps the legacy
    NaN==null reading for callers that cannot supply a mask.
    rows-mode frames traverse the unique global row number, so every
    tie group degenerates to one row.

    The group decomposition is also the kernels' memory guard (r10
    ADVICE, medium): equal sort keys always share a scaffold range,
    so a heavily-tied sortBy can collapse millions of rows into ONE
    cogroup task — the former whole-range (rows x V) one-hot + cumsum
    materialization was O(range mass x buckets) and could OOM the
    Python worker. The kernels now walk `starts` in
    _PCTL_KERNEL_CHUNK_GROUPS-group chunks (per-chunk histograms via
    bincount + a carried running base vector), so peak memory is
    O(CHUNK x V + rows) however skewed the key distribution — and in
    the heavy-tie case the per-group arithmetic collapses the compute
    from O(rows x V) to O(groups x V)."""
    import numpy as np

    n = len(g)
    if mode == "rows":
        order = np.argsort(g if dir_ == "fwd" else -g, kind="stable")
        gid = np.arange(n, dtype=np.int64)
        return order, gid, gid
    nanv = np.isnan(ax)
    isn = nanv if axn is None else np.asarray(axn, dtype=bool)
    nank = nanv & ~isn              # genuine IEEE NaN sort keys
    filled = np.where(nanv, 0.0, ax)
    if dir_ == "fwd":
        # asc nulls first: [nulls, -inf..+inf, NaN] — Spark orders
        # NaN greater than +inf, and NaN keys tie each other
        flag = np.where(isn, 0, np.where(nank, 2, 1)).astype(np.int8)
        order = np.lexsort((g, filled, flag))
    else:
        # desc nulls last mirrored: [NaN, +inf..-inf, nulls]
        flag = np.where(nank, 0, np.where(isn, 2, 1)).astype(np.int8)
        order = np.lexsort((g, -filled, flag))
    fs = flag[order]
    ks = filled[order]
    new = np.empty(n, dtype=bool)
    if n:
        new[0] = True
        # same group <=> same flag AND same (filled) key: all nulls —
        # and separately all NaNs — share filled 0.0 within their own
        # flag level, and a real 0.0 key differs from both by flag
        new[1:] = (fs[1:] != fs[:-1]) | (ks[1:] != ks[:-1])
    gid = np.cumsum(new, dtype=np.int64) - 1
    starts = np.flatnonzero(new).astype(np.int64)
    return order, gid, starts


def _bucket_index(col_sql: str, splits: list) -> Column:
    """Integer value-bucket index of a double SQL expression against
    ascending `splits` (number of splits it exceeds; null stays null)
    — one parsed comparison ladder, literals bit-exact via _dlit."""
    ladder = " + ".join(
        f"cast({col_sql} > {_dlit(x)} as int)" for x in splits) or "0"
    return F.expr(f"case when {col_sql} is not null then {ladder} end")


def _check_bucket_mass(totals) -> None:
    """Task-OOM guard of the EXACT running-percentile path (house
    style: raise, never truncate): one selection-kernel group holds
    one value-bucket's elements; past ~64 x the cap a GLOBAL running
    percentile needs a hierarchical second bucketing level this
    operator does not implement."""
    biggest = int(totals.max(initial=0))
    if biggest > MAX_PCTL_BUCKET_ELEMENTS:
        raise ValueError(
            f"unpartitioned running $median/$percentile: a "
            f"value bucket holds {biggest} elements (> "
            f"MAX_PCTL_BUCKET_ELEMENTS="
            f"{MAX_PCTL_BUCKET_ELEMENTS}); the selection "
            "kernel materializes one bucket per task. Add "
            "partitionBy, or pre-aggregate the value domain.")


def _offsets_schema(nv: int) -> str:
    return "__gw_pid int, " + ", ".join(
        f"__pq_off{vi} array<bigint>" for vi in range(nv))


def _local_offsets(spark, hists: list, nb: list, vdir: list,
                   guard: bool) -> DataFrame:
    """Per-range cumulative bucket offsets from histograms that rode
    the caller's boundary aggregate (round-12; `hists[vi]` = [(pid,
    counts), ...]): folded driver-side and shipped as a zero-job
    LocalRelation — no hist groupBy + coalesce(1) mapInPandas fold on
    the critical path. `guard` applies _check_bucket_mass."""
    import numpy as np

    pids = [int(p) for p, _ in hists[0]]
    offs = []
    for vi, hc in enumerate(hists):
        c = np.asarray([cnts for _, cnts in hc],
                       dtype=np.int64).reshape(len(pids), nb[vi])
        if guard:
            _check_bucket_mass(c.sum(axis=0))
        offs.append(_cum_bucket_offsets(c, vdir[vi]))
    return spark.createDataFrame(
        [tuple([pids[i]] + [[int(x) for x in off[i]] for off in offs])
         for i in range(len(pids))],
        _offsets_schema(len(hists)))


def _folded_offsets(bucketed: DataFrame, nb: list, vdir: list,
                    guard: bool) -> DataFrame:
    """Per-range cumulative bucket offsets computed DISTRIBUTED from
    the `__pq_b{vi}` bucket-index columns (round-9: was a collect +
    driver fold, one extra driver action per pass): groupBy histogram
    -> one single-partition numpy fold. The offset frame is
    O(ranges) rows, so it is scale-safe by construction. `guard`
    applies _check_bucket_mass inside the fold."""
    import pandas as pd

    # one parsed F.expr per bucket count, not ~7 Column-API py4j
    # roundtrips each: at nv x V = 128 columns the Column form cost
    # ~0.5 s of pure driver chatter per compile (round-12)
    hist = bucketed.groupBy("__gw_pid").agg(*[
        F.expr(f"sum(case when __pq_b{vi} = {b} then 1L else 0L end) "
               f"as `__pq_c_{vi}_{b}`")
        for vi in range(len(nb)) for b in range(nb[vi])])
    nb_l, vdir_l = list(nb), list(vdir)

    def fold_offsets(batches):
        # numpy double-cumsum over the O(ranges x buckets) histogram.
        # NOT SQL expressions: the nb overlapping prefix-sum ADD chains
        # sent Catalyst's subexpression-elimination codegen into
        # gigabyte string recursion at nb >= ~33 (measured JVM OOM
        # building the generated source, round-9).
        import numpy as np

        pdfs = [p for p in batches if len(p)]
        if not pdfs:
            return
        pdf = pd.concat(pdfs, ignore_index=True) \
            .sort_values("__gw_pid").reset_index(drop=True)
        out = {"__gw_pid": pdf["__gw_pid"].to_numpy()}
        for vi in range(len(nb_l)):
            c = np.stack([pdf[f"__pq_c_{vi}_{b}"].to_numpy()
                          for b in range(nb_l[vi])], axis=1)
            if guard:
                _check_bucket_mass(c.sum(axis=0))
            out[f"__pq_off{vi}"] = list(
                _cum_bucket_offsets(c, vdir_l[vi]))
        yield pd.DataFrame(out)

    # coalesce, not repartition (round-12): the histogram's own
    # exchange already exists; coalesce(1) folds the final agg +
    # mapInPandas into ONE post-shuffle task instead of paying a
    # second full exchange round just to get a single partition
    return hist.coalesce(1).mapInPandas(fold_offsets,
                                        _offsets_schema(len(nb)))


def _pctl_inputs(specs: list, V: int) -> list:
    """Session-free input plan of the global running-percentile paths:
    one record per shared input — outputs with one argkey share
    buckets, histogram counts and kernel elements — in first-seen
    order. A record holds the value column `src`, frame `mode` (rows |
    range) and `dir`, the value-bucket `splits` (the probe's, else
    thinned from the value sketch to <= V-1), the bucket count `nb`,
    the precomputed bucket-index column `bcol` and per-range histogram
    `hist` of the round-12 probe path (or None), the approximate
    kernel's bucket `edges` (outer edges: the value min/max) and
    `specs`, the (spec index, [p, ...]) pairs it answers."""
    inputs: list = []
    by_key: dict = {}
    for si, sp in enumerate(specs):
        if sp["argkey"] not in by_key:
            by_key[sp["argkey"]] = len(inputs)
            splits = (list(sp["vbs"]) if sp.get("vbs") is not None
                      else _equi_depth_splits(sp.get("sketch"), V))
            lo, hi = sp.get("lo"), sp.get("hi")
            inputs.append({
                "src": f"__gw_v_{sp['out']}", "mode": sp["mode"],
                "dir": sp["dir"], "splits": splits, "nb": len(splits) + 1,
                "bcol": sp.get("bcol"), "hist": sp.get("histcounts"),
                "edges": [lo if lo is not None else 0.0] + splits
                + [hi if hi is not None else 0.0],
                "specs": []})
        inputs[by_key[sp["argkey"]]]["specs"].append(
            (si, [float(p) for p in sp["ps"]]))
    return inputs


def _pctl_kernel_view(inputs: list) -> list:
    """The input fields the pandas kernels read: the per-range
    histograms stay on the driver, out of every task's closure."""
    return [{k: inp[k] for k in ("mode", "dir", "nb", "edges", "specs")}
            for inp in inputs]


def _pctl_offsets(bucketed: DataFrame, inputs: list,
                  exact: bool) -> DataFrame:
    """Per-range CUMULATIVE prefix offsets of the percentile kernels:
    cumulative across BOTH the range axis (fwd accumulates EARLIER
    pids, bwd LATER pids) and the bucket axis. Prior/later pids hold
    strictly smaller/larger keys (the scaffold's range partitioner
    co-locates ties), so the offsets stitch every mode. Folded
    driver-side when every input's histograms rode the boundary
    aggregate (all-or-nothing: the caller attaches them to every spec
    or to none), else distributed over the `__pq_b{vi}` columns of
    `bucketed`. The exact path guards the bucket mass and broadcasts
    the distributed fold."""
    nb = [inp["nb"] for inp in inputs]
    vdir = [inp["dir"] for inp in inputs]
    if inputs and all(inp["hist"] is not None for inp in inputs):
        return _local_offsets(bucketed.sparkSession,
                              [inp["hist"] for inp in inputs], nb, vdir,
                              guard=exact)
    odf = _folded_offsets(bucketed, nb, vdir, guard=exact)
    return F.broadcast(odf) if exact else odf


def _pctl_keys(left, ax: str, any_range: bool) -> tuple:
    """(g, ax, axn) of one kernel group: the global row numbers and, when
    some input has a range frame, the sort axis `ax` as float64 plus
    its Spark-side is-null mask (column `ax` + "n")."""
    import pandas as pd

    g = left["__pq_g"].to_numpy(dtype="int64")
    if not any_range:
        return g, None, None
    return (g, pd.to_numeric(left[ax], errors="coerce")
            .to_numpy(dtype="float64"), left[ax + "n"].to_numpy(dtype=bool))


def _cum_buckets(left, right, vi: int, nb: int, order, gid, starts,
                 chunk: int):
    """The chunked cumulative-bucket traversal of both running-
    percentile kernels, over input `vi` of one scaffold range in the
    _pctl_group_traversal order (order, gid, starts). Yields (g0, g1,
    sl, gl, ce) per chunk of at most `chunk` key-tie groups: sorted-row
    slice `sl`, each row's group index within the chunk `gl`, and `ce`
    (groups x nb), the cumulative bucket counts at the END of each
    group — a row's frame runs to the end of its key-tie group — plus
    the range's incoming offset (`right`, bucket-cumulative already;
    zero for an empty offsets group). Per-chunk bincount histograms and
    a carried base vector keep memory O(chunk x nb + rows)."""
    import numpy as np
    import pandas as pd

    js = pd.to_numeric(left[f"__pq_b{vi}"], errors="coerce") \
        .to_numpy(dtype="float64")[order]
    off = (np.asarray(right[f"__pq_off{vi}"].iloc[0], dtype=np.int64)
           if len(right) else np.zeros(nb, dtype=np.int64))
    valid = ~np.isnan(js)
    jsi = np.where(valid, js, 0).astype(np.int64)
    G = len(starts)
    base = np.zeros(nb, dtype=np.int64)  # raw counts so far
    for g0 in range(0, G, chunk):
        g1 = min(g0 + chunk, G)
        sl = slice(int(starts[g0]), int(starts[g1]) if g1 < G else len(js))
        gl = gid[sl] - g0
        vm = valid[sl]
        H = np.bincount(gl[vm] * nb + jsi[sl][vm],
                        minlength=(g1 - g0) * nb).reshape(g1 - g0, nb)
        Cg = H.cumsum(axis=0) + base
        base = Cg[-1].copy()
        yield g0, g1, sl, gl, Cg.cumsum(axis=1) + off


def _rank_bucket(ce, q) -> tuple:
    """(b, prior): the bucket holding target rank q[k] in row k of the
    NONDECREASING cumulative bucket counts `ce`, clamped to the last
    bucket, and the count of the buckets before it."""
    import numpy as np

    b = np.minimum((ce < q[:, None]).sum(axis=1), ce.shape[1] - 1)
    prior = np.where(b > 0, np.take_along_axis(
        ce, np.maximum(b - 1, 0)[:, None], axis=1)[:, 0], 0)
    return b, prior


# query-chunk fan of the exact selection: elements replicate to ~S/2
# later g-chunks so a query-heavy bucket splits across S tasks instead
# of funneling through one. S=1 was measured SLOWER at bench SF
# (round-10: V x S groups also set the selection stage's parallelism —
# 17 groups left half the cores idle), so the constant stays
_PCTL_QUERY_CHUNKS = 4

_PCTL_QUERY_FIELDS = (("vi", "int32"), ("b", "int32"), ("c", "int32"),
                      ("g", "int64"), ("rank", "int64"), ("qid", "int64"),
                      ("si", "int32"), ("pi", "int32"), ("side", "int32"),
                      ("m", "int64"))
_PCTL_ANSWER_FIELDS = (("qid", "int64"), ("si", "int32"), ("pi", "int32"),
                       ("side", "int32"), ("val", "float64"),
                       ("m", "int64"))
_SPARK_OF_NUMPY = {"int32": "int", "int64": "long", "float64": "double"}


def _pandas_schema(fields: tuple) -> str:
    return ", ".join(f"{n} {_SPARK_OF_NUMPY[t]}" for n, t in fields)


def _empty_frame(fields: tuple):
    import pandas as pd

    return pd.DataFrame({n: pd.Series(dtype=t) for n, t in fields})


def _pctl_route(left, right, inputs: list, total_rows: int, chunk: int):
    """Exact path, per scaffold range (`left`: pid, g, [ax, axn], bucket
    indexes; `right`: the range's offsets): every row's target ranks —
    floor/ceil of p*(m-1), plus one — as (bucket, residual-rank)
    queries for _pctl_select, O(groups x V) in C, emitting only the
    surviving queries (m > 0, hi != lo dedup). `g` of a query is the
    comparison row number the selection sees: g is increasing within
    every tie group, so max g over the frame = g at the tie end and
    min g over the mirrored frame = g at the tie start; reverse inputs
    mirror it (T1 - g)."""
    import numpy as np
    import pandas as pd

    if not len(left):
        return _empty_frame(_PCTL_QUERY_FIELDS)
    g, ax, axn = _pctl_keys(left, "__pq_ax",
                            any(i["mode"] == "range" for i in inputs))
    T1, S = total_rows + 1, _PCTL_QUERY_CHUNKS
    out = []
    for vi, inp in enumerate(inputs):
        order, gid, starts = _pctl_group_traversal(
            g, ax, inp["mode"], inp["dir"], axn)
        gs = g[order]
        for g0, g1, sl, gl, ce in _cum_buckets(
                left, right, vi, inp["nb"], order, gid, starts, chunk):
            m_g = ce[:, -1]
            if inp["mode"] == "rows":
                gc_g = gs[sl] if inp["dir"] == "fwd" else T1 - gs[sl]
            elif inp["dir"] == "fwd":
                gc_g = gs[np.append(starts[g0 + 1:g1] - 1, sl.stop - 1)]
            else:
                gc_g = T1 - gs[starts[g0:g1]]
            c_g = ((gc_g - 1) * S // total_rows).astype("int32")
            for si, ps in inp["specs"]:
                for pi, pv in enumerate(ps):
                    r = pv * (m_g - 1).astype("float64")
                    lo = np.floor(r).astype("int64")
                    hi = np.ceil(r).astype("int64")
                    for side, qarr in ((0, lo + 1), (1, hi + 1)):
                        gm = m_g > 0
                        if side == 1:
                            # hi only differs when p*(m-1) is fractional
                            # — skipping the duplicate halves query
                            # volume (the assembly coalesces hi->lo)
                            gm &= hi != lo
                        if not gm.any():
                            continue
                        qv = qarr[gm]
                        b, prior = _rank_bucket(ce[gm], qv)
                        # group-level results -> per-row queries
                        bf = np.zeros(g1 - g0, dtype=np.int64)
                        bf[gm] = b
                        rk = np.zeros(g1 - g0, dtype=np.int64)
                        rk[gm] = qv - prior
                        rm = gm[gl]
                        gi = gl[rm]
                        out.append(pd.DataFrame({
                            "vi": np.int32(vi),
                            "b": bf[gi].astype("int32"),
                            "c": c_g[gi],
                            "g": gc_g[gi],
                            "rank": rk[gi],
                            "qid": gs[sl][rm],
                            "si": np.int32(si),
                            "pi": np.int32(pi),
                            "side": np.int32(side),
                            "m": m_g[gi]}))
    return (pd.concat(out, ignore_index=True) if out
            else _empty_frame(_PCTL_QUERY_FIELDS))


def _pctl_select(el, qr):
    """Exact path, per (value bucket, g-chunk): vectorized offline prefix
    selection (merge-sort tree over the value order, batched
    wavelet-style descent): answer(q) = the q.rank-th smallest value
    `v` among the elements `el` with g <= q.g. Each level stores, per
    node, the SORTED g's of its left half; a query's left-count is one
    searchsorted. Queries descend all levels in numpy batches —
    per-unique-node searchsorted at shallow levels (few nodes),
    gather+compare at deep levels (blocks <= 32 wide). O((n + q) log^2
    n) in C, ~25x the throughput of the per-query Python Fenwick this
    replaced (SCALE.md round-8)."""
    import numpy as np
    import pandas as pd

    if not len(qr):
        return _empty_frame(_PCTL_ANSWER_FIELDS)
    vals = el["v"].to_numpy()
    n = len(vals)
    order = np.argsort(vals, kind="stable")
    svals = vals[order]
    P = 1 << max(1, (n - 1).bit_length() if n > 1 else 1)
    gpad = np.full(P, np.iinfo(np.int64).max)
    gpad[:n] = el["g"].to_numpy()[order]
    left_sorted = [np.sort(gpad.reshape(-1, P >> lvl)[:, :P >> (lvl + 1)],
                           axis=1)
                   for lvl in range(P.bit_length() - 1)]
    qg = qr["g"].to_numpy()
    rank = qr["rank"].to_numpy().astype(np.int64)
    node = np.zeros(len(qr), dtype=np.int64)
    for ls in left_sorted:
        cnt = np.empty(len(qr), dtype=np.int64)
        if ls.shape[1] <= 32:
            cnt[:] = (ls[node] <= qg[:, None]).sum(axis=1)
        else:
            srt = np.argsort(node, kind="stable")
            uniq, starts = np.unique(node[srt], return_index=True)
            bounds = np.append(starts[1:], len(qr))
            for u, st, en in zip(uniq, starts, bounds):
                idx = srt[st:en]
                cnt[idx] = np.searchsorted(ls[u], qg[idx], side="right")
        goleft = rank <= cnt
        node = node * 2 + np.where(goleft, 0, 1)
        rank = np.where(goleft, rank, rank - cnt)
    return pd.DataFrame({
        "qid": qr["qid"].to_numpy().astype(np.int64),
        "si": qr["si"].to_numpy().astype(np.int32),
        "pi": qr["pi"].to_numpy().astype(np.int32),
        "side": qr["side"].to_numpy().astype(np.int32),
        "val": svals[np.minimum(node, n - 1)],
        "m": qr["m"].to_numpy().astype(np.int64)})


def _pctl_approx(left, right, inputs: list, any_range: bool, chunk: int):
    """Approximate path, per scaffold range: each row's cumulative bucket
    vector (_cum_buckets), the target rank q = p(m-1)+1's bucket
    (_rank_bucket), and linear interpolation within the bucket's value
    edges — one Float64 answer column `__pq_r{si}_{pi}` per (spec, p);
    rows with an empty non-null prefix get null."""
    import numpy as np
    import pandas as pd

    n_rows = len(left)
    g, ax, axn = _pctl_keys(left, "__gw_ax", any_range)
    cols = {"__pq_g": g}
    for vi, inp in enumerate(inputs):
        order, gid, starts = _pctl_group_traversal(
            g, ax, inp["mode"], inp["dir"], axn)
        e = np.asarray(inp["edges"], dtype="float64")
        bufs = {(si, pi): np.empty(n_rows, dtype="float64")
                for si, ps in inp["specs"] for pi in range(len(ps))}
        mrow = np.empty(n_rows, dtype=np.int64)
        for _g0, _g1, sl, gl, ce in _cum_buckets(
                left, right, vi, inp["nb"], order, gid, starts, chunk):
            m = ce[:, -1].astype("float64")
            for si, ps in inp["specs"]:
                for pi, p in enumerate(ps):
                    q = p * (m - 1.0) + 1.0
                    b, prior = _rank_bucket(ce, q)
                    prior = prior.astype("float64")
                    cnt = np.take_along_axis(ce, b[:, None], axis=1)[:, 0] \
                        .astype("float64") - prior
                    frac = np.where(cnt > 0,
                                    (q - prior) / np.maximum(cnt, 1.0), 1.0)
                    vals = e[b] + frac * (e[b + 1] - e[b])
                    bufs[(si, pi)][sl] = vals[gl]
            mrow[sl] = ce[gl, -1]
        inv = np.empty(n_rows, dtype=np.int64)
        inv[order] = np.arange(n_rows)
        empt = mrow[inv] <= 0
        for (si, pi), buf in bufs.items():
            out = pd.array(buf[inv], dtype="Float64")
            out[empt] = pd.NA  # empty non-null prefix -> null
            cols[f"__pq_r{si}_{pi}"] = out
    return pd.DataFrame(cols)


def _global_running_pctl_approx(df: DataFrame, total_rows: int,
                                specs: list, inputs: list) -> DataFrame:
    """Approximate global running $median/$percentile via ONE
    vectorized numpy kernel per scaffold range (round-10, _pctl_approx),
    the single physical form of spark.maggma.windowPctl.method=
    approximate.

    The wide-frame SQL form it replaced spent its time in V cumulative
    window sums + a V-term interpolation ladder per target: at V=64
    the stage blows past whole-stage codegen's field budget and
    janino's method limit and evaluates interpreted — 140-165 s at
    10M rows vs ~36 s for this kernel (SCALE.md round-10), and it lost
    at every probed size after round-11 (5k: 3.1 vs 2.6 s, 100k: 10.7
    vs 5.3, 2M: 13.6 vs 8.2), so it was deleted. Here the slim
    (pid, g, [ax], bucket-index) projection cogroups with the
    per-range offsets; the kernel computes the per-row cumulative
    bucket vector (SIMD, not per-row-per-bucket aggregate updates),
    locates the target rank's bucket vectorized, and interpolates
    within the bucket's value edges — rank error bounded by the
    largest bucket's mass + sketch error.

    A FUSED form (one applyInPandas over the FULL frame grouped by
    range id, offsets riding the __gw_rn == 1 rows, no cogroup and no
    join-back) was built and MEASURED AND REJECTED in round-11: the
    Arrow round-trip of the whole frame through the Python worker
    costs more than the JVM-side join-back shuffle it saves — 50 s vs
    28 s at 10M, 36.8 s vs 20.9 s on the tied-range shape, a wash
    below 200k (SCALE.md round-11). The slim-projection
    cogroup + join-back stays."""
    out_df = df
    for vi, inp in enumerate(inputs):
        out_df = out_df.withColumn(
            f"__pq_b{vi}",
            # the probe path's bucket index is already materialized
            F.col(inp["bcol"]) if inp["bcol"] is not None
            else _bucket_index(f"`{inp['src']}`", inp["splits"]))
    odf = _pctl_offsets(out_df, inputs, exact=False)
    out_df = out_df.withColumn(
        "__pq_g",
        (F.col("__gw_rn") + F.col("__gw_off_rows")).cast("long"))
    any_range = any(inp["mode"] == "range" for inp in inputs)
    bcols = [f"__pq_b{vi}" for vi in range(len(inputs))]
    slim = out_df.select(
        "__gw_pid", "__pq_g",
        *([F.col("__gw_ax"),
           F.col("__gw_ax").isNull().alias("__gw_axn")]
          if any_range else []),
        *bcols)
    schema = "__pq_g long, " + ", ".join(
        f"`__pq_r{si}_{pi}` double"
        for si, sp in enumerate(specs) for pi in range(len(sp["ps"])))
    kin = _pctl_kernel_view(inputs)
    # chunk size captured at PLAN time (driver) so tests can shrink it
    # and force multi-chunk traversals on small frames — read inside
    # the kernel it would resolve against the WORKER's unpatched module
    CH = _PCTL_KERNEL_CHUNK_GROUPS

    def kernel(left, right):
        return _pctl_approx(left, right, kin, any_range, CH)

    ans = (slim.groupBy("__gw_pid")
           .cogroup(odf.groupBy("__gw_pid"))
           .applyInPandas(kernel, schema))
    # the bucket-index columns exist only to feed the kernel — drop
    # them BEFORE the join-back so the wide side of the shuffle does
    # not carry nv dead ints per row (round-11). Joining on (pid, g)
    # to reuse the cogroup's pid partitioning was tried and does not
    # help: FlatMapCoGroupsInPandas reports unknown outputPartitioning,
    # so EnsureRequirements re-shuffles both sides either way.
    # Round-12: bounded broadcast of the answer side instead — drops
    # the wide side's exchange+sort entirely at bench scale, withheld
    # past the driver-safety cap (see _bounded_broadcast).
    ans = _bounded_broadcast(
        ans, total_rows, sum(len(sp["ps"]) for sp in specs))
    res = out_df.drop(*bcols).join(ans, on="__pq_g")
    for si, sp in enumerate(specs):
        outs = [F.col(f"__pq_r{si}_{pi}")
                for pi in range(len(sp["ps"]))]
        res = res.withColumn(
            sp["out"], outs[0] if sp["scalar"] else F.array(*outs))
    return res.drop(*[c for c in res.columns
                      if c.startswith("__pq_")])


def _global_running_pctl(df: DataFrame, total_rows: int, specs: list,
                         V: int, approx: bool = False) -> DataFrame:
    """UNPARTITIONED running $median/$percentile (frame
    ["unbounded", "current"]) as distributed prefix order statistics
    — the last _swf_global raise (r7 verdict next #6). Exact
    continuous interpolation, never a single-task sort and never the
    O(prefix)/row sliding re-scan:

    1. Bucket the VALUE domain into equi-depth ranges (_pctl_inputs:
       the probe's splits, or thinned to <= V-1 from the value sketch
       the boundary aggregate already collected — zero extra actions;
       boundaries baked as literals).
    2. Per-range value histograms fold to cumulative per-range bucket
       offsets (_pctl_offsets).
    3. ONE cogroup numpy kernel per scaffold range (round-10,
       _pctl_route) computes each row's cumulative bucket vector and
       turns its target ranks into (bucket, residual-rank) queries. It
       works in key-tie GROUP space through _pctl_group_traversal
       (explicit null-flag sort — null keys distinct from genuine
       infinities; chunked bincount histograms — O(chunk x V + rows)
       memory however tied the sortBy). The SQL form it replaced (V x
       nv cumulative window sums + an Arrow router) ran past codegen's
       field budget and janino's method cap into interpreted eval and
       lost 96 vs 81 s at 10M rows (SCALE.md round-10), so it was
       deleted.
    4. A merge-sort-tree applyInPandas kernel (_pctl_select) per
       (value-bucket, g-chunk) group selects the residual rank among
       that bucket's elements with g <= query g. Elements replicate
       only to LATER g-chunks (~S/2 copies), so a query-heavy quantile
       bucket splits across S tasks instead of funneling the whole
       query stream through one; per-task work is
       O((n/V + q/S) log^2(n/V)).
    5. Results join back by the unique global row number and
       interpolate lo/hi in-expression (_pctl_assemble).

    ALL pctl_run/pctl_rrun outputs of the $setWindowFields resolve in
    THIS ONE pass (`specs` = [{out, ps, scalar, mode, dir, argkey,
    ...}, ...]); outputs that share an input expression and frame mode
    share buckets, histogram counts, and kernel elements. mode="rows"
    is the documents frame (prefix by document order); mode="range" is
    the running VALUE-RANGE frame — same machinery with cumulative
    counts taken at the end of each key-tie group and the last tie's
    g as the query row number, so ties by sort value enter each
    other's prefix. The histogram, the router and the kernel's
    element stream all read a slim (pid, g, values) localCheckpoint —
    lineage truncation, 16-24 B/row — instead of re-analyzing and
    re-executing the full upstream plan per action: the unfused,
    uncheckpointed form spent ~25 s of DRIVER plan time per output on
    a 15k-row frame (SCALE.md round-8). The wide frame is touched
    exactly once, in the final join.

    `approx` (spark.maggma.windowPctl.method=approximate) swaps steps
    3-5 for _global_running_pctl_approx's in-bucket interpolation.

    Nulls contribute nothing (Mongo/DuckDB quantile semantics); rows
    with an empty non-null prefix emit null. Ties in the sort key
    follow the scaffold's deterministic rn, like every documents
    frame (DEVIATIONS §16)."""
    inputs = _pctl_inputs(specs, V)
    if approx:
        return _global_running_pctl_approx(df, total_rows, specs, inputs)
    nv = len(inputs)
    any_range = any(inp["mode"] == "range" for inp in inputs)
    slim = df.select(
        "__gw_pid",
        (F.col("__gw_rn") + F.col("__gw_off_rows")).cast("long")
        .alias("__pq_g"),
        *([F.col("__gw_ax").alias("__pq_ax"),
           F.col("__gw_ax").isNull().alias("__pq_axn")]
          if any_range else []),
        *[F.col(inp["src"]).cast("double").alias(f"__pq_v{vi}")
          for vi, inp in enumerate(inputs)],
        # precomputed bucket indices (round-12 probe path) ride the
        # slim checkpoint so the ladder is evaluated once per row
        # total, not once per consumer
        *[F.col(inp["bcol"]).alias(f"__pq_b{vi}")
          for vi, inp in enumerate(inputs) if inp["bcol"] is not None]) \
        .localCheckpoint(eager=False)
    # ^ lineage truncation for the histogram/router/element branches:
    # measured round-9 against skipping it when the caller already
    # checkpointed the scaffolded frame — re-running the (cheap)
    # block-read + ladder projection per branch still lost ~0.4 s at
    # bench SF to the one slim materialization, so it stays. LAZY
    # (round-10): the first downstream sub-job materializes the
    # blocks — no dedicated action.

    # every compound expression below is ONE parsed F.expr string:
    # building them per-term through the Column API cost ~27k py4j
    # roundtrips = 14 s of driver time for a two-output spec at V=32
    # (SCALE.md round-8).
    slb = slim
    for vi, inp in enumerate(inputs):
        if inp["bcol"] is None:
            slb = slb.withColumn(f"__pq_b{vi}",
                                 _bucket_index(f"__pq_v{vi}", inp["splits"]))
    odf = _pctl_offsets(slb, inputs, exact=True)
    T1, S = total_rows + 1, _PCTL_QUERY_CHUNKS
    kin = _pctl_kernel_view(inputs)
    # chunk size captured at PLAN time (see _global_running_pctl_approx)
    CH = _PCTL_KERNEL_CHUNK_GROUPS

    def route_kernel(left, right):
        return _pctl_route(left, right, kin, total_rows, CH)

    queries = (slb.select(
        "__gw_pid", "__pq_g",
        *(["__pq_ax", "__pq_axn"] if any_range else []),
        *[f"__pq_b{vi}" for vi in range(nv)])
        .groupBy("__gw_pid")
        .cogroup(odf.groupBy("__gw_pid"))
        .applyInPandas(route_kernel, _pandas_schema(_PCTL_QUERY_FIELDS)))
    # ONE scan + inline() instead of an nv-branch union (round-12):
    # the union form re-scanned the slim blocks once per input and
    # doubled the plan's branch count; inline(array(named_struct...))
    # emits every input's (vi, b, eg, ev) element row from a single
    # pass. bwd inputs mirror the element row number — the kernel is
    # direction-blind, it only needs element g <= query g on a
    # consistent axis. The chunk explode replays _pctl_route's exact
    # arithmetic ((eg-1)*S / total is a fractional SQL division under
    # floor).
    structs = ", ".join(
        f"named_struct('vi', {vi}, 'b', __pq_b{vi}, "
        + ("'eg', cast(__pq_g as bigint), "
           if inp["dir"] == "fwd"
           else f"'eg', cast({T1} - __pq_g as bigint), ")
        + f"'ev', __pq_v{vi})"
        for vi, inp in enumerate(inputs))
    elems = (slb.select(F.expr(f"inline(array({structs}))"))
             .filter(F.col("ev").isNotNull())
             .select("vi", "b",
                     F.expr(f"explode(sequence(cast(floor((eg - 1) * "
                            f"{S} / {total_rows}) as int), {S - 1})) "
                            "as c"),
                     F.col("eg").alias("g"),
                     F.col("ev").alias("v")))
    kout = (elems.groupby("vi", "b", "c")
            .cogroup(queries.groupby("vi", "b", "c"))
            .applyInPandas(_pctl_select,
                           _pandas_schema(_PCTL_ANSWER_FIELDS)))
    return _pctl_assemble(df, specs, kout, total_rows)


def _bounded_broadcast(ans: DataFrame, total_rows: int,
                       n_cols: int) -> DataFrame:
    """Broadcast-hint the percentile answer frame for its join-back
    onto the wide frame when its estimated size is driver-safe
    (round-12): the answer side has exactly one row per input row, so
    a sort-merge join would EXCHANGE + SORT the full-width wide frame
    on the global row number — the single biggest data movement of
    the assembly at bench SF. Hinted broadcast turns it into a BHJ
    that preserves the wide side's partitioning and drops its
    exchange+sort. Bounded: past the cap (default 64 MB estimated as
    rows x (16 + 8 x answer-cols)) the hint is withheld and the join
    stays a shuffle — at 100 TB the answer frame is ~terabytes and
    must never reach the driver."""
    spark = ans.sparkSession
    cap = int(spark.conf.get(
        "spark.maggma.windowPctl.broadcastJoinBackBytes",
        str(64 << 20)))
    est = total_rows * (16 + 8 * n_cols)
    return F.broadcast(ans) if cap > 0 and est <= cap else ans


def _pctl_assemble(df: DataFrame, specs: list,
                   kout: DataFrame, total_rows: int) -> DataFrame:
    """Tail of the exact running-percentile path: pivot the
    per-(spec, p, side) answer rows to one row per global row number,
    left-join onto the PRE-WINDOW wide frame, and interpolate lo/hi
    in-expression. Rows whose prefix is all-null for an input generate
    no queries for that spec, so the joined per-spec m is null and
    they emit null."""
    # parsed-expr forms throughout (round-12 py4j-chatter cut): the
    # SQL strings replay the exact Column trees they replaced — same
    # IEEE op order (r - floor(r), lo + frac * (hi - lo)), double
    # literals through CAST('repr' AS DOUBLE) so they round-trip
    # bit-exact
    aggs = []
    for si, sp in enumerate(specs):
        aggs.append(F.expr(
            f"min(case when si = {si} then m end) as __pq_m{si}"))
        aggs.extend(
            F.expr(f"min(case when si = {si} and pi = {pi} and "
                   f"side = {sd} then val end) as __pq_r{si}_{pi}_{sd}")
            for pi in range(len(sp["ps"])) for sd in (0, 1))
    piv = _bounded_broadcast(
        kout.groupBy("qid").agg(*aggs), total_rows,
        sum(1 + 2 * len(sp["ps"]) for sp in specs))
    wide = df.withColumn(
        "__pq_g",
        (F.col("__gw_rn") + F.col("__gw_off_rows")).cast("long"))
    res = (wide.join(piv, wide["__pq_g"] == piv["qid"], "left")
           .drop("qid"))
    outcols: dict = {}
    for si, sp in enumerate(specs):
        terms = []
        for pi, pv in enumerate(sp["ps"]):
            p = _dlit(pv)
            r = f"({p} * cast(__pq_m{si} - 1 as double))"
            frac = f"({r} - floor({r}))"
            lo = f"__pq_r{si}_{pi}_0"
            hi = f"coalesce(__pq_r{si}_{pi}_1, {lo})"
            terms.append(f"case when __pq_m{si} > 0 then "
                         f"{lo} + {frac} * ({hi} - {lo}) end")
        outcols[sp["out"]] = F.expr(
            terms[0] if sp["scalar"]
            else f"array({', '.join(terms)})")
    res = res.withColumns(outcols)
    return res.drop(*[c for c in res.columns
                      if c.startswith("__pq_")])


def _fin_deriv_integ(op: str, vm, w_fin, w_lag, chain_key):
    """$derivative/$integral over a REPLICATED finite frame (the
    rfin/dfin machinery of _swf_global): within an output's exact
    frame every copy is unmasked and the copy sequence is globally
    contiguous, so first/last over the frame and the lag-based
    trapezoid pairs are the true global ones. The frame's first row's
    pair (whose lag may cross into rows absent from this destination)
    is excluded exactly as in the partitioned compile — but NOT via
    first(pair) over the ax-ordered frame: with tied sort keys at the
    frame's lower edge, first() may resolve to a zero-width tie pair
    (the ax-only sort is not stable wrt the lag chain), silently
    leaving the pre-frame crossing term inside the sum. Instead
    subtract the pair of the frame row that is minimal in the SAME
    (ax, rn) order the lag chain uses (`chain_key`): exactly one
    frame row's lag crosses the boundary — the chain-first one (null
    lag → the sum never saw it and the coalesce subtracts 0)."""
    if op == "$deriv":
        dv = (F.last(vm["x"], ignorenulls=False).over(w_fin)
              - F.first(vm["x"], ignorenulls=False).over(w_fin))
        dt = (F.last(vm["t"], ignorenulls=False).over(w_fin)
              - F.first(vm["t"], ignorenulls=False).over(w_fin))
        return F.when(dt != F.lit(0), dv / dt)
    lx = F.lag(vm["x"]).over(w_lag)
    lt = F.lag(vm["t"]).over(w_lag)
    pair = (vm["x"] + lx) / 2 * (vm["t"] - lt)
    total = (F.sum(pair).over(w_fin)
             - F.coalesce(F.min_by(pair, chain_key).over(w_fin),
                          F.lit(0.0)))
    return F.coalesce(total, F.lit(0.0))


_RANK_FNS = {"$rank": F.rank, "$denseRank": F.dense_rank,
             "$documentNumber": F.row_number}

# Per-range partials of the carry-decomposable window accumulators:
# (suffix, aggregate over the value column, driver fold). The boundary
# aggregate emits each as __{suffix}_{out}; the running kinds carry it
# as __gw_c{suffix}_{out}. $stdDev* recombine from (count, sum,
# sum-of-squares), $covariance* from (n, Σx, Σy, Σxy) over the (x, y)
# pair struct — the naive recombination loses ~log10(mean^2/var) digits
# to cancellation, fine at data-scale magnitudes.
_SUM_PARTIALS = (("s", F.sum, "$sum"), ("c", F.count, "count"))
_STD_PARTIALS = (
    ("s", lambda v: F.sum(v.cast("double")), "$sum"),
    ("q", lambda v: F.sum(v.cast("double") * v.cast("double")), "$sum"),
    ("c", F.count, "count"))
_COV_PARTIALS = (
    ("s", lambda v: F.sum(v["x"]), "$sum"),
    ("y", lambda v: F.sum(v["y"]), "$sum"),
    ("q", lambda v: F.sum(v["x"] * v["y"]), "$sum"),
    ("c", F.count, "count"))
_MOMENT_PARTIALS = {
    "$sum": _SUM_PARTIALS, "$avg": _SUM_PARTIALS,
    "$min": (("s", F.min, "$min"),), "$max": (("s", F.max, "$max"),),
    "$stdDevPop": _STD_PARTIALS, "$stdDevSamp": _STD_PARTIALS,
    "$covariancePop": _COV_PARTIALS, "$covarianceSamp": _COV_PARTIALS}

# unpartitioned plan kinds that frame over the sortBy VALUE axis
_SWF_RANGE_KINDS = {"rfwd", "rbwd", "rfin", "pctl_rrun", "deriv_rrun",
                    "integ_rrun"}
# kinds that read the broadcast carry frame joined on the range id
_SWF_CARRIED_KINDS = {"rank", "fwd", "bwd", "rfwd", "rbwd", "self", "dfin",
                      "pctl_run", "pctl_rrun", "ema", "integ_run",
                      "integ_rrun"}
_FRAME_SHAPES = {("unbounded", "current"): "fwd",
                 ("current", "unbounded"): "bwd",
                 ("unbounded", "unbounded"): "whole",
                 ("current", "current"): "self"}
_SHAPE_NAMES = {"fwd": "running ['unbounded','current']",
                "bwd": "running ['current','unbounded']",
                "whole": "whole-frame", "self": "['current','current']",
                "fin": "finite [lo, hi]"}


def _edge_kinds(stem: str) -> dict:
    """(axis, frame shape) -> kind of $derivative ("deriv") or
    $integral ("integ"): finite frames replicate, running frames carry
    edge structs (and trapezoid pair sums), whole frames fold to
    literals."""
    return {("range", "fin"): "rfin", ("documents", "fin"): "dfin",
            ("documents", "self"): "dfin",
            ("range", "fwd"): f"{stem}_rrun", ("range", "bwd"): f"{stem}_rrun",
            ("range", "whole"): f"{stem}_whole",
            ("documents", "whole"): f"{stem}_whole",
            ("documents", "fwd"): f"{stem}_run",
            ("documents", "bwd"): f"{stem}_run"}


# (axis, frame shape) -> plan kind, per operator family of the
# unpartitioned path; a missing pair raises (add partitionBy)
_SWF_FRAME_KINDS = {
    "moment": {("range", "fwd"): "rfwd", ("range", "bwd"): "rbwd",
               ("range", "fin"): "rfin", ("documents", "fwd"): "fwd",
               ("documents", "bwd"): "bwd", ("documents", "whole"): "whole",
               ("documents", "self"): "self", ("documents", "fin"): "dfin"},
    "pctl": {("range", "fin"): "rfin", ("range", "fwd"): "pctl_rrun",
             ("range", "bwd"): "pctl_rrun",
             ("documents", "whole"): "pctl_whole",
             ("documents", "fwd"): "pctl_run",
             ("documents", "bwd"): "pctl_run",
             ("documents", "self"): "dfin", ("documents", "fin"): "dfin"},
    "firstlast": {("documents", s): "firstlast"
                  for s in ("fwd", "bwd", "whole", "self")},
    "deriv": _edge_kinds("deriv"),
    "integ": _edge_kinds("integ"),
}


def _frame_shape(win: dict):
    """Classify a window doc: (axis, shape, bounds, fin). axis is
    "range" or "documents" (the default, whole frame); shape is "fwd"/
    "bwd" (running), "whole", "self" (["current", "current"]), "fin"
    (numeric) or None; fin is _finite_bounds' (lo, hi)."""
    axis = "range" if "range" in win else "documents"
    bounds = _window_bounds(win.get(axis, ["unbounded", "unbounded"]))
    key = tuple(bounds)
    if axis == "range" and "unbounded" in key:
        # next to an unbounded end, offset 0 is the current sort value
        key = tuple("current" if b == 0 else b for b in key)
    fin = _finite_bounds(bounds, axis == "documents")
    shape = _FRAME_SHAPES.get(key) or ("fin" if fin else None)
    return axis, shape, bounds, fin


def _frame_offsets(p: dict, op: str) -> tuple:
    """A planned frame's bounds on its window axis: "unbounded" kept,
    "current" as 0, numbers scaled by the range `unit` to the integers
    rowsBetween/rangeBetween take. An inverted frame raises: Spark
    would answer it from an empty (or a differenced, negated) frame."""
    scale = _unit_ms(p.get("unit")) or 1
    offs = [b if b == "unbounded" else 0 if b == "current" else b * scale
            for b in p["bounds"]]
    if any(x != "unbounded" and not float(x).is_integer() for x in offs):
        raise ValueError(f"{p['axis']} frame offsets {p['bounds']} must "
                         "scale to integers on the window axis")
    lo, hi = (x if x == "unbounded" else int(x) for x in offs)
    if "unbounded" not in (lo, hi) and lo > hi:
        raise ValueError(
            f"{op} over the {p['axis']} frame {p['bounds']} is not "
            "supported: its lower bound is above its upper bound")
    return lo, hi


# Mongo window operator -> plan family, the key of both paths' assembler
# tables; another accumulator is "acc", an unknown operator None
_SWF_FAMILIES = {
    **{op: "rank" for op in _RANK_FNS},
    **{op: "moment" for op in _MOMENT_PARTIALS}, "$count": "moment",
    "$shift": "shift", "$locf": "locf", "$linearFill": "linearFill",
    "$expMovingAvg": "ema", "$median": "pctl", "$percentile": "pctl",
    "$derivative": "deriv", "$integral": "integ",
    "$first": "firstlast", "$last": "firstlast"}
# families Mongo runs without window bounds (the positional ones run
# their own passes when unpartitioned)
_POSITIONAL_FAMILIES = {"shift", "locf", "linearFill"}
_WINDOWLESS_FAMILIES = _POSITIONAL_FAMILIES | {"rank"}


def _window_plan(op: str, arg, win, sort: dict) -> dict:
    """One output's plan (see _swf_plans)."""
    family = _SWF_FAMILIES.get(op, "acc" if op in _ACCUMULATORS else None)
    if win is not None and family in _WINDOWLESS_FAMILIES:
        raise ValueError(f"{op} takes no window bounds")
    win = win or {}
    p = {"name": op, "family": family, "op": op, "arg": arg}
    if op == "$count":  # Mongo window $count == $sum of 1
        p.update(op="$sum", arg=1)
    elif family == "ema":
        p["alpha"], p["arg"] = _ema_alpha(arg), arg["input"]
    elif family == "pctl":
        p.update(op="$pctl", arg=arg["input"], scalar=op == "$median",
                 ps=[0.5] if op == "$median"
                 else [float(x) for x in arg["p"]])
    elif family in ("deriv", "integ"):
        p.update(op=f"${family}", arg=arg["input"], tunit=arg.get("unit"))
        _unit_ms(p["tunit"], f"{op} unit")
        _sort_axis(sort, op)
        if "range" not in win and "documents" not in win:
            raise ValueError(f"{op} requires a window")
    elif family == "linearFill" and len(sort) != 1:
        raise ValueError("$linearFill requires exactly one sortBy field")
    p["axis"], p["shape"], p["bounds"], p["fin"] = _frame_shape(win)
    if p["axis"] == "range":
        p["unit"] = win.get("unit")
        _sort_axis(sort, "a range window")
    p["offsets"] = _frame_offsets(p, op)
    if not sort and (family in _WINDOWLESS_FAMILIES | {"ema"} or
                     p["axis"] == "documents" and p["shape"] != "whole"):
        raise ValueError(f"{op} requires sortBy")
    return p


def _swf_plans(spec: dict, sort: dict) -> dict[str, dict]:
    """Plan every $setWindowFields output from the spec and sortBy alone
    (no DataFrame, no session), so every shape error raises before any
    Spark work; both compiles read these plans. {out: plan}: "name" (the
    Mongo operator), "family" (_SWF_FAMILIES), "op"/"arg" ($count is
    $sum of 1; "$pctl"/"$deriv"/"$integ" name their families), the
    frame's "axis"/"shape"/"bounds"/"fin" (_frame_shape), "offsets"
    (_frame_offsets) and "unit" (range), plus "ps"/"scalar" ($median/
    $percentile), "tunit" ($derivative/$integral), "alpha" (EMA)."""
    plans: dict[str, dict] = {}
    for out, odoc in spec["output"].items():
        odoc = dict(odoc)
        win = odoc.pop("window", None)
        (op, arg), = odoc.items()
        plans[out] = _window_plan(op, arg, win, sort)
    return plans


def _swf_kind(p: dict, sort: dict) -> dict:
    """The unpartitioned view of a plan: its kind (the _SWF_FRAME_KINDS
    entry of its family, frame axis and shape; see _swf_global) plus
    the keys that kind's assembler reads — "dir" (fwd/bwd running
    frames), "range"/"offsets" (finite range frames), "frame" (finite
    row offsets, or the $first/$last bounds). A frame the range
    scaffold cannot distribute raises and asks for partitionBy."""
    op, family, axis = p["name"], p["family"], p["axis"]
    if family == "rank":
        return {"kind": "rank", "op": op}
    if family == "ema":
        return {"kind": "ema", "op": op, "alpha": p["alpha"],
                "arg": p["arg"]}
    if family == "acc":
        raise ValueError(f"unpartitioned {op} window is order-dependent "
                         "and not distributable; add partitionBy")
    if family not in _SWF_FRAME_KINDS:
        raise ValueError(f"unsupported unpartitioned window operator {op}"
                         " — add partitionBy")
    kind = _SWF_FRAME_KINDS[family].get((axis, p["shape"]))
    if kind is None:
        ok = [_SHAPE_NAMES[s] for (a, s) in _SWF_FRAME_KINDS[family]
              if a == axis]
        raise ValueError(
            f"unpartitioned {op} over the {axis} frame {p['bounds']} is "
            f"not supported (supported: {', '.join(ok) or 'none'}) — add "
            "partitionBy")
    if kind == "firstlast" and not sort:
        raise ValueError(f"{op} requires sortBy")
    q = {k: p[k] for k in ("op", "arg", "ps", "scalar", "tunit", "unit")
         if k in p}
    q["kind"] = kind
    if p["shape"] in ("fwd", "bwd"):
        q["dir"] = p["shape"]
    if kind == "dfin":
        q["frame"] = p["fin"]
    elif kind == "firstlast":
        q["frame"] = tuple(p["bounds"])
    elif kind == "rfin":
        q["range"], q["offsets"] = p["fin"], p["offsets"]
    return q


def _swf_kinds(plans: dict, sort: dict) -> dict[str, dict]:
    """Unpartitioned kind plans (_swf_kind) of the framed outputs; the
    positional families run their own passes (_swf_unpartitioned)."""
    kinds = {o: _swf_kind(p, sort) for o, p in plans.items()
             if p["family"] not in _POSITIONAL_FAMILIES}
    ranged = [q for q in kinds.values() if q["kind"] in _SWF_RANGE_KINDS]
    if len({q["unit"] is None for q in ranged}) > 1:
        raise ValueError("cannot mix `unit` and plain numeric range "
                         "windows over one sortBy")
    return kinds


def _swf_plan(spec: dict, sort: dict) -> dict[str, dict]:
    """The unpartitioned kind plans of a stage spec."""
    return _swf_kinds(_swf_plans(spec, sort), sort)


def _quantile_grid(n: int) -> Column:
    """The interior quantile grid [1/n, ..., (n-1)/n] as an array."""
    return F.array(*[F.lit(i / n) for i in range(1, n)])


def _pctl_argkey(p: dict) -> tuple:
    """Running-percentile outputs with one argkey share one histogram."""
    return (p["kind"], p["dir"], repr(p["arg"]))


def _swf_probe(df: DataFrame, plans: dict, sort: dict, approx: bool):
    """Combined probe of a call that owns its range boundaries and runs
    global running percentiles (round-12): ONE aggregate sketches the
    sortBy boundaries and each percentile input's VALUE domain, so the
    bucket splits are known before the boundary aggregate and the
    per-range bucket histograms ride it — the percentile paths' hist/
    fold/broadcast stages become a LocalRelation and driver actions
    stay at 2. None when the sortBy is not numeric-keyed (the boundary
    aggregate then carries the value sketches)."""
    from maggma_spark.functions.partitioning import (
        _numeric_key,
        thin_boundaries,
    )

    nkey = _numeric_key(df, next(iter(sort)))
    if nkey is None:
        return None
    spark = df.sparkSession
    n_tgt = int(spark.conf.get("spark.sql.shuffle.partitions"))
    ak_rep: dict = {}  # argkey -> representative output
    for o, p in plans.items():
        if p["kind"] in ("pctl_run", "pctl_rrun"):
            ak_rep.setdefault(_pctl_argkey(p), o)
    aggs = [F.percentile_approx(nkey, _quantile_grid(n_tgt),
                                F.lit(10_000)).alias("__bs"),
            F.count(F.lit(1)).alias("__n")]
    for o in ak_rep.values():
        v = _value(df, plans[o]["arg"]).cast("double")
        aggs.append(F.percentile_approx(
            v, _quantile_grid(128 if approx else 64),
            F.lit(10_000)).alias(f"__sk_{o}"))
        if approx:
            aggs += [F.min(v).alias(f"__lo_{o}"), F.max(v).alias(f"__hi_{o}")]
    row = df.agg(*aggs).first()
    V = _pctl_bucket_count(row["__n"], approx, _approx_buckets(spark))
    return {"row": row, "ak_rep": ak_rep, "V": V,
            "bs": thin_boundaries(
                sorted({x for x in (row["__bs"] or []) if x is not None}),
                row["__n"], n_tgt, _min_rows_per_range(spark)),
            "vbs": {ak: _equi_depth_splits(
                sorted(x for x in (row[f"__sk_{o}"] or []) if x is not None),
                V) for ak, o in ak_rep.items()}}


def _swf_value(df: DataFrame, p: dict, sort_field) -> Column:
    """An output's value column __gw_v_*: a (value, time) struct for
    $derivative/$integral (time is the sortBy scaled to the operator's
    own `unit`), an (x, y) pair for $covariance*, else the value."""
    if p["op"] in ("$deriv", "$integ"):
        x = _value(df, p["arg"]).cast("double")
        t = _time_axis(sort_field, _unit_ms(p["tunit"]))
        return F.struct(x.alias("x"), t.alias("t"))
    if p["kind"] == "ema":
        return _value(df, p["arg"]).cast("double")
    if p["op"] in ("$covariancePop", "$covarianceSamp"):
        return _cov_pair(df, *p["arg"])
    return _value(df, p["arg"])


def _swf_value_columns(ranged: DataFrame, plans: dict, sort: dict,
                       presketch, total) -> DataFrame:
    """Scaffold columns every assembler reads: the value columns (ONE
    withColumns — a chained withColumn stacks one Project per output
    that the analyzer re-walks on every driver action), the percentile
    bucket indexes, the range-frame axis __gw_ax, the $integral
    trapezoid pairs and the $expMovingAvg kernel columns."""
    from pyspark.sql import Window

    sort_field = next(iter(sort)) if sort else None
    vcols = {f"__gw_v_{o}": _swf_value(ranged, p, sort_field)
             for o, p in plans.items() if p["kind"] != "rank"}
    if vcols:
        ranged = ranged.withColumns(vcols)
    if presketch is not None:
        # each percentile input's bucket index materializes ONCE: the
        # boundary histograms and the kernels' slim projections reuse it
        ranged = ranged.withColumns({
            f"__gw_hb_{rep}": _bucket_index(
                f"cast(`__gw_v_{rep}` as double)", presketch["vbs"][ak])
            for ak, rep in presketch["ak_rep"].items()})
    units = [p["unit"] for p in plans.values()
             if p["kind"] in _SWF_RANGE_KINDS]
    if units:
        # exact integer epoch-ms axis for unit frames (a double epoch
        # loses sub-ms bits); the plan offsets are already in ms
        ranged = ranged.withColumn(
            "__gw_ax", _epoch_ms(sort_field)
            if units[0] is not None else F.col(sort_field).cast("double"))
    integs = [o for o, p in plans.items()
              if p["kind"] in ("integ_run", "integ_rrun", "integ_whole")]
    if integs:
        # the trapezoid pair covering (t_{i-1}, t_i] belongs to row i;
        # a range head's pair is null — the boundary crossing term is
        # folded driver-side into the carry
        w_rn = Window.partitionBy("__gw_pid").orderBy("__gw_rn")
        prcols: dict = {}
        for out in integs:
            v = F.col(f"__gw_v_{out}")
            prcols[f"__gw_pr_{out}"] = (
                (v["x"] + F.lag(v["x"]).over(w_rn)) / 2
                * (v["t"] - F.lag(v["t"]).over(w_rn)))
        ranged = ranged.withColumns(prcols)
    emas = {o: p["alpha"] for o, p in plans.items() if p["kind"] == "ema"}
    if emas:
        ranged = _swf_ema_kernel(ranged, emas, total)
    return ranged


def _swf_ema_kernel(ranged: DataFrame, alphas: dict, total) -> DataFrame:
    """Global $expMovingAvg kernel: per-range pandas ewm over a SLIM
    (pid, rn, value) projection — e0 is the EMA assuming no incoming
    state, ct the running non-null count — joined back on the
    deterministic (pid, rn) pair. The affine fix-up to the true global
    recurrence happens in the output column (_swf_ema)."""
    import pandas as pd

    keys = ["__gw_pid", "__gw_rn"]
    slim = ranged.select(*keys, *[f"__gw_v_{o}" for o in alphas])
    fields = ", ".join(["`__gw_pid` int", "`__gw_rn` int"] + [
        f"`__gw_e0_{o}` double, `__gw_ct_{o}` bigint" for o in alphas])

    def _ema_kernel(pdf):
        pdf = pdf.sort_values("__gw_rn", kind="mergesort")
        cols = {"__gw_pid": pdf["__gw_pid"], "__gw_rn": pdf["__gw_rn"]}
        for o, alpha in alphas.items():
            v = pdf[f"__gw_v_{o}"]
            # pandas' C ewm kernel IS the Mongo recurrence (adjust=False,
            # ignore_na=True — same contract as _exp_moving_avg)
            cols[f"__gw_e0_{o}"] = v.ewm(alpha=alpha, adjust=False,
                                         ignore_na=True).mean()
            cols[f"__gw_ct_{o}"] = v.notna().cumsum().astype("int64")
        return pd.DataFrame(cols)

    ema_out = slim.groupBy("__gw_pid").applyInPandas(_ema_kernel, fields)
    if total is not None:
        # one slim row per input row: a bounded broadcast join-back
        # keeps the wide side from an exchange + sort on (pid, rn)
        ema_out = _bounded_broadcast(ema_out, total, 2 * len(alphas))
    return ranged.join(ema_out, on=keys)


def _swf_partials(out: str, p: dict, presketch, approx: bool) -> list:
    """One output's columns in the boundary aggregate."""
    kind, v = p["kind"], F.col(f"__gw_v_{out}")
    if kind in ("rank", "rfin", "dfin", "pctl_whole"):
        # ranks read only the row counts; finite frames replicate and
        # whole-frame percentiles run their own action
        return []
    if kind in ("pctl_run", "pctl_rrun"):
        if presketch is not None:
            # per-range bucket histograms, one per distinct input; the
            # driver folds them into the kernels' cumulative offsets
            ak = _pctl_argkey(p)
            if presketch["ak_rep"][ak] != out:
                return []
            return [F.expr(f"sum(case when `__gw_hb_{out}` = {b} then 1L "
                           f"else 0L end) as `__ph_{out}_{b}`")
                    for b in range(len(presketch["vbs"][ak]) + 1)]
        # the equi-depth VALUE sketch (plus the extremes as outer bucket
        # edges in approximate mode) rides this one aggregate
        vd = v.cast("double")
        aggs = [F.percentile_approx(vd, _quantile_grid(128 if approx else 64),
                                    F.lit(10_000)).alias(f"__pqsk_{out}")]
        if approx:
            aggs += [F.min(vd).alias(f"__pqlo_{out}"),
                     F.max(vd).alias(f"__pqhi_{out}")]
        return aggs
    if kind == "ema":
        # non-null count, first non-null value (the kernel's seed) and
        # the no-state kernel's end-of-range value
        return [F.count(v).alias(f"__emk_{out}"),
                F.min_by(v, F.when(v.isNotNull(), F.col("__gw_rn")))
                .alias(f"__emv1_{out}"),
                F.max_by(F.col(f"__gw_e0_{out}"), F.col("__gw_rn"))
                .alias(f"__eml_{out}")]
    if kind.startswith(("deriv_", "integ_")):
        # first/last (value, time) edge structs; $integral adds the
        # range's trapezoid pair sum
        aggs = [F.min_by(v, F.col("__gw_rn")).alias(f"__ef_{out}"),
                F.max_by(v, F.col("__gw_rn")).alias(f"__el_{out}")]
        if kind.startswith("integ_"):
            aggs.append(F.sum(F.col(f"__gw_pr_{out}")).alias(f"__ps_{out}"))
        return aggs
    if kind == "firstlast":
        pick = F.min_by if p["op"] == "$first" else F.max_by
        return [pick(v, F.col("__gw_rn")).alias(f"__s_{out}")]
    return [agg(v).alias(f"__{sfx}_{out}")
            for sfx, agg, _ in _MOMENT_PARTIALS[p["op"]]]


def _swf_boundary(ranged: DataFrame, plans: dict, sort: dict, presketch,
                  approx: bool):
    """ONE boundary aggregate, a single row per scaffold range, collected
    in range order: returns (parts, btypes) — the partial rows and their
    column types."""
    aggs = [F.count(F.lit(1)).alias("__rows")]
    if any(p["op"] == "$denseRank" for p in plans.values()):
        aggs.append(F.countDistinct(
            F.struct(*[F.col(k) for k in sort])).alias("__dr"))
    for out, p in plans.items():
        aggs += _swf_partials(out, p, presketch, approx)
    bdf = ranged.groupBy("__gw_pid").agg(*aggs)
    parts = sorted(bdf.collect(), key=lambda r: r["__gw_pid"])
    return parts, {f.name: f.dataType for f in bdf.schema.fields}


def _fold(values, how: str):
    """Driver-side fold of per-range partials, skipping nulls: "$sum"/
    "$avg"/"count" add (a count of nothing is 0), "$min"/"$max" pick."""
    vals = [v for v in values if v is not None]
    if not vals:
        return 0 if how == "count" else None
    if how in ("$sum", "$avg", "count"):
        return sum(vals)
    return min(vals) if how == "$min" else max(vals)


def _nn(x):
    """None-for-NaN: kernel floats use NaN as the missing value."""
    return None if x is None or (isinstance(x, float) and x != x) else x


def _cross(a, b):
    """Trapezoid term between two (value, time) edge structs: the pair
    crossing from one range's last row to the next range's first."""
    if a is None or b is None:
        return None
    ax, at, bx, bt = a["x"], a["t"], b["x"], b["t"]
    if None in (ax, at, bx, bt):
        return None
    return (bx + ax) / 2.0 * (bt - at)


def _ema_states(out: str, p: dict, parts: list):
    """EMA state entering each range (None before any value) and each
    range's first non-null value: the state after range i is its kernel
    end value e, fixed up to e + (1-α)^k · (s - v1) when state s came in
    — the same fix-up each row applies, one float op pair per range."""
    beta = 1.0 - p["alpha"]
    s, states, v1s = None, [], []
    for r in parts:
        states.append(s)
        v1 = _nn(r[f"__emv1_{out}"])
        v1s.append(v1)
        k = r[f"__emk_{out}"] or 0
        if k > 0:
            el = _nn(r[f"__eml_{out}"])
            s = el if s is None else el + beta ** k * (s - v1)
    return states, v1s


def _integ_carries(out: str, p: dict, parts: list) -> list:
    """$integral running carries: prefix (fwd) or suffix (bwd) sums of
    the per-range pair sums plus the boundary-crossing terms the
    in-range lag cannot see."""
    ps = [r[f"__ps_{out}"] for r in parts]
    crossings = [None] + [_cross(parts[i - 1][f"__el_{out}"],
                                 parts[i][f"__ef_{out}"])
                          for i in range(1, len(parts))]
    carries, acc = [], 0.0
    if p["dir"] == "fwd":
        for i in range(len(parts)):
            if i > 0:
                acc += (ps[i - 1] or 0.0) + (crossings[i] or 0.0)
            carries.append(acc)
        return carries
    for i in range(len(parts) - 1, -1, -1):
        carries.append(acc)
        if i > 0:
            acc += (ps[i] or 0.0) + (crossings[i] or 0.0)
    return carries[::-1]


def _swf_carries(plans: dict, parts: list, btypes: dict):
    """Carry columns, one value per scaffold range in range order:
    prior-range row (and distinct-key) offsets; each running kind's
    partials folded over the earlier (fwd) or later (bwd) ranges —
    equal sort keys share a range, so every row of another range lies
    wholly inside or outside a running frame; the $expMovingAvg entry
    states; the $integral carries. Returns (rows, fields) for
    _carry_df."""
    from pyspark.sql.types import DoubleType, LongType

    cols: dict = {}  # name -> (type, [value per range])

    def offsets(key):
        acc, vals = 0, []
        for r in parts:
            vals.append(acc)
            acc += r[key]
        return vals

    cols["__gw_off_rows"] = (LongType(), offsets("__rows"))
    if "__dr" in btypes:
        cols["__gw_off_dr"] = (LongType(), offsets("__dr"))
    for out, p in plans.items():
        if p["kind"] not in ("fwd", "bwd", "rfwd", "rbwd"):
            continue
        fwd = p["kind"] in ("fwd", "rfwd")
        # carry columns keep the s, c, q, y order
        for sfx, _, how in sorted(_MOMENT_PARTIALS[p["op"]],
                                  key=lambda t: "scqy".index(t[0])):
            vals = [r[f"__{sfx}_{out}"] for r in parts]
            cols[f"__gw_c{sfx}_{out}"] = (btypes[f"__{sfx}_{out}"], [
                _fold(vals[:i] if fwd else vals[i + 1:], how)
                for i in range(len(parts))])
    for out, p in plans.items():
        if p["kind"] == "ema":
            states, v1s = _ema_states(out, p, parts)
            cols[f"__gw_es_{out}"] = (DoubleType(), states)
            cols[f"__gw_e1_{out}"] = (DoubleType(), v1s)
    for out, p in plans.items():
        if p["kind"] in ("integ_run", "integ_rrun"):
            cols[f"__gw_ci_{out}"] = (DoubleType(),
                                      _integ_carries(out, p, parts))
    rows = [{"__gw_pid": r["__gw_pid"],
             **{c: vals[i] for c, (_, vals) in cols.items()}}
            for i, r in enumerate(parts)]
    return rows, [(c, t) for c, (t, _) in cols.items()]


def _gw_running(axis: str, desc: bool = False):
    """Per-range running frame from the range head to the current row:
    ROWS over the unique row number __gw_rn, RANGE (sort-key ties
    included) over the value axis __gw_ax; `desc` runs it backwards.
    Documents frames order by __gw_rn, not the raw sort keys: separate
    Window execs may traverse tied keys in different orders."""
    from pyspark.sql import Window

    col = F.col(axis).desc() if desc else F.col(axis).asc()
    w = Window.partitionBy("__gw_pid").orderBy(col)
    if axis == "__gw_rn":
        return w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return w.rangeBetween(Window.unboundedPreceding, 0)


def _gw_ties():
    """Per-range frame of the current row's sort-key tie group."""
    from pyspark.sql import Window

    return (Window.partitionBy("__gw_pid")
            .orderBy(F.col("__gw_ax").asc()).rangeBetween(0, 0))


def _swf_rank(out, p, ctx):
    # documentNumber reuses the scaffold's row number: a later pass's
    # row_number() could traverse ties differently
    off = F.col("__gw_off_dr" if p["op"] == "$denseRank"
                else "__gw_off_rows")
    base = (F.col("__gw_rn") if p["op"] == "$documentNumber"
            else _RANK_FNS[p["op"]]().over(ctx["wloc"]))
    return (base + off).cast("long")


def _swf_ema(out, p, ctx):
    # affine fix-up of the no-state kernel series; rows before the
    # range's first non-null carry the incoming state
    e0, c = F.col(f"__gw_e0_{out}"), F.col(f"__gw_ct_{out}")
    s, v1 = F.col(f"__gw_es_{out}"), F.col(f"__gw_e1_{out}")
    beta = F.lit(1.0 - p["alpha"])
    fixed = F.when(s.isNotNull(),
                   e0 + F.pow(beta, c.cast("double")) * (s - v1)
                   ).otherwise(e0)
    return F.when(c > 0, fixed).otherwise(s)


def _swf_edge_whole(out, p, ctx):
    # whole-frame literals: the global first/last (value, time) slope,
    # or every pair sum plus the crossings between ranges
    parts = ctx["parts"]
    if p["kind"] == "deriv_whole":
        f0 = parts[0][f"__ef_{out}"] if parts else None
        l0 = parts[-1][f"__el_{out}"] if parts else None
        val = None
        if (f0 is not None and l0 is not None
                and None not in (f0["t"], l0["t"], f0["x"], l0["x"])
                and l0["t"] != f0["t"]):
            val = (l0["x"] - f0["x"]) / (l0["t"] - f0["t"])
    else:
        val = sum(r[f"__ps_{out}"] or 0.0 for r in parts)
        for i in range(1, len(parts)):
            val += _cross(parts[i - 1][f"__el_{out}"],
                          parts[i][f"__ef_{out}"]) or 0.0
        val = val if parts else 0.0
    return F.lit(val).cast("double")


def _swf_deriv_run(out, p, ctx):
    # one frame end is the GLOBAL first (fwd) / last (bwd) row — a
    # folded literal; the other is the current row (documents) or its
    # sort-key tie group's last/first row (range)
    parts, v, fwd = ctx["parts"], F.col(f"__gw_v_{out}"), p["dir"] == "fwd"
    edge = (parts[0][f"__ef_{out}"] if fwd
            else parts[-1][f"__el_{out}"]) if parts else None
    ex = F.lit(None if edge is None else edge["x"]).cast("double")
    et = F.lit(None if edge is None else edge["t"]).cast("double")
    if p["kind"] == "deriv_rrun":
        pick = F.last if fwd else F.first
        cx = pick(v["x"], ignorenulls=False).over(_gw_ties())
        ct = pick(v["t"], ignorenulls=False).over(_gw_ties())
    else:
        cx, ct = v["x"], v["t"]
    dv = (cx - ex) if fwd else (ex - cx)
    dt = (ct - et) if fwd else (et - ct)
    return F.when(dt != F.lit(0), dv / dt)


def _swf_integ_run(out, p, ctx):
    pr, z = F.col(f"__gw_pr_{out}"), F.lit(0.0)
    fwd = p["dir"] == "fwd"
    axis = "__gw_rn" if p["kind"] == "integ_run" else "__gw_ax"
    local = F.coalesce(F.sum(pr).over(_gw_running(axis, not fwd)), z)
    if not fwd:
        # the frame's first row's pair covers the span BEFORE the frame:
        # the row's own pair, or on a range axis the pair of the tie
        # group's chain-first row (min rn — first() over the ax-only
        # order could pick a zero-width tie pair)
        head = pr if p["kind"] == "integ_run" else \
            F.min_by(pr, F.col("__gw_rn")).over(_gw_ties())
        local = local - F.coalesce(head, z)
    return local + F.coalesce(F.col(f"__gw_ci_{out}"), z)


def _swf_pctl_whole(out, p, ctx):
    # ONE dedicated action folded to a literal: a percentile has no
    # per-range partial (approximate mode: the percentile_approx sketch)
    pfn = F.percentile_approx if ctx["approx"] else F.percentile
    vals = ctx["ranged"].agg(pfn(
        F.col(f"__gw_v_{out}").cast("double"),
        F.array(*[F.lit(x) for x in p["ps"]])).alias("q")).first()["q"]
    if p["scalar"]:
        return F.lit(vals[0] if vals else None).cast("double")
    if vals is None:
        return F.lit(None).cast("array<double>")
    return F.array(*[F.lit(float(x)).cast("double") for x in vals])


def _swf_first_last(out, p, ctx):
    lo_b, hi_b = p["frame"]
    if (p["op"] == "$first" and lo_b == "current") or \
            (p["op"] == "$last" and hi_b == "current"):
        return F.col(f"__gw_v_{out}")  # the row's own value
    # an unbounded end is the GLOBAL first/last row's value
    parts = ctx["parts"]
    val = ((parts[0] if p["op"] == "$first" else parts[-1])[f"__s_{out}"]
           if parts else None)
    return F.lit(val).cast(ctx["btypes"][f"__s_{out}"])


def _moment_value(op: str, t: dict):
    """Driver-side twin of _moment_combine over folded whole-frame
    partials `t` (suffix -> value, see _MOMENT_PARTIALS)."""
    n = t["c"]
    if op == "$avg":
        return float(t["s"]) / n if n else None
    s, q = t["s"] or 0.0, t["q"] or 0.0
    if op == "$stdDevPop":
        return max(q / n - (s / n) ** 2, 0.0) ** 0.5 if n > 0 else None
    if op == "$stdDevSamp":
        return max((q - s * s / n) / (n - 1), 0.0) ** 0.5 if n > 1 else None
    y = t["y"] or 0.0
    if op == "$covariancePop":
        return q / n - (s / n) * (y / n) if n > 0 else None
    return (q - s * y / n) / (n - 1) if n > 1 else None


def _swf_whole(out, p, ctx):
    op = p["op"]
    t = {sfx: _fold([r[f"__{sfx}_{out}"] for r in ctx["parts"]], how)
         for sfx, _, how in _MOMENT_PARTIALS[op]}
    if op not in ("$sum", "$min", "$max"):
        return F.lit(_moment_value(op, t)).cast("double")
    # Mongo: $sum over an all-null frame is 0
    tot = 0 if op == "$sum" and t["s"] is None else t["s"]
    return F.lit(tot).cast(ctx["btypes"][f"__s_{out}"])


def _swf_self(out, p, ctx):
    from pyspark.sql import Window

    return _window_agg(p["op"], F.col(f"__gw_v_{out}")).over(
        ctx["wloc"].rowsBetween(Window.currentRow, Window.currentRow))


def _swf_running(out, p, ctx):
    # the running frame inside the range, combined with the carried
    # partials of every earlier (fwd) or later (bwd) range
    op, v = p["op"], F.col(f"__gw_v_{out}")
    loc_w = _gw_running(
        "__gw_ax" if p["kind"] in ("rfwd", "rbwd") else "__gw_rn",
        desc=p["kind"] in ("bwd", "rbwd"))
    if op in ("$min", "$max"):
        (_, agg, _), = _MOMENT_PARTIALS[op]
        return (F.least if op == "$min" else F.greatest)(
            agg(v).over(loc_w), F.col(f"__gw_cs_{out}"))
    z = F.lit(0) if op in ("$sum", "$avg") else F.lit(0.0)
    m = {}
    for sfx, agg, _ in _MOMENT_PARTIALS[op]:
        local, carry = agg(v).over(loc_w), F.col(f"__gw_c{sfx}_{out}")
        m[sfx] = (local + carry if sfx == "c"
                  else F.coalesce(local, z) + F.coalesce(carry, z))
    if op == "$sum":
        # Mongo's window $sum is 0 over empty/all-null frames, which the
        # coalesced sum already is
        return m["s"].cast(ctx["btypes"][f"__s_{out}"])
    n = m["c"] if op == "$avg" else m["c"].cast("double")
    return _moment_combine(op, n, m["s"], m.get("q"), m.get("y"))


# per-family output assemblers of _swf_global: (out, plan, ctx) ->
# Column; rfin/dfin and the running percentiles assemble separately
_SWF_ASSEMBLERS = {
    "rank": _swf_rank, "ema": _swf_ema,
    "deriv_whole": _swf_edge_whole, "integ_whole": _swf_edge_whole,
    "deriv_run": _swf_deriv_run, "deriv_rrun": _swf_deriv_run,
    "integ_run": _swf_integ_run, "integ_rrun": _swf_integ_run,
    "pctl_whole": _swf_pctl_whole, "firstlast": _swf_first_last,
    "whole": _swf_whole, "self": _swf_self,
    "fwd": _swf_running, "bwd": _swf_running,
    "rfwd": _swf_running, "rbwd": _swf_running,
}


def _check_fanout(frame: str, fanout: float) -> None:
    if fanout > MAX_RANGE_REPLICATION:
        raise ValueError(
            f"{frame} spans ~{fanout:.0f} ranges (> MAX_RANGE_REPLICATION="
            f"{MAX_RANGE_REPLICATION}): the replication fan-out would "
            "multiply shuffle volume — add partitionBy, or use "
            "fewer/wider ranges")


def _replicate_finite(rep: DataFrame, fins: dict, ladders: dict, tag: str,
                      owner: str, dest: str, axis: Column, offsets: dict,
                      growing_cum, order: tuple, chain_key) -> DataFrame:
    """Shared assembler of the finite-frame kinds (rfin, dfin): copy
    each row into every destination range between its lowest and
    highest ladder index (explode over a sequence), window each output
    per destination over `axis`, and keep the owner copies — they carry
    every earlier column 1:1, so the filtered frame IS the result, no
    join-back. Copies outside an output's own contributor interval
    carry a MASKED (null) value: they hold axis positions harmlessly and
    never corrupt a foreign frame.

    `ladders` maps each output to its (lo, hi) destination expressions,
    stored as __gw_{tag}lo_/__gw_{tag}hi_ columns; `offsets` to its
    [lo, hi] frame on `axis`; `growing_cum` builds the invertible ops'
    cumulatives; `order`/`chain_key` are the $derivative/$integral lag
    chain (see _fin_deriv_integ)."""
    from pyspark.sql import Window
    from pyspark.sql.types import DecimalType

    lo_cols, hi_cols = [F.col(owner)], [F.col(owner)]
    for out, (lo, hi) in ladders.items():
        rep = (rep.withColumn(f"__gw_{tag}lo_{out}", lo)
               .withColumn(f"__gw_{tag}hi_{out}", hi))
        lo_cols.append(F.col(f"__gw_{tag}lo_{out}"))
        hi_cols.append(F.col(f"__gw_{tag}hi_{out}"))
    rep = rep.withColumn(dest, F.explode(F.sequence(F.least(*lo_cols),
                                                    F.greatest(*hi_cols))))
    wdest = Window.partitionBy(dest)
    for out, p in fins.items():
        op, (lo, hi) = p["op"], offsets[out]
        vm = F.when(F.col(dest).between(F.col(f"__gw_{tag}lo_{out}"),
                                        F.col(f"__gw_{tag}hi_{out}")),
                    F.col(f"__gw_v_{out}"))
        if op in _INVERTIBLE_WINDOW_OPS and not (
                op == "$avg" and isinstance(_agg_type(rep, vm), DecimalType)):
            # growing-frame differencing instead of the O(width)/row
            # sliding frame; decimal $avg keeps the sliding path so
            # Spark's decimal-average precision rules apply unchanged
            col = _frame_from_cum(op, vm, growing_cum(wdest, axis, lo, hi))
            if op == "$sum":
                col = col.cast(_agg_type(rep, F.sum(vm)))
        else:
            # the window runs BEFORE the owner filter — filtering first
            # would drop the contributor copies from the frame
            w_fin = wdest.orderBy(axis.asc()).rangeBetween(lo, hi)
            if op in ("$deriv", "$integ"):
                col = _fin_deriv_integ(op, vm, w_fin, wdest.orderBy(*order),
                                       chain_key)
            elif op == "$pctl":
                pc = F.percentile(vm.cast("double"), F.array(
                    *[F.lit(x) for x in p["ps"]])).over(w_fin)
                col = F.element_at(pc, 1) if p["scalar"] else pc
            else:
                col = _window_agg(op, vm).over(w_fin)
        rep = rep.withColumn(out, col)
    return rep.filter(F.col(dest) == F.col(owner))


def _swf_rfin(ranged: DataFrame, rfins: dict, sort: dict,
              bs: list) -> DataFrame:
    """Finite [lo, hi] VALUE-RANGE frames: a row with key x contributes
    to the frames of rows y in [x-hi, x-lo], so it is copied into every
    scaffold range whose span overlaps that interval. The boundaries
    are literals, so the destinations are a pure row function — the
    carry scaffold's soundness rule. Fan-out ~ frame width / range
    span."""
    from maggma_spark.functions.partitioning import _numeric_key

    rf_field = next(iter(sort))
    span = ((float(bs[-1]) - float(bs[0])) / (len(bs) - 1)
            if len(bs) >= 2 else None)
    bkey = _numeric_key(ranged, rf_field)
    if bkey is None:
        bkey = F.col(rf_field)

    def pid_ladder(col):
        pid = F.lit(0)
        for b in bs:
            pid = pid + (col > F.lit(b)).cast("int")
        # null sort keys keep their own range (their frame only ever
        # matches other nulls)
        return F.when(F.col(rf_field).isNull(),
                      F.col("__gw_pid")).otherwise(pid.cast("int"))

    ladders = {}
    for out, p in rfins.items():
        rlo, rhi = (float(x) for x in p["range"])
        ms = _unit_ms(p["unit"])
        bscale = ms * 1000.0 if ms else 1.0  # boundary units: micros
        if span and span > 0:
            _check_fanout(f"range frame {p['range']}",
                          (rhi - rlo) * bscale / span)
        ladders[out] = (pid_ladder(bkey - F.lit(rhi * bscale)),
                        pid_ladder(bkey - F.lit(rlo * bscale)))
    ax, rn = F.col("__gw_ax"), F.col("__gw_rn")
    return _replicate_finite(
        ranged, rfins, ladders, "p", "__gw_pid", "__gw_dest", ax,
        {o: p["offsets"] for o, p in rfins.items()}, _growing_cum_range,
        (ax.asc(), rn.asc()), F.struct(ax, rn))


def _swf_dfin(ranged: DataFrame, dfins: dict, parts: list) -> DataFrame:
    """Finite ROW-OFFSET frames by the same replication on the GLOBAL
    row-number axis g = rn + prior-range row offset: the per-range
    cumulative row counts are driver scalars, so "which range holds
    global row g+k" is a literal ladder, and rangeBetween over the
    unique integer g equals the row-offset frame exactly. Tied sort keys
    follow the scaffold's deterministic rn (Mongo's tie traversal is
    likewise unspecified — DEVIATIONS §16)."""
    cums, acc = [], 0
    for r in parts:
        acc += r["__rows"]
        cums.append(acc)
    avg_rows = acc / max(1, len(parts))

    def idx_ladder(col):
        idx = F.lit(0)
        for c in cums[:-1]:
            idx = idx + (col > F.lit(int(c))).cast("int")
        return idx

    g = F.col("__gw_g")
    rep = (ranged.withColumn("__gw_g",
                             F.col("__gw_rn") + F.col("__gw_off_rows"))
           .withColumn("__gw_oidx", idx_ladder(g)))
    ladders = {}
    for out, p in dfins.items():
        dlo, dhi = p["frame"]
        if avg_rows > 0:
            _check_fanout(f"documents frame {list(p['frame'])}",
                          (dhi - dlo + 1) / avg_rows)
        ladders[out] = (idx_ladder(g - F.lit(dhi)), idx_ladder(g - F.lit(dlo)))
    return _replicate_finite(
        rep, dfins, ladders, "d", "__gw_oidx", "__gw_gdest", g,
        {o: p["frame"] for o, p in dfins.items()}, _growing_cum_axis,
        (g.asc(),), g)


def _swf_pctl_specs(pruns: dict, parts: list, presketch,
                    approx: bool) -> list:
    """_global_running_pctl specs of the running-percentile outputs: the
    probe's splits plus the boundary histograms when the combined probe
    ran (the kernels then skip their hist/fold/broadcast stages), else
    the value sketches that rode the boundary aggregate."""
    specs = []
    for o, p in pruns.items():
        ak = _pctl_argkey(p)
        sp = {"out": o, "ps": p["ps"], "scalar": p["scalar"],
              "mode": "range" if p["kind"] == "pctl_rrun" else "rows",
              "dir": p["dir"], "argkey": ak}
        if presketch is not None:
            rep, vbs = presketch["ak_rep"][ak], presketch["vbs"][ak]
            sp["vbs"], sp["bcol"] = vbs, f"__gw_hb_{rep}"
            sp["histcounts"] = [
                (r["__gw_pid"], [r[f"__ph_{rep}_{b}"] or 0
                                 for b in range(len(vbs) + 1)])
                for r in parts]
            if approx:
                sp["lo"] = presketch["row"][f"__lo_{rep}"]
                sp["hi"] = presketch["row"][f"__hi_{rep}"]
        else:
            sp["sketch"] = sorted(x for r in parts
                                  for x in (r[f"__pqsk_{o}"] or [])
                                  if x is not None)
            if approx:
                sp["lo"] = min((r[f"__pqlo_{o}"] for r in parts
                                if r[f"__pqlo_{o}"] is not None),
                               default=None)
                sp["hi"] = max((r[f"__pqhi_{o}"] for r in parts
                                if r[f"__pqhi_{o}"] is not None),
                               default=None)
        specs.append(sp)
    return specs


def _swf_global(df: DataFrame, plans: dict, sort: dict, approx: bool,
                bs: list = None, total: int = None) -> DataFrame:
    """Unpartitioned $setWindowFields WITHOUT the single-task global
    window: per-range windows over the range-partition scaffold,
    stitched by driver-folded broadcast carries (round history:
    SCALE.md). `plans` are _swf_kinds' plans; `approx` is the
    spark.maggma.windowPctl.method=approximate engine mode. Support
    matrix, by kind:

    - $rank/$denseRank/$documentNumber (rank): per-range rank plus
      prior-range row/distinct offsets — the range partitioner
      co-locates equal sort keys.
    - $sum/$avg/$min/$max/$stdDev*/$covariance* over documents frames
      ["unbounded","current"] (fwd carry), ["current","unbounded"]
      (bwd: reverse running frame + backward carry, never Spark's
      O(n^2) unbounded-following frame), ["unbounded","unbounded"]
      (whole: one literal), ["current","current"] (self) and finite
      [lo, hi] (dfin); over VALUE-RANGE frames on a numeric or
      date-`unit` timestamp sortBy: running (rfwd/rbwd) and finite
      [lo, hi] (rfin).
    - $first/$last over documents frames of unbounded/current ends
      (firstlast: an unbounded end is the global first/last row).
    - $median/$percentile: whole frame (pctl_whole, one extra action),
      running documents/range frames (pctl_run/pctl_rrun, see
      _global_running_pctl), finite frames (dfin/rfin).
    - $expMovingAvg (ema): per-range pandas-ewm kernel + affine
      (1-α)^k state carries.
    - $derivative/$integral: finite frames (dfin/rfin), running frames
      (deriv_run/integ_run, *_rrun: edge structs + trapezoid pair-sum
      carries), whole frames (*_whole: literals).

    dfin/rfin replicate rows into neighbouring ranges (_replicate_finite,
    fan-out guarded by MAX_RANGE_REPLICATION). Order-dependent
    accumulators ($push/$addToSet) raise and ask for partitionBy rather
    than silently funneling the data through one task."""
    spark = df.sparkSession
    kinds = {p["kind"] for p in plans.values()}
    need_sort = not kinds <= {"whole", "pctl_whole"}
    presketch = None
    if kinds & {"pctl_run", "pctl_rrun"} and need_sort and bs is None \
            and sort:
        presketch = _swf_probe(df, plans, sort, approx)
        if presketch is not None:
            bs = presketch["bs"]
    if need_sort:
        ranged, wloc, bs, scaffold_total = _global_scaffold(df, sort, bs)
    else:
        ranged = df.withColumn("__gw_pid", F.spark_partition_id())
        wloc, bs, scaffold_total = None, [], None
    if presketch is not None:
        scaffold_total = presketch["row"]["__n"]
    if scaffold_total is None:
        scaffold_total = total  # caller-precomputed (multi-pass)
    ranged = _swf_value_columns(ranged, plans, sort, presketch,
                                scaffold_total)
    # multi-action passes (percentile selection, replication, whole
    # percentiles, the EMA kernel) would re-run the scaffold's window
    # per action: a LAZY checkpoint, materialized by the boundary
    # aggregate below, lets every later action read blocks
    if need_sort and kinds & {"pctl_run", "pctl_rrun", "pctl_whole",
                              "rfin", "dfin", "ema"} and spark.conf.get(
            "spark.maggma.globalWindow.checkpoint", "auto") != "never":
        ranged = ranged.localCheckpoint(eager=False)
    parts, btypes = _swf_boundary(ranged, plans, sort, presketch, approx)
    # whole-frame-only specs fold to literals and need no carry join —
    # without the sort scaffold the pid is the NATURAL partition id,
    # not stable across jobs, so an inner join on it could drop rows
    if kinds & _SWF_CARRIED_KINDS:
        ranged = ranged.join(
            _carry_df(spark, *_swf_carries(plans, parts, btypes)),
            on="__gw_pid")
    # every output column is independent: ONE withColumns for all
    ctx = {"ranged": ranged, "parts": parts, "btypes": btypes,
           "wloc": wloc, "approx": approx}
    outs = {o: _SWF_ASSEMBLERS[p["kind"]](o, p, ctx)
            for o, p in plans.items() if p["kind"] in _SWF_ASSEMBLERS}
    if outs:
        ranged = ranged.withColumns(outs)
    rfins = {o: p for o, p in plans.items() if p["kind"] == "rfin"}
    if rfins:
        ranged = _swf_rfin(ranged, rfins, sort, bs)
    dfins = {o: p for o, p in plans.items() if p["kind"] == "dfin"}
    if dfins:
        ranged = _swf_dfin(ranged, dfins, parts)
    pruns = {o: p for o, p in plans.items()
             if p["kind"] in ("pctl_run", "pctl_rrun")}
    if pruns:
        total_rows = sum(r["__rows"] for r in parts)
        V = (presketch["V"] if presketch is not None else
             _pctl_bucket_count(total_rows, approx, _approx_buckets(spark)))
        ranged = _global_running_pctl(
            ranged, total_rows,
            _swf_pctl_specs(pruns, parts, presketch, approx), V, approx)
    return ranged.drop(*[c for c in ranged.columns
                         if c.startswith("__gw_")])


def _set_window_fields(df: DataFrame, spec: dict) -> DataFrame:
    """$setWindowFields (Mongo 5.0 window functions): every output is
    planned first (_swf_plans), then assembled by its family. WITHOUT
    partitionBy the naive compile is a single-task global sort; those
    outputs run through _swf_unpartitioned (support matrix: _swf_global).
    The partitioned support matrix, by family (_PW_ASSEMBLERS), each a
    Spark Window over partitionBy + sortBy:

    - rank: $rank/$denseRank/$documentNumber; shift: $shift lead/lag
      with `default`; locf/linearFill: last non-null over the running
      frame, interpolation along the single sortBy field (either
      direction). These reject a `window`.
    - ema: $expMovingAvg, a per-partition pandas ewm kernel.
    - deriv/integ: $derivative/$integral over any documents or range
      frame (a window is required).
    - pctl: $median/$percentile, exact interpolation over any frame;
      running frames in the approximate engine mode run through
      _partitioned_running_pctl_approx.
    - moment/firstlast/acc: every accumulator over any documents frame
      or value-range frame on the single ascending sortBy field
      (numeric offsets, or a date `unit` millisecond..week over exact
      epoch-ms); finite $sum/$avg/$stdDev*/$covariance* frames
      difference growing frames (_pw_cum), never a sliding aggregate.

    An inverted frame (lo > hi) raises on both paths."""
    from pyspark.sql import Window

    sort = spec.get("sortBy") or {}
    plans = _swf_plans(spec, sort)
    # Mongo's window $median/$percentile only OFFER method "approximate";
    # the default stays the exact (oracle bit-matchable) path and the
    # engine conf licenses the sketch paths
    approx = df.sparkSession.conf.get(
        "spark.maggma.windowPctl.method", "exact") == "approximate"
    if "partitionBy" not in spec:
        return _swf_unpartitioned(df, plans, sort, approx)
    for p in plans.values():
        if p["family"] not in _PW_ASSEMBLERS:
            raise ValueError(f"unsupported window operator {p['name']}")
    w = Window.partitionBy(_value(df, spec["partitionBy"]))
    ctx = {"w": w, "ordered": w.orderBy(*_order_cols(sort)), "sort": sort,
           "by": spec["partitionBy"], "approx": approx}
    for out, p in plans.items():
        df = _PW_ASSEMBLERS[p["family"]](df, out, p, ctx)
    return df


def _swf_unpartitioned(df: DataFrame, plans: dict, sort: dict,
                       approx: bool) -> DataFrame:
    """Unpartitioned $setWindowFields. $shift/$locf/$linearFill are
    positional, not framed: they split off into their own distributed
    passes ($shift: address-shift join on the global row number; $locf/
    $linearFill: _fill_global's carry machinery) and the framed outputs
    route through _swf_global's scaffold. Mongo forbids these outputs
    referencing each other, so sequential application over the input
    frame is exact."""
    rest = _swf_kinds(plans, sort)
    fills = {o: p for o, p in plans.items()
             if p["family"] in ("locf", "linearFill")}
    shifts = {o: p["arg"] for o, p in plans.items()
              if p["family"] == "shift"}
    # pass order is by DESCENDING driver-action count: a later pass's
    # actions re-execute every earlier pass's lineage, so the scaffold
    # pass (3-5 actions) runs first; a non-trivial INPUT lineage is
    # materialized once so those actions read blocks (round-9), and the
    # passes share ONE set of range-split values of the sortBy
    out_df = _maybe_checkpoint_global_input(df)
    bs = pre_total = None
    if fills or shifts:
        from maggma_spark.functions.partitioning import range_boundaries

        n = int(out_df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        bs, pre_total = range_boundaries(
            out_df, next(iter(sort)), n,
            min_rows_per_range=_min_rows_per_range(out_df.sparkSession),
            with_total=True)
    if rest:
        out_df = _swf_global(out_df, rest, sort, approx, bs=bs,
                             total=pre_total)
    if fills:
        for o, p in fills.items():
            out_df = out_df.withColumn(o, _value(out_df, p["arg"]))
        fspec = {"output": {
            o: {"method": "locf" if p["family"] == "locf" else "linear"}
            for o, p in fills.items()}}
        if shifts and not _shift_reads_fill_outputs(shifts, fills):
            # fused path (round-12): one scaffold + one boundary
            # aggregate for both families instead of two of each — the
            # sequential form re-range-partitions the full-width fill
            # output just to scaffold the shift pass
            return _fill_shift_global(out_df, fspec, shifts, sort, bs=bs)
        out_df = _fill_global(out_df, fspec, sort, bs=bs)
    if shifts:
        out_df = _shift_global(out_df, shifts, sort, bs=bs)
    return out_df


def _pw_axis(p: dict, ctx: dict) -> Column:
    """The value axis of a partitioned range frame: the single sortBy
    field, or its exact epoch-ms under a `unit` (the plan offsets are
    already in ms)."""
    (field, _), = ctx["sort"].items()
    return _epoch_ms(field) if p["unit"] else F.col(field)


def _pw_frame(p: dict, ctx: dict):
    """A plan's frame over the partition window: rowsBetween in the
    sortBy order (documents), rangeBetween on _pw_axis (range)."""
    from pyspark.sql import Window

    lo, hi = p["offsets"]
    lo = Window.unboundedPreceding if lo == "unbounded" else lo
    hi = Window.unboundedFollowing if hi == "unbounded" else hi
    if p["axis"] == "range":
        return ctx["w"].orderBy(_pw_axis(p, ctx).asc()).rangeBetween(lo, hi)
    return (ctx["ordered"] if ctx["sort"] else ctx["w"]).rowsBetween(lo, hi)


def _pw_cum(p: dict, ctx: dict):
    """cum(fn, expr) of a plan's finite frame as the difference of
    growing frames (see _growing_cum_rows), or None when an end is
    unbounded (or a range end is "current")."""
    if p["fin"] is None:
        return None
    if p["axis"] == "range":
        return _growing_cum_range(ctx["w"], _pw_axis(p, ctx), *p["offsets"])
    return _growing_cum_rows(ctx["ordered"], *p["fin"])


def _pw_rank(df: DataFrame, out: str, p: dict, ctx: dict) -> DataFrame:
    return df.withColumn(out, _RANK_FNS[p["op"]]().over(ctx["ordered"]))


def _pw_shift(df: DataFrame, out: str, p: dict, ctx: dict) -> DataFrame:
    by, dflt = int(p["arg"]["by"]), p["arg"].get("default")
    v = _value(df, p["arg"]["output"])
    fn = F.lead(v, by, dflt) if by >= 0 else F.lag(v, -by, dflt)
    return df.withColumn(out, fn.over(ctx["ordered"]))


def _pw_fill(df: DataFrame, out: str, p: dict, ctx: dict) -> DataFrame:
    """$locf: the last non-null value over the running frame.
    $linearFill: interpolate between the previous and next known values
    along the sortBy field; the next one is the last non-null over the
    MIRRORED running frame, never Spark's unbounded-following frame."""
    from pyspark.sql import Window

    run = ctx["ordered"].rowsBetween(Window.unboundedPreceding,
                                     Window.currentRow)
    if p["family"] == "locf":
        return df.withColumn(out, F.last(
            _value(df, p["arg"]), ignorenulls=True).over(run))
    (field, direction), = ctx["sort"].items()
    x = _time_axis(field, None)
    v = _value(df, p["arg"]).cast("double")
    rev = (ctx["w"].orderBy(*_order_cols({field: -direction}))
           .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    known_x = F.when(v.isNotNull(), x)
    pv = F.last(v, ignorenulls=True).over(run)
    px = F.last(known_x, ignorenulls=True).over(run)
    nv = F.last(v, ignorenulls=True).over(rev)
    nx = F.last(known_x, ignorenulls=True).over(rev)
    interp = pv + F.when(nx != px, (nv - pv) * (x - px) / (nx - px))
    return df.withColumn(out, F.coalesce(v, interp))


def _pw_edge(df: DataFrame, out: str, p: dict, ctx: dict) -> DataFrame:
    """$derivative: the frame's end-point slope. $integral: trapezoid
    pair terms summed over the frame. Row i's pair covers
    (t_{i-1}, t_i], so the frame's first pair spans OUTSIDE the window
    and is subtracted unless the frame starts unbounded (there it is
    null at the partition head and the sum skips it); a single-point
    window integrates to 0, as in Mongo."""
    (field, _), = ctx["sort"].items()
    t = _time_axis(field, _unit_ms(p["tunit"]))
    v = _value(df, p["arg"]).cast("double")
    frame = _pw_frame(p, ctx)
    if p["family"] == "deriv":
        dv = (F.last(v, ignorenulls=False).over(frame)
              - F.first(v, ignorenulls=False).over(frame))
        dt = F.last(t).over(frame) - F.first(t).over(frame)
        return df.withColumn(out, F.when(dt != 0, dv / dt))
    ordered = ctx["ordered"]
    pair = (v + F.lag(v).over(ordered)) / 2 * (t - F.lag(t).over(ordered))
    total = F.sum(pair).over(frame)
    if p["bounds"][0] != "unbounded":
        total = total - F.coalesce(
            F.first(pair, ignorenulls=False).over(frame), F.lit(0.0))
    return df.withColumn(out, F.coalesce(total, F.lit(0.0)))


def _pw_pctl(df: DataFrame, out: str, p: dict, ctx: dict) -> DataFrame:
    """$median/$percentile: exact continuous interpolation (the
    expression-form deviation, DEVIATIONS §20d) over the frame; the
    result is a scalar for $median, the array of requested quantiles
    for $percentile. Spark re-scans the frame per row (O(w)/row), so an
    unbounded running frame is quadratic per partition at the exact
    default; the approximate engine mode is the O(G)/row scale path."""
    if ctx["approx"] and p["shape"] in ("fwd", "bwd"):
        return _partitioned_running_pctl_approx(
            df, ctx["by"], ctx["sort"], out, p)
    v = _value(df, p["arg"]).cast("double")
    pc = F.percentile(v, F.array(*[F.lit(x) for x in p["ps"]])).over(
        _pw_frame(p, ctx))
    return df.withColumn(out, F.element_at(pc, 1) if p["scalar"] else pc)


def _pw_acc(df: DataFrame, out: str, p: dict, ctx: dict) -> DataFrame:
    """Accumulators over the plan's frame. Finite frames of the
    invertible ones difference growing frames (_pw_cum); decimal $avg
    keeps the sliding aggregate so Spark's decimal average precision
    rules apply unchanged."""
    from pyspark.sql.types import DecimalType

    op = p["op"]
    cum = _pw_cum(p, ctx) if op in _INVERTIBLE_WINDOW_OPS else None
    if op in ("$covariancePop", "$covarianceSamp"):
        a, b = p["arg"]
        if cum is not None:
            return df.withColumn(out, _frame_from_cum(
                op, _cov_pair(df, a, b), cum))
        fn = F.covar_pop if op == "$covariancePop" else F.covar_samp
        return df.withColumn(out, fn(
            _value(df, a).cast("double"),
            _value(df, b).cast("double")).over(_pw_frame(p, ctx)))
    v = _value(df, p["arg"])
    if cum is not None and not (op == "$avg" and isinstance(
            _agg_type(df, v), DecimalType)):
        col = _frame_from_cum(op, v, cum)
        if op == "$sum":
            # exact subtraction widens decimal sums by one digit; pin
            # back to the direct aggregate's type
            col = col.cast(_agg_type(df, F.sum(v)))
        return df.withColumn(out, col)
    col = _ACCUMULATORS[op](v).over(_pw_frame(p, ctx))
    if op == "$sum":
        # Mongo's window $sum is 0 over an empty/all-null frame; Spark's
        # SUM is null — coalesce to the Mongo value
        col = F.coalesce(col, F.lit(0))
    return df.withColumn(out, col)


def _partitioned_running_pctl_approx(
        df: DataFrame, partition_by, sort: dict, out: str,
        p: dict) -> DataFrame:
    """PARTITIONED running $median/$percentile in the approximate
    engine mode (spark.maggma.windowPctl.method=approximate — Mongo's
    window forms only OFFER method:"approximate"): the exact compile
    is Spark's O(frame)/row percentile window, quadratic per partition
    over a running frame — the same scale cliff the global path's
    order-statistics pass removed. Here each GROUP gets its own
    equi-depth value buckets (one groupBy percentile_approx sketch,
    joined back), per-bucket RUNNING counts are G window sums sharing
    one frame spec, and the answer interpolates the target rank within
    its bucket between the bucket's value edges — identical
    interpolation (and rank-error bound: the group's largest bucket
    mass + sketch error) to the global approximate path, but bounded
    per group. O(G)/row, one extra shuffle (the sketch join), no
    Python in the per-row path.

    `p` is the output's plan (_swf_plans), a running frame
    (['unbounded','current'] / ['current','unbounded'], documents or
    single-sortBy value range); reverse frames run mirrored running
    windows, never Spark's unbounded-following frame."""
    from pyspark.sql import Window

    G = max(2, min(64, _approx_buckets(df.sparkSession) or 32))
    pexpr = _value(df, partition_by)
    v = _value(df, p["arg"]).cast("double")
    tag = f"__pp_{out}"
    df = df.withColumn(f"{tag}_p", pexpr).withColumn(f"{tag}_v", v)
    grid = [i / G for i in range(1, G)]
    sk = (df.groupBy(f"{tag}_p")
          .agg(F.percentile_approx(
                   F.col(f"{tag}_v"),
                   F.array(*[F.lit(q) for q in grid]),
                   F.lit(10_000)).alias(f"{tag}_sk"),
               F.min(f"{tag}_v").alias(f"{tag}_lo"),
               F.max(f"{tag}_v").alias(f"{tag}_hi")))
    # ONE broadcast-able edges frame; join it TWICE — before the
    # window to stamp the int bucket index, and again after it for
    # the interpolation — so only the 4-byte index (never the
    # (G+1)-double arrays) rides the window's shuffle+sort. Dragging
    # the sketch arrays through the sort cost ~90 s of the 10M probe.
    edges_df = F.broadcast(sk.select(
        F.col(f"{tag}_p").alias(f"{tag}_pp"),
        F.col(f"{tag}_sk").alias(f"{tag}_ske"),
        F.concat(F.array(F.col(f"{tag}_lo")), F.col(f"{tag}_sk"),
                 F.array(F.col(f"{tag}_hi"))).alias(f"{tag}_e")))
    # both edges joins must be NULL-SAFE: Window.partitionBy (the
    # exact path) and Mongo both treat a null/missing partition key
    # as a valid partition, so a plain equi-join here would silently
    # drop every null-key row when the engine mode flips
    df = df.join(
        edges_df.select(f"{tag}_pp", f"{tag}_ske"),
        F.col(f"{tag}_p").eqNullSafe(F.col(f"{tag}_pp"))
    ).drop(f"{tag}_pp")

    fwd = p["shape"] == "fwd"
    if p["axis"] == "range":
        (field, _), = sort.items()
        axis = _epoch_ms(field) if p["unit"] else F.col(field)
        w = (Window.partitionBy(f"{tag}_p")
             .orderBy(axis.asc() if fwd else axis.desc())
             .rangeBetween(Window.unboundedPreceding, 0))
    else:
        # reverse frame = the same running window over the MIRRORED
        # traversal (every sort direction flipped), never Spark's
        # O(n^2) unbounded-following frame
        cols = _order_cols(sort if fwd
                           else {k: -d for k, d in sort.items()})
        w = (Window.partitionBy(f"{tag}_p").orderBy(*cols)
             .rowsBetween(Window.unboundedPreceding, 0))
    vc = F.col(f"{tag}_v")
    # bucket index ONCE per row (O(G) array filter), so each of the G
    # running-count window terms is a plain integer compare — value
    # comparisons against the edge array inside the window terms
    # evaluated interpreted per row per bucket (measured 203 s at 10M;
    # this form: see SCALE.md round-9)
    jladder = sum(
        (F.element_at(F.col(f"{tag}_ske"), b) < vc).cast("int")
        for b in range(1, G))
    df = (df.withColumn(f"{tag}_j",
                        F.when(vc.isNotNull(), jladder))
          .drop(f"{tag}_ske"))
    jx = F.col(f"{tag}_j")
    cums = F.array(*[
        F.coalesce(
            F.sum(F.when(jx <= b, 1).otherwise(0).cast("long"))
            .over(w), F.lit(0))
        for b in range(G)])
    # m as its own window count: q = p(m-1)+1 is inlined into every
    # ladder term below, so it must be a trivial tree (a column ref),
    # not an element_at re-evaluated G times per row
    df = (df.withColumn(f"{tag}_c", cums)
          .withColumn(f"{tag}_m", F.count(vc).over(w)))
    # second (broadcast) edges join AFTER the window, for the
    # interpolation only — null-safe for the same reason as above
    df = df.join(
        edges_df.select(f"{tag}_pp", f"{tag}_e"),
        F.col(f"{tag}_p").eqNullSafe(F.col(f"{tag}_pp"))
    ).drop(f"{tag}_pp")
    edges = F.col(f"{tag}_e")
    ca = F.col(f"{tag}_c")
    m = F.col(f"{tag}_m").cast("double")
    # materialize each target's bucket index as its OWN column first:
    # b is a G-term comparison ladder referenced ~6x in the
    # interpolation below, and inlined it re-evaluates per reference
    # (the whole tree overflows the codegen budget, so there is no
    # CSE to rescue it — measured ~80 us/row at G=16, round-11);
    # CollapseProject cannot inline a non-cheap multiply-referenced
    # alias, so the attribute form evaluates the ladder once per
    # (row, p)
    bcols = {}
    ps = p["ps"]
    for pi, pv in enumerate(ps):
        q = F.lit(float(pv)) * (m - 1) + F.lit(1.0)
        # comparison ladder, not an array-filter HOF: higher-order
        # lambdas evaluate interpreted per row (CodegenFallback) and
        # dominated the 10M probe; the same reason the jladder above
        # is a sum of plain compares
        bcols[f"{tag}_b{pi}"] = F.least(
            sum((F.element_at(ca, i + 1).cast("double") < q)
                .cast("int") for i in range(G)),
            F.lit(G - 1))
    df = df.withColumns(bcols)
    outs = []
    for pi, pv in enumerate(ps):
        q = F.lit(float(pv)) * (m - 1) + F.lit(1.0)
        b = F.col(f"{tag}_b{pi}")
        prior = F.when(b > 0, F.element_at(ca, b).cast("double")) \
            .otherwise(F.lit(0.0))
        cnt = F.element_at(ca, b + 1).cast("double") - prior
        frac = F.when(cnt > 0, (q - prior) / F.greatest(cnt, F.lit(1.0))) \
            .otherwise(F.lit(1.0))
        e_lo = F.element_at(edges, b + 1)
        e_hi = F.element_at(edges, b + 2)
        outs.append(F.when(m > 0, e_lo + frac * (e_hi - e_lo)))
    col = outs[0] if p["scalar"] else F.array(*outs)
    return df.withColumn(out, col).drop(
        f"{tag}_p", f"{tag}_v", f"{tag}_e", f"{tag}_j", f"{tag}_c",
        f"{tag}_m", *bcols)


def _exp_moving_avg(df: DataFrame, out: str, p: dict,
                    ctx: dict) -> DataFrame:
    """$expMovingAvg: sequentially-dependent (ewma_i depends on
    ewma_{i-1}), so no window aggregate expresses it — an Arrow
    applyInPandas kernel runs the recurrence per partition, sorted.
    The closed-form alternative (powers of 1/(1-alpha)) overflows for
    long series, so the sequential kernel is the robust shape; per-key
    history bounds each group exactly like the window operators."""
    alpha, sort_items = p["alpha"], list(ctx["sort"].items())
    tagged = (df.withColumn("__ew_p", _value(df, ctx["by"]))
              .withColumn("__ew_v", _value(df, p["arg"])
                          .cast("double")))
    out_schema = ", ".join(
        [f"`{f.name}` {f.dataType.simpleString()}"
         for f in tagged.schema.fields] + [f"`{out}` double"])

    def kernel(pdf):
        pdf = pdf.sort_values(
            [k for k, _ in sort_items],
            ascending=[d > 0 for _, d in sort_items],
            kind="mergesort")
        # pandas' C ewm kernel IS the Mongo recurrence: adjust=False
        # gives e0 = v0, e_i = alpha*v_i + (1-alpha)*e_{i-1};
        # ignore_na=True skips nulls in the recurrence and emits the
        # carried state at null positions — exactly the "null carries
        # state" rule the old per-row Python loop implemented
        pdf[out] = pdf["__ew_v"].ewm(
            alpha=alpha, adjust=False, ignore_na=True).mean()
        return pdf

    return (tagged.groupBy("__ew_p").applyInPandas(kernel, out_schema)
            .drop("__ew_p", "__ew_v"))


# partitioned output assemblers by plan family: (df, out, plan, ctx) ->
# df with the output column; ctx holds the partition window "w", its
# sortBy order "ordered", "sort", the partitionBy expression "by" and
# the "approx" engine mode
_PW_ASSEMBLERS = {
    "rank": _pw_rank, "shift": _pw_shift, "locf": _pw_fill,
    "linearFill": _pw_fill, "ema": _exp_moving_avg, "deriv": _pw_edge,
    "integ": _pw_edge, "pctl": _pw_pctl, "moment": _pw_acc,
    "firstlast": _pw_acc, "acc": _pw_acc,
}


_DENSIFY_UNITS = {"second": 1, "minute": 60, "hour": 3600, "day": 86400,
                  "week": 7 * 86400}
_DENSIFY_MONTH_UNITS = {"month": 1, "quarter": 3, "year": 12}


def _densify_calendar(df: DataFrame, spec: dict) -> DataFrame:
    """$densify with a CALENDAR unit (month/quarter/year): steps are
    lower_bound + k * step months — always added to the ORIGINAL
    bound (Mongo's rule), never cumulatively, so month-end clamping
    cannot drift. Grid generation mirrors the numeric path's scale
    shape: known scalar bounds use a distributed spark.range over the
    step count; partition bounds expand a per-partition index sequence
    (parallel across partitions)."""
    field = spec["field"]
    rng = spec["range"]
    step = int(rng["step"])
    mstep = step * _DENSIFY_MONTH_UNITS[rng["unit"]]
    bounds = rng.get("bounds", "full")
    parts = spec.get("partitionByFields", [])
    spark = df.sparkSession
    col = F.col(field).cast("timestamp")

    def months_span(lo, hi):
        m = (hi.year - lo.year) * 12 + (hi.month - lo.month)
        return max(0, m)

    def scalar_grid(lo, hi):
        if lo is None or hi is None or hi < lo:
            return spark.range(0).select(
                F.col("id").cast("timestamp").alias("__g"))
        n = months_span(lo, hi) // mstep + 2  # overshoot, filter below
        return (spark.range(n).select(
            F.timestamp_add("MONTH", (F.col("id") * mstep).cast("int"),
                            F.lit(lo).cast("timestamp")).alias("__g"))
            .filter(F.col("__g") <= F.lit(hi)))

    if bounds == "full":
        row = df.agg(F.min(col).alias("lo"), F.max(col).alias("hi")).first()
        vals = scalar_grid(row["lo"], row["hi"])
        grid = (df.select(*parts).distinct().crossJoin(vals)
                if parts else vals)
    elif bounds == "partition":
        if not parts:
            raise ValueError("bounds='partition' needs partitionByFields")
        span = df.groupBy(*parts).agg(F.min(col).alias("__lo"),
                                      F.max(col).alias("__hi"))
        n = F.floor(F.months_between("__hi", "__lo") / mstep).cast("int")
        grid = (span.select(
            *parts, "__lo", "__hi",
            F.explode(F.sequence(F.lit(0), n + 1)).alias("__k"))
            .select(*parts, "__hi", F.timestamp_add(
                "MONTH", F.col("__k") * mstep, F.col("__lo"))
                .alias("__g"))
            .filter(F.col("__g") <= F.col("__hi"))
            .select(*parts, "__g"))
    else:
        lo, hi = bounds
        vals = scalar_grid(lo, hi)
        grid = (df.select(*parts).distinct().crossJoin(vals)
                if parts else vals)
    grid = grid.select(*parts, F.col("__g").alias(field))
    on = parts + [field]
    missing = grid.join(df.select(*on).distinct(), on=on, how="left_anti")
    return df.unionByName(missing, allowMissingColumns=True)


def _densify(df: DataFrame, spec: dict) -> DataFrame:
    """$densify: materialize missing steps of a numeric/timestamp field.

    bounds="full" (and explicit [lo, hi] bounds) span known scalars, so
    the grid is a DISTRIBUTED spark.range over the step count — never a
    single-task explode of the whole global sequence (at 100 TB a
    second-granularity multi-year grid is billions of rows; one
    sequence() row would generate all of them in one task).
    bounds="partition" spans each partition's own min/max via
    sequence+explode of that partition's row — parallel across
    partitions, with the caveat that one partition's span is generated
    by one task (inherent to per-partition bounds; pick partition
    fields whose spans are sane). Gap rows carry nulls for every other
    field ($fill completes them).
    """
    field = spec["field"]
    rng = spec["range"]
    step, unit = rng["step"], rng.get("unit")
    if unit in _DENSIFY_MONTH_UNITS:
        return _densify_calendar(df, spec)
    if unit is not None and unit not in _DENSIFY_UNITS:
        raise ValueError(f"$densify unit {unit!r} not supported")
    bounds = rng.get("bounds", "full")
    parts = spec.get("partitionByFields", [])
    is_ts = unit is not None
    col = F.col(field).cast("long") if not is_ts else \
        F.unix_timestamp(F.col(field))
    stride = int(step) * (_DENSIFY_UNITS[unit] if is_ts else 1)
    spark = df.sparkSession

    def scalar_grid(lo, hi):
        """Distributed grid frame for driver-known [lo, hi]."""
        if lo is None or hi is None or hi < lo:  # empty input
            return spark.range(0).select(F.col("id").alias("__g"))
        n_steps = (int(hi) - int(lo)) // stride + 1
        return spark.range(n_steps).select(
            (F.lit(int(lo)) + F.col("id") * stride).alias("__g"))

    if bounds == "full":
        row = df.agg(F.min(col).alias("lo"), F.max(col).alias("hi")).first()
        vals = scalar_grid(row["lo"], row["hi"])
        grid = (df.select(*parts).distinct().crossJoin(vals)
                if parts else vals)
    elif bounds == "partition":
        if not parts:
            raise ValueError("bounds='partition' needs partitionByFields")
        span = df.groupBy(*parts).agg(F.min(col).alias("__lo"),
                                      F.max(col).alias("__hi"))
        grid = span.select(
            *parts,
            F.explode(F.sequence("__lo", "__hi",
                                 F.lit(stride))).alias("__g"))
    else:
        lo, hi = bounds
        import datetime as _dt

        # explicit timestamp bounds arrive as datetimes; the grid is
        # epoch seconds (session is pinned UTC)
        lo = int(lo.timestamp()) if isinstance(lo, _dt.datetime) else lo
        hi = int(hi.timestamp()) if isinstance(hi, _dt.datetime) else hi
        vals = scalar_grid(lo, hi)
        grid = (df.select(*parts).distinct().crossJoin(vals)
                if parts else vals)
    if is_ts:
        grid = grid.select(*parts,
                           F.timestamp_seconds("__g").alias(field))
    else:
        grid = grid.select(*parts, F.col("__g").alias(field))
    on = parts + [field]
    # Mongo keeps EVERY original doc and only ADDS the missing steps —
    # off-grid originals must survive, so this is original ∪ (grid
    # points with no exact-match original), not a grid-left-join
    missing = grid.join(df.select(*on).distinct(), on=on, how="left_anti")
    return df.unionByName(missing, allowMissingColumns=True)


def _shift_reads_fill_outputs(shifts: dict, fills: dict) -> bool:
    """Fused-path guard (round-12): if a $shift output expression
    might reference a column that a $locf/$linearFill OUTPUT
    (over)writes, the sequential order is semantically load-bearing
    (shift must see the FILLED values) and fusion is skipped.
    Conservative by construction — a false positive only falls back
    to the sequential two-scaffold path."""
    import re

    refs = repr([a.get("output") for a in shifts.values()])
    return any(re.search(r"\$" + re.escape(o) + r"\b", refs)
               for o in fills)


def _shift_prep(ranged: DataFrame, shifts: dict):
    """Shared head of the $shift machinery: the work frame
    (+ __sh_v_* value columns, + the reverse row number __sh_rnd) and
    the boundary-aggregate expressions. Split out (round-12) so the
    fused fill+shift path can ride ONE boundary aggregate and ONE
    scaffold for both operator families."""
    from pyspark.sql import Window

    max_by = max(abs(int(a["by"])) for a in shifts.values())
    if max_by > MAX_SHIFT_CARRY:
        raise ValueError(
            f"$shift by {max_by} exceeds MAX_SHIFT_CARRY="
            f"{MAX_SHIFT_CARRY}: the driver folds |by| edge rows per "
            "range — add partitionBy for frame-sized shifts")
    work = ranged
    for o, a in shifts.items():
        work = work.withColumn(f"__sh_v_{o}", _value(work, a["output"]))
    work = work.withColumn(
        "__sh_rnd",
        F.row_number().over(Window.partitionBy("__gw_pid")
                            .orderBy(F.col("__gw_rn").desc())))
    edge = F.struct(F.col("__gw_rn").alias("rn"),
                    *[F.col(f"__sh_v_{o}").alias(o) for o in shifts])
    aggs = [
        F.count(F.lit(1)).alias("__rows"),
        F.collect_list(F.when(F.col("__gw_rn") <= max_by, edge))
        .alias("__heads"),
        F.collect_list(F.when(F.col("__sh_rnd") <= max_by, edge))
        .alias("__tails")]
    return work, aggs


def _shift_global(df: DataFrame, shifts: dict, sort: dict,
                  bs: list = None, _work: DataFrame = None,
                  _parts: list = None) -> DataFrame:
    """UNPARTITIONED $shift without the single-task global window AND
    without a full-width self-join: lead/lag run per scaffold range,
    and only the addresses that CROSS a range boundary — at most |by|
    rows per range edge — resolve through a driver-folded broadcast
    of edge values (O(|by| x ranges) scalars, MAX_SHIFT_CARRY guard).
    All patching is POSITIONAL: `default` fills only addresses
    outside the global frame, an in-frame null value stays null, and
    a cross-range address always hits the edge broadcast because any
    row |by|-reachable from another range sits within |by| of its own
    range's boundary. One boundary aggregate action (per-range count
    + head/tail edge structs), zero data-sized shuffles beyond the
    scaffold's own range partitioning.

    ``_work``/``_parts`` (round-12, the fused fill+shift path): the
    caller already built the work frame via _shift_prep (possibly
    with fill outputs applied on top — fill outputs cannot be
    referenced by shift expressions, so __sh_v_* are unaffected) and
    collected the combined boundary aggregate; skip both here."""
    from pyspark.sql import Window

    spark = df.sparkSession
    wasc = Window.partitionBy("__gw_pid").orderBy("__gw_rn")
    if _work is None:
        ranged, _wloc, _bs, _tot = _global_scaffold(df, sort, bs)
        work, aggs = _shift_prep(ranged, shifts)
        parts = sorted(work.groupBy("__gw_pid").agg(*aggs).collect(),
                       key=lambda r: r["__gw_pid"])
    else:
        work, parts = _work, _parts
    offs, run = {}, 0
    for r in parts:
        offs[r["__gw_pid"]] = run
        run += r["__rows"]
    total = run
    edge_rows = {}
    for r in parts:
        for e in list(r["__heads"]) + list(r["__tails"]):
            g = offs[r["__gw_pid"]] + e["rn"]
            edge_rows[g] = tuple(e[o] for o in shifts)
    vtypes = {f.name: f.dataType for f in work.schema.fields}
    from pyspark.sql.types import LongType, StructField, StructType

    eschema = StructType([StructField("__sh_eg", LongType(), False)]
                         + [StructField(f"__sh_e_{o}",
                                        vtypes[f"__sh_v_{o}"], True)
                            for o in shifts])
    edf = spark.createDataFrame(
        [(g, *vs) for g, vs in sorted(edge_rows.items())], eschema)

    off_expr = F.lit(0)
    for pid, off in offs.items():
        off_expr = F.when(F.col("__gw_pid") == pid, F.lit(off)) \
            .otherwise(off_expr)
    cnt_expr = F.lit(0)
    for r in parts:
        cnt_expr = F.when(F.col("__gw_pid") == r["__gw_pid"],
                          F.lit(r["__rows"])).otherwise(cnt_expr)
    res = work.withColumn(
        "__sh_g", (off_expr + F.col("__gw_rn")).cast("long"))
    by_groups: dict = {}
    for o, a in shifts.items():
        by_groups.setdefault(int(a["by"]), []).append(o)
    for bi, (by, outs) in enumerate(by_groups.items()):
        src = F.broadcast(edf.select(
            (F.col("__sh_eg") - F.lit(by)).cast("long")
            .alias(f"__sh_d{bi}"),
            *[F.col(f"__sh_e_{o}") for o in outs]))
        res = res.join(src, res["__sh_g"] == src[f"__sh_d{bi}"],
                       "left").drop(f"__sh_d{bi}")
        for o in outs:
            fn = (F.lead(F.col(f"__sh_v_{o}"), by) if by >= 0
                  else F.lag(F.col(f"__sh_v_{o}"), -by))
            pos = F.col("__gw_rn") + F.lit(by)
            gpos = F.col("__sh_g") + F.lit(by)
            col = (F.when((pos >= 1) & (pos <= cnt_expr),
                          fn.over(wasc))
                   .when((gpos >= 1) & (gpos <= total),
                         F.col(f"__sh_e_{o}")))
            dflt = shifts[o].get("default")
            if dflt is not None:
                col = F.when((gpos >= 1) & (gpos <= total), col) \
                    .otherwise(F.lit(dflt))
            res = res.withColumn(o, col).drop(f"__sh_e_{o}")
    return res.drop(*[c for c in res.columns
                      if c.startswith(("__sh_", "__gw_"))])


def _fill_boundary_aggs(methods: dict, xc) -> list:
    """Boundary-observation aggregate expressions of _fill_global —
    split out (round-12) so the fused fill+shift path can ride one
    combined boundary aggregate."""
    aggs = []
    for out, odoc in methods.items():
        known = F.when(F.col(out).isNotNull(), F.col("__gw_rn"))
        if odoc["method"] == "locf":
            aggs.append(F.max_by(F.col(out), known).alias(f"__l_{out}"))
        else:
            v = F.col(out).cast("double")
            aggs += [F.max_by(v, known).alias(f"__l_{out}"),
                     F.max_by(xc, known).alias(f"__lx_{out}"),
                     F.min_by(v, known).alias(f"__f_{out}"),
                     F.min_by(xc, known).alias(f"__fx_{out}")]
    return aggs


def _fill_global(df: DataFrame, spec: dict, sort: dict,
                 bs: list = None, _work: DataFrame = None,
                 _parts: list = None, _keep: bool = False) -> DataFrame:
    """UNPARTITIONED $fill (locf/linear) without the single-task
    global-order window: per-partition fills over the range-partition
    scaffold, with each partition's boundary observations (last known
    value looking forward, first known looking backward) folded
    driver-side into per-partition carry scalars and broadcast back.
    One boundary aggregate -> one collect of N partition rows -> one
    broadcast join; the heavy windows all run per range partition, so
    the plan survives a 100x scale-up unchanged.

    ``_work``/``_parts``/``_keep`` (round-12, the fused fill+shift
    path): the caller supplies the already-scaffolded frame and the
    collected combined boundary aggregate, and asks for the scaffold
    columns to be KEPT so the shift pass can run on the result."""
    from pyspark.sql import Window

    spark = df.sparkSession
    methods = {out: odoc for out, odoc in spec["output"].items()
               if odoc.get("method") in ("locf", "linear")}
    for out, odoc in methods.items():
        if not sort:
            raise ValueError(f"{odoc['method']} fill requires sortBy")
        if odoc["method"] == "linear" and len(sort) != 1:
            raise ValueError(
                "linear fill requires exactly one numeric sortBy field")
    if _work is not None:
        ranged = _work
    else:
        ranged, wloc, _bs, _tot = _global_scaffold(df, sort, bs)
    # order the fill windows by the UNIQUE __gw_rn so every pass
    # traverses tied sort keys identically to the boundary aggregate's
    # rn-based max_by/min_by (raw keys would re-sort ties arbitrarily)
    back = (Window.partitionBy("__gw_pid").orderBy("__gw_rn")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    rev = (Window.partitionBy("__gw_pid")
           .orderBy(F.col("__gw_rn").desc())
           .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    xfield = next(iter(sort)) if sort else None
    xc = F.col(xfield).cast("double") if xfield else None

    # boundary observations, one row per partition (schema built
    # unconditionally — it is a driver-only py4j call; only the
    # collect is skipped on the fused path)
    bdf = ranged.groupBy("__gw_pid").agg(
        *_fill_boundary_aggs(methods, xc))
    parts = (_parts if _parts is not None
             else sorted(bdf.collect(), key=lambda r: r["__gw_pid"]))
    btypes = {f.name: f.dataType for f in bdf.schema.fields}

    def scan(rows, field):
        """Last non-null `field` seen so far, per position."""
        acc, out = None, []
        for r in rows:
            out.append(acc)
            if r[field] is not None:
                acc = r[field]
        return out

    carry_rows = [{"__gw_pid": r["__gw_pid"]} for r in parts]
    carry_fields = []
    for out, odoc in methods.items():
        prev_v = scan(parts, f"__l_{out}")
        carry_fields.append((f"__gw_pv_{out}", btypes[f"__l_{out}"]))
        for row, pv in zip(carry_rows, prev_v):
            row[f"__gw_pv_{out}"] = pv
        if odoc["method"] == "linear":
            prev_x = scan(parts, f"__lx_{out}")
            next_v = scan(parts[::-1], f"__f_{out}")[::-1]
            next_x = scan(parts[::-1], f"__fx_{out}")[::-1]
            carry_fields += [(f"__gw_px_{out}", btypes[f"__lx_{out}"]),
                             (f"__gw_nv_{out}", btypes[f"__f_{out}"]),
                             (f"__gw_nx_{out}", btypes[f"__fx_{out}"])]
            for row, px, nv, nx in zip(carry_rows, prev_x, next_v, next_x):
                row[f"__gw_px_{out}"] = px
                row[f"__gw_nv_{out}"] = nv
                row[f"__gw_nx_{out}"] = nx
    if carry_fields:
        ranged = ranged.join(_carry_df(spark, carry_rows, carry_fields),
                             on="__gw_pid")

    for out, odoc in spec["output"].items():
        if "value" in odoc:
            ranged = ranged.withColumn(
                out, F.coalesce(F.col(out), F.lit(odoc["value"])))
        elif odoc.get("method") == "locf":
            ranged = ranged.withColumn(out, F.coalesce(
                F.last(out, ignorenulls=True).over(back),
                F.col(f"__gw_pv_{out}")))
        elif odoc.get("method") == "linear":
            known_x = F.when(F.col(out).isNotNull(), xc)
            pv = F.coalesce(
                F.last(out, ignorenulls=True).over(back).cast("double"),
                F.col(f"__gw_pv_{out}"))
            px = F.coalesce(F.last(known_x, ignorenulls=True).over(back),
                            F.col(f"__gw_px_{out}"))
            nv = F.coalesce(
                F.last(out, ignorenulls=True).over(rev).cast("double"),
                F.col(f"__gw_nv_{out}"))
            nx = F.coalesce(F.last(known_x, ignorenulls=True).over(rev),
                            F.col(f"__gw_nx_{out}"))
            # nx == px only at already-known rows (coalesce discards
            # interp there), but ANSI mode still raises DIVIDE_BY_ZERO
            # when codegen evaluates the branch — guard explicitly,
            # keeping the SQL-twin left-associated (a*b)/c rounding
            interp = pv + F.when(
                nx != px, (nv - pv) * (xc - px) / (nx - px))
            ranged = ranged.withColumn(
                out, F.coalesce(F.col(out).cast("double"), interp))
        else:
            raise ValueError(f"unsupported fill spec {odoc}")
    if _keep:
        # fused path: the shift pass still needs the scaffold columns;
        # the carry columns are dropped here (they collide with a
        # later join's __gw_pv re-use otherwise)
        return ranged.drop(*[c for c in ranged.columns
                             if c.startswith(("__gw_pv_", "__gw_px_",
                                              "__gw_nv_", "__gw_nx_"))])
    return ranged.drop(*[c for c in ranged.columns
                         if c.startswith("__gw_")])


def _fill_shift_global(df: DataFrame, spec: dict, shifts: dict,
                       sort: dict, bs: list = None) -> DataFrame:
    """Fused unpartitioned $fill + $shift (round-12): both families
    ride ONE scaffold and ONE boundary-aggregate driver action.

    The sequential dispatch scaffolds the frame twice (the shift pass
    re-range-partitions the fill pass's full-width output — a second
    data-sized exchange at scale) and collects two boundary
    aggregates. Mongo forbids window outputs referencing each other,
    and the caller guards against a fill output shadowing a column a
    shift expression reads, so the shift's value columns computed on
    the PRE-fill frame are identical to the sequential form's, and
    both families' boundary observations can be taken from the same
    per-range pass. Applies fill first, shift second — the same
    order, same expressions, same carry arithmetic as the sequential
    path (pinned by the oracle rows and the differential test)."""
    ranged, _wloc, _bs, _tot = _global_scaffold(df, sort, bs)
    work, sh_aggs = _shift_prep(ranged, shifts)
    methods = {out: odoc for out, odoc in spec["output"].items()
               if odoc.get("method") in ("locf", "linear")}
    xfield = next(iter(sort)) if sort else None
    xc = F.col(xfield).cast("double") if xfield else None
    parts = sorted(
        work.groupBy("__gw_pid")
        .agg(*sh_aggs, *_fill_boundary_aggs(methods, xc)).collect(),
        key=lambda r: r["__gw_pid"])
    filled = _fill_global(df, spec, sort, bs=bs, _work=work,
                          _parts=parts, _keep=True)
    return _shift_global(df, shifts, sort, bs=bs, _work=filled,
                         _parts=parts)


def _fill(df: DataFrame, spec: dict) -> DataFrame:
    """$fill: complete null values — method "locf" (last observation
    carried forward in sortBy order, per partition), method "linear"
    (interpolate between the surrounding non-nulls along the single
    numeric sortBy field; nulls before the first / after the last known
    value stay null, as in Mongo), or a constant {"value": v}.

    Without partitionBy the locf/linear compile would be a single-task
    global-order window; that path routes through _fill_global's
    range-partition + broadcast-carry scaffold instead."""
    from pyspark.sql import Window

    sort_spec = spec.get("sortBy") or {}
    if "partitionBy" not in spec and any(
            odoc.get("method") in ("locf", "linear")
            for odoc in spec["output"].values()):
        return _fill_global(_maybe_checkpoint_global_input(df),
                            spec, sort_spec)
    parts = [_value(df, spec["partitionBy"])] if "partitionBy" in spec \
        else []
    w = Window.partitionBy(*parts)
    sort = spec.get("sortBy") or {}
    if sort:
        w = w.orderBy(*[F.col(k).asc() if v > 0 else F.col(k).desc()
                        for k, v in sort.items()])
    back = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    # "next known value" via a REVERSED running frame, never
    # (currentRow, unboundedFollowing): Spark's unbounded-FOLLOWING
    # frame re-scans the partition tail for EVERY row — O(n²) per
    # partition (measured: 250 s for one 100k-row global fill). The
    # last-non-null over the reverse order is the same value in O(n).
    rev = Window.partitionBy(*parts).orderBy(*[
        F.col(k).desc() if v > 0 else F.col(k).asc()
        for k, v in sort.items()]) \
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    for out, odoc in spec["output"].items():
        if "value" in odoc:
            df = df.withColumn(out, F.coalesce(F.col(out),
                                               F.lit(odoc["value"])))
        elif odoc.get("method") == "locf":
            if not sort:
                raise ValueError("locf fill requires sortBy")
            df = df.withColumn(out, F.last(out, ignorenulls=True).over(back))
        elif odoc.get("method") == "linear":
            if len(sort) != 1:
                raise ValueError(
                    "linear fill requires exactly one numeric sortBy field")
            x = F.col(next(iter(sort))).cast("double")
            known_x = F.when(F.col(out).isNotNull(), x)
            pv = F.last(out, ignorenulls=True).over(back).cast("double")
            px = F.last(known_x, ignorenulls=True).over(back)
            nv = F.last(out, ignorenulls=True).over(rev).cast("double")
            nx = F.last(known_x, ignorenulls=True).over(rev)
            # guard as in _fill_global: ANSI codegen may evaluate the
            # discarded interp branch at known rows where nx == px
            interp = pv + F.when(
                nx != px, (nv - pv) * (x - px) / (nx - px))
            df = df.withColumn(
                out, F.coalesce(F.col(out).cast("double"), interp))
        else:
            raise ValueError(f"unsupported fill spec {odoc}")
    return df


def _resolve_store(name: Any, stores: Optional[dict]):
    if not isinstance(name, str):
        return name  # already a store object
    if not stores or name not in stores:
        raise ValueError(f"write stage target {name!r}: pass "
                         f"stores={{name: store}} to resolve it")
    return stores[name]


def _merge_matched_pipeline(df: DataFrame, store, keys: list[str],
                            pipeline: list[dict],
                            let: Optional[dict]) -> DataFrame:
    """$merge whenMatched as an update PIPELINE (Mongo 4.2 form).

    Matched target docs flow through $set/$addFields/$unset stages
    whose expressions see the EXISTING doc as `$field` and the
    incoming doc as `$$new.field` (or custom `let` variables —
    expressions over the incoming doc). Set-based compile: ONE inner
    equi-join target x batch on the merge keys, every stage folds into
    Column expressions over that join — no per-row evaluation, no
    second shuffle; unmatched batch rows (the whenNotMatched=insert
    side) anti-join and union back unchanged. Dotted output fields and
    $project/$replaceWith inside the update pipeline raise (reshape
    with a plain pipeline stage before $merge instead)."""
    old = store.df
    n, o = df.alias("__mg_n"), old.alias("__mg_o")
    joined = o.join(n, on=keys, how="inner")
    doc: dict[str, Column] = {
        c: F.col(f"__mg_o.{c}") for c in old.columns if c not in keys}

    def n_resolve(path: str) -> Column:
        parts = path.split(".")
        if parts[0] not in df.columns:
            return F.lit(None)
        col = F.col(f"__mg_n.{parts[0]}")
        for p in parts[1:]:
            col = col[p]
        return col

    variables: dict[str, Column] = {}
    if let is not None:
        for name, vexpr in dict(let).items():
            variables[name] = compile_expr(vexpr, n_resolve)

    def resolve(path: str) -> Column:
        if path.startswith("$"):  # a $$variable
            parts = path[1:].split(".")
            head = parts[0]
            if head in variables:
                col = variables[head]
            elif head == "new" and let is None:
                if len(parts) == 1:
                    raise ValueError(
                        "$merge whenMatched pipeline: bare $$new is "
                        "unsupported — reference $$new.<field>")
                return n_resolve(".".join(parts[1:]))
            else:
                raise ValueError(
                    f"$merge whenMatched pipeline: unknown variable "
                    f"$${head}")
            for p in parts[1:]:
                col = col[p]
            return col
        parts = path.split(".")
        if parts[0] in keys:
            col = F.col(parts[0])
        elif parts[0] in doc:
            col = doc[parts[0]]
        else:
            return F.lit(None)
        for p in parts[1:]:
            col = col[p]
        return col

    for st in pipeline:
        if not (isinstance(st, dict) and len(st) == 1):
            raise ValueError(f"update pipeline stage must be a "
                             f"one-key dict: {st}")
        sop, sspec = next(iter(st.items()))
        if sop in ("$set", "$addFields"):
            for fld, e in sspec.items():
                if "." in fld:
                    raise ValueError(
                        "$merge whenMatched pipeline: dotted output "
                        f"field {fld!r} is unsupported")
                if fld in keys:
                    raise ValueError(
                        f"$merge whenMatched pipeline: cannot $set "
                        f"merge key {fld!r}")
                doc[fld] = compile_expr(e, resolve)
        elif sop == "$unset":
            flds = [sspec] if isinstance(sspec, str) else list(sspec)
            for fld in flds:
                if fld in keys:
                    raise ValueError(
                        f"$merge whenMatched pipeline: cannot $unset "
                        f"merge key {fld!r}")
                doc.pop(fld, None)
        else:
            raise ValueError(
                f"$merge whenMatched pipeline supports $set/"
                f"$addFields/$unset stages only, got {sop!r}")

    folded = joined.select(
        *keys, *[c.alias(f) for f, c in doc.items()])
    fresh = df.join(old.select(*keys), on=keys, how="left_anti")
    return folded.unionByName(fresh, allowMissingColumns=True)


def _write_stage(df: DataFrame, op: str, spec: Any,
                 stores: Optional[dict]) -> DataFrame:
    """$out (replace the target) / $merge (upsert into the target).

    Mongo $merge options supported: whenMatched in
    {"replace" (default HERE), "merge", "keepExisting", "fail"} or an
    update PIPELINE (list of $set/$addFields/$unset stages with $$new
    / custom `let` variables — _merge_matched_pipeline);
    whenNotMatched in {"insert", "discard", "fail"}. Mongo's own
    default is "merge" (field-wise), but a columnar engine conflates
    missing with null (DEVIATIONS §1): when the batch carries the full
    schema with non-null values — the normal pipeline shape — merge
    and replace coincide, and "replace" is the cheaper plan (no
    pre-join with the target), so it stays the default; pass
    whenMatched="merge" for the field-wise fold (new non-null wins,
    otherwise the existing value survives; target-only columns always
    survive). The upsert IS the engine's key-merge plan, so at scale
    this is the same one-shuffle merge update() runs."""
    if op == "$out":
        store = _resolve_store(spec, stores)
        try:
            has_data = store.count() > 0
        except ValueError:  # e.g. an empty MemoryStore with no df yet
            has_data = False
        if has_data:
            store.remove_docs({})  # Mongo {}: match everything
        store.update(df)
        return store.df
    spec = dict(spec) if isinstance(spec, dict) else {"into": spec}
    store = _resolve_store(spec["into"], stores)
    on = spec.get("on", store.key)
    keys = [on] if isinstance(on, str) else list(on)
    matched = spec.get("whenMatched", "replace")
    not_matched = spec.get("whenNotMatched", "insert")
    if not isinstance(matched, list) and \
            matched not in ("replace", "merge", "keepExisting", "fail"):
        raise ValueError(f"unsupported whenMatched={matched!r}")
    if not_matched not in ("insert", "discard", "fail"):
        raise ValueError(f"unsupported whenNotMatched={not_matched!r}")
    if not_matched in ("discard", "fail"):
        new_keys = df.join(store.df.select(*keys), on=keys, how="left_anti")
        if not_matched == "fail" and new_keys.limit(1).count():
            raise ValueError("$merge whenNotMatched=fail: unmatched key")
        df = df.join(store.df.select(*keys), on=keys, how="left_semi")
    if matched in ("keepExisting", "fail"):
        clash = df.join(store.df.select(*keys), on=keys, how="left_semi")
        if matched == "fail" and clash.limit(1).count():
            raise ValueError("$merge whenMatched=fail: key already exists")
        df = df.join(store.df.select(*keys), on=keys, how="left_anti")
    if isinstance(matched, list):
        df = _merge_matched_pipeline(df, store, keys, matched,
                                     spec.get("let"))
    elif matched == "merge":
        # field-wise fold (Mongo's default semantics): one equi-join
        # with the target — batch non-null wins, existing value
        # otherwise, target-only columns carried through
        old = store.df
        n, o = df.alias("__mg_n"), old.alias("__mg_o")
        common = [c for c in df.columns
                  if c in old.columns and c not in keys]
        new_only = [c for c in df.columns
                    if c not in old.columns and c not in keys]
        old_only = [c for c in old.columns
                    if c not in df.columns and c not in keys]
        folded = n.join(o, on=keys, how="inner").select(
            *keys,
            *[F.coalesce(F.col(f"__mg_n.{c}"),
                         F.col(f"__mg_o.{c}")).alias(c)
              for c in common],
            *[F.col(f"__mg_n.{c}").alias(c) for c in new_only],
            *[F.col(f"__mg_o.{c}").alias(c) for c in old_only])
        fresh = df.join(old.select(*keys), on=keys, how="left_anti")
        df = folded.unionByName(fresh, allowMissingColumns=True)
    store.update(df, key=on)
    return store.df


def compile_pipeline(
    df: DataFrame,
    pipeline: list[dict],
    stores: Optional[dict] = None,
) -> DataFrame:
    """Compile a Mongo aggregation pipeline onto `df`, stage by stage."""
    for stage in pipeline:
        if not (isinstance(stage, dict) and len(stage) == 1):
            raise ValueError(f"each pipeline stage is a one-key dict: {stage}")
        op, spec = next(iter(stage.items()))
        if op == "$match":
            df = df.filter(compile_criteria(spec, schema=df.schema))
        elif op == "$project":
            df = _project(df, spec)
        elif op in ("$addFields", "$set"):
            for k, v in spec.items():
                df = df.withColumn(k, _value(df, v))
        elif op == "$unset":
            df = df.drop(*([spec] if isinstance(spec, str) else list(spec)))
        elif op == "$group":
            df = _group(df, spec)
        elif op == "$sort":
            df = df.orderBy(*[
                F.col(k).asc() if v > 0 else F.col(k).desc()
                for k, v in spec.items()])
        elif op == "$skip":
            df = df.offset(int(spec))
        elif op == "$limit":
            df = df.limit(int(spec))
        elif op == "$count":
            df = df.agg(F.count(F.lit(1)).alias(spec))
        elif op == "$unwind":
            df = _unwind(df, spec)
        elif op == "$lookup":
            df = _lookup(df, spec, stores)
        elif op == "$graphLookup":
            df = _graph_lookup(df, spec, stores)
        elif op == "$unionWith":
            if isinstance(spec, (str, DataFrame)) or not isinstance(spec, dict):
                other, sub = spec, None
            else:
                other, sub = spec["coll"], spec.get("pipeline")
            other = _resolve_store(other, stores)
            odf = other if isinstance(other, DataFrame) else other.df
            if sub:
                odf = compile_pipeline(odf, sub, stores=stores)
            df = df.unionByName(odf, allowMissingColumns=True)
        elif op == "$sample":
            # Mongo samples RANDOMLY; a reproducible engine uses the
            # content-addressed md5 rule sized from an exact count —
            # deterministic membership, same expected size
            from maggma_spark.operators.corpus import md5_bucket

            size = int(spec["size"])
            total = df.count()
            if total > size:
                buckets = 1 << 20
                keep = int(round(size / total * buckets))
                first = df.columns[0]
                df = df.filter(md5_bucket(F.col(first).cast("string"),
                                          buckets) < keep)
        elif op == "$setWindowFields":
            df = _set_window_fields(df, spec)
        elif op == "$densify":
            df = _densify(df, spec)
        elif op == "$fill":
            df = _fill(df, spec)
        elif op == "$sortByCount":
            df = (df.groupBy(_value(df, spec).alias("_id"))
                  .agg(F.count(F.lit(1)).alias("count"))
                  .orderBy(F.col("count").desc(), F.col("_id").asc()))
        elif op in ("$replaceRoot", "$replaceWith"):
            # $replaceWith <expr> is shorthand for $replaceRoot {newRoot}
            root = (spec["newRoot"] if op == "$replaceRoot" else spec) \
                .lstrip("$")
            df = df.select(f"{root}.*")
        elif op == "$documents":
            # literal-documents source (Mongo requires it first; same
            # rule here — it REPLACES the input frame)
            if stage is not pipeline[0]:
                raise ValueError("$documents must be the first stage")
            df = df.sparkSession.createDataFrame(spec)
        elif op == "$vectorSearch":
            if stage is not pipeline[0]:
                raise ValueError("$vectorSearch must be the first stage")
            df = _vector_search(df, spec)
        elif op == "$collStats":
            # collection statistics (Mongo requires it first). `count`
            # is exact (one aggregate — the columnar count IS cheap,
            # unlike Mongo's collscan fallback); `storageStats`
            # reports Catalyst's sizeInBytes estimate (for parquet
            # scans this is the real file footprint; post-transform
            # frames carry the optimizer estimate) — named
            # size_bytes_estimate to be honest about it. latencyStats/
            # queryExecStats are server diagnostics with no engine
            # analog: raise.
            if stage is not pipeline[0]:
                raise ValueError("$collStats must be the first stage")
            unknown = set(spec) - {"count", "storageStats"}
            if unknown:
                raise ValueError(
                    f"$collStats options {sorted(unknown)} are not "
                    "supported (count/storageStats only)")
            cols = []
            if "count" in spec:
                cols.append(F.count(F.lit(1)).alias("count"))
            if not cols and "storageStats" not in spec:
                raise ValueError(
                    "$collStats needs count and/or storageStats")
            size = None
            if "storageStats" in spec:
                size = int(df._jdf.queryExecution().optimizedPlan()
                           .stats().sizeInBytes())
            out = df.agg(*cols) if cols else (
                df.sparkSession.range(1).select())
            if size is not None:
                out = out.withColumn("size_bytes_estimate",
                                     F.lit(size).cast("long"))
            df = out
        elif op in ("$search", "$searchMeta"):
            if stage is not pipeline[0]:
                raise ValueError(f"{op} must be the first stage")
            df = (_search if op == "$search" else _search_meta)(df, spec)
        elif op == "$bucket":
            df = _bucket(df, spec)
        elif op == "$bucketAuto":
            df = _bucket_auto(df, spec)
        elif op == "$facet":
            # each sub-pipeline collapses to ONE array column; facets
            # combine with crossJoins of single-row aggregates. The
            # collect is guarded: Mongo's own $facet output is bounded
            # by the 16 MB document limit — a sub-pipeline that does
            # not aggregate/limit down would OOM one task here, so it
            # raises past MAX_GROUP_ELEMENTS (house guard style)
            if not spec:
                raise ValueError("$facet requires at least one facet")
            out = None
            for name, sub in spec.items():
                sub_df = compile_pipeline(df, sub, stores=stores)
                one = sub_df.agg(_guard_group_array(
                    F.collect_list(F.struct(*sub_df.columns)),
                    f"$facet {name!r}").alias(name))
                out = one if out is None else out.crossJoin(one)
            df = out
        elif op in ("$out", "$merge"):
            if stage is not pipeline[-1]:
                raise ValueError(f"{op} must be the final pipeline stage")
            df = _write_stage(df, op, spec, stores)
        else:
            raise ValueError(f"unsupported pipeline stage {op}")
    # the $vectorSearch score is internal plumbing: as in Mongo it only
    # surfaces through a {"$meta": "vectorSearchScore"} projection —
    # without one the dunder column must not leak into the result
    if "__vector_search_score" in df.columns:
        df = df.drop("__vector_search_score")
    if "__search_score" in df.columns:
        df = df.drop("__search_score")
    return df


def serve_aggregation(store, pipeline: list[dict], max_rows: int = 10_000,
                      stores: Optional[dict] = None) -> dict:
    """AggregationResource analog (reference:src/maggma/api/resource/
    aggregation.py:65-101): run the pipeline, return
    {data, meta: {total_doc}} — framework-free, a FastAPI route
    delegates here like serve_query."""
    out = compile_pipeline(store.df, pipeline, stores=stores)
    rows = [r.asDict(recursive=True) for r in out.limit(max_rows).collect()]
    return {"data": rows, "meta": {"total_doc": len(rows)}}
