"""Mongo-criteria-dict -> Catalyst ``Column`` compiler.

This is the core front end of the engine: the reference's entire query
surface is the PyMongo criteria dialect (reference:docs/getting_started/
query_101.md, reference:src/maggma/core/store.py:100-119). We compile a
criteria dict into a single Catalyst ``Column`` predicate so that Spark
can push it into the parquet scan (predicate pushdown), prune columns,
and fold constants — none of which the reference could do (it shipped the
dict to mongod and hoped; reference:src/maggma/stores/mongolike.py:331-339).

Null/missing-field semantics (documented, Mongo-faithful where Spark's
columnar model allows):

- ``{f: None}`` matches *missing or null* — in a columnar engine a field
  absent from a document IS null, so ``isNull()`` reproduces both.
- ``$ne``/``$nin``/``$not`` also match documents where the field is
  missing (Mongo behavior) -> predicate ORs ``isNull()``.
- ``$exists: True`` -> ``isNotNull()``. Deviation from Mongo: a document
  holding an explicit null is treated as "missing" (schemaless presence
  and null are indistinguishable after columnarization). A field absent
  from the *schema* compiles to a constant, so ``$exists: False`` on a
  never-seen field is ``True`` for every row — matching the reference's
  disjoint-key-set semantics (SURVEY §1.3).
- Range operators (``$gt`` etc.) never match null/missing, in both
  engines, for free (SQL three-valued logic).

Array-field semantics (schema-aware, matching Mongo's element-or-whole
matching, reference:src/maggma/stores/mongolike.py:176-181 array
unravel):

- ``{tags: "x"}`` on an array column -> ``array_contains``.
- ``{tags: {"$in": [..]}}`` -> ``arrays_overlap``.
- ``$all`` / ``$size`` / ``$elemMatch`` supported natively.

Everything stays JVM-side: the compiler emits only built-in
``pyspark.sql.functions`` expressions — no Python UDFs — so the whole
predicate participates in whole-stage codegen and parquet pushdown.
"""

from __future__ import annotations

import datetime as _dt
import re
from typing import Any, Callable, Optional

from pyspark.sql import Column, functions as F
from pyspark.sql.types import ArrayType, DataType, StructType

try:  # Spark 4.x semi-structured VARIANT support
    from pyspark.sql.types import VariantType
except ImportError:  # pragma: no cover - older Spark
    VariantType = None

Resolver = Callable[[str], Column]

_COMPARISONS = {
    "$eq": None,  # special-cased (null semantics)
    "$gt": lambda c, v: c > v,
    "$gte": lambda c, v: c >= v,
    "$lt": lambda c, v: c < v,
    "$lte": lambda c, v: c <= v,
}


def _lit(v: Any) -> Column:
    """Literal constructor accepting python scalars, datetimes and lists."""
    if isinstance(v, (list, tuple)):
        return F.array(*[_lit(x) for x in v])
    return F.lit(v)


def _path_type(schema: Optional[StructType], path: str) -> Optional[DataType]:
    """Resolve a dotted path against a StructType; None if unresolvable."""
    if schema is None:
        return None
    cur: DataType = schema
    for part in path.split("."):
        if not isinstance(cur, StructType):
            return None
        names = {f.name: f.dataType for f in cur.fields}
        if part not in names:
            return None
        cur = names[part]
    return cur


def _variant_split(schema: Optional[StructType],
                   path: str) -> Optional[tuple[str, str]]:
    """If a dotted path drills INTO a VariantType column, return
    (variant_column_path, json_path) — e.g. `meta.a.b` over a variant
    column `meta` gives ("meta", "$.a.b"). None when the path doesn't
    cross a variant (or Spark predates VariantType).

    VARIANT is the Spark-4 mapping for the reference's schemaless
    document tails (SURVEY §1.3): fields that vary per document live in
    one semi-structured column instead of an ever-widening struct
    union, and criteria still address them by dotted path."""
    if schema is None or VariantType is None:
        return None
    parts = path.split(".")
    cur: DataType = schema
    for i, part in enumerate(parts):
        if not isinstance(cur, StructType):
            return None
        names = {f.name: f.dataType for f in cur.fields}
        if part not in names:
            return None
        cur = names[part]
        if isinstance(cur, VariantType) and i + 1 < len(parts):
            rest = parts[i + 1:]
            return ".".join(parts[:i + 1]), "$" + "".join(f".{p}" for p in rest)
    return None


def _variant_cast_type(v: Any) -> str:
    """Extraction type for a variant comparison, driven by the query
    value: numerics compare as double (so int criteria don't truncate
    stored doubles), bools/strings/timestamps as themselves."""
    if isinstance(v, bool):
        return "boolean"
    if isinstance(v, (int, float)):
        return "double"
    if isinstance(v, _dt.datetime):
        return "timestamp"
    if isinstance(v, (list, tuple)) and v:
        return f"array<{_variant_cast_type(v[0])}>"
    return "string"


def _variant_field_pred(root: str, jpath: str, value: Any,
                        resolve: Resolver) -> Column:
    """Criteria on a path inside a VARIANT column. Supported: bare
    equality, $eq/$ne/$gt/$gte/$lt/$lte/$in/$nin/$exists/$regex.
    Values extract with try_variant_get typed by the QUERY value
    (mistyped documents become null -> non-matches, Mongo-style)."""
    base = resolve(root)
    raw = F.try_variant_get(base, jpath, "variant")

    def typed(v: Any) -> Column:
        return F.try_variant_get(base, jpath, _variant_cast_type(v))

    def null_or_missing() -> Column:
        return raw.isNull() | F.is_variant_null(raw)

    if not _is_operator_doc(value):
        if isinstance(value, dict):
            raise ValueError(
                "exact sub-document match inside a VARIANT column is "
                "not supported; use dotted-path criteria per field")
        if value is None:
            return null_or_missing()
        return typed(value) == _lit(value)

    preds = []
    for op, v in value.items():
        if op == "$eq":
            preds.append(null_or_missing() if v is None
                         else typed(v) == _lit(v))
        elif op == "$ne":
            if v is None:
                preds.append(~null_or_missing())
            else:
                preds.append(
                    F.coalesce(typed(v) != _lit(v), F.lit(True)))
        elif op in ("$gt", "$gte", "$lt", "$lte"):
            preds.append(_COMPARISONS[op](typed(v), _lit(v)))
        elif op == "$in":
            non_null = [x for x in v if x is not None]
            p = (typed(non_null[0]).isin(non_null) if non_null
                 else F.lit(False))
            if len(non_null) != len(v):
                p = p | null_or_missing()
            preds.append(p)
        elif op == "$nin":
            non_null = [x for x in v if x is not None]
            p = (typed(non_null[0]).isin(non_null) if non_null
                 else F.lit(False))
            if len(non_null) != len(v):
                p = p | null_or_missing()
            preds.append(~F.coalesce(p, F.lit(False)))
        elif op == "$exists":
            present = raw.isNotNull()
            preds.append(present if v else ~present)
        elif op == "$regex":
            opts = value.get("$options", "")
            pat = f"(?{opts})" + v if opts else v
            preds.append(typed("").rlike(pat))
        elif op == "$options":
            continue
        else:
            raise ValueError(
                f"operator {op!r} is not supported on paths inside a "
                "VARIANT column (supported: eq/ne/gt/gte/lt/lte/in/nin/"
                "exists/regex)")
    out = preds[0]
    for p in preds[1:]:
        out = out & p
    return out


def _path_in_schema(schema: Optional[StructType], path: str) -> Optional[bool]:
    if schema is None:
        return None  # unknown — assume present
    return _path_type(schema, path) is not None


def default_resolver(schema: Optional[StructType] = None) -> Resolver:
    """Dotted path -> Column; schema-absent paths become typed nulls so the
    disjoint-key-set semantics of the reference hold (a field some docs
    lack is simply null there)."""

    def resolve(path: str) -> Column:
        if schema is not None and not _path_in_schema(schema, path):
            return F.lit(None)
        return F.col(path)

    return resolve


def _is_operator_doc(v: Any) -> bool:
    return isinstance(v, dict) and len(v) > 0 and all(
        isinstance(k, str) and k.startswith("$") for k in v
    )


def _eq_pred(col: Column, v: Any, ftype: Optional[DataType]) -> Column:
    """Bare / $eq equality with Mongo null + array-field semantics."""
    if v is None:
        return col.isNull()
    if isinstance(ftype, ArrayType) and not isinstance(v, (list, tuple)):
        # Mongo: scalar equality against an array matches any element.
        return F.array_contains(col, _lit(v))
    return col == _lit(v)


def _in_pred(col: Column, values: list, ftype: Optional[DataType]) -> Column:
    non_null = [v for v in values if v is not None]
    has_null = len(non_null) != len(values)
    if isinstance(ftype, ArrayType) and non_null and not isinstance(non_null[0], (list, tuple)):
        pred = F.arrays_overlap(col, F.array(*[_lit(v) for v in non_null]))
    elif non_null:
        pred = col.isin(non_null)
    else:
        pred = F.lit(False)
    if has_null:
        pred = pred | col.isNull()
    return pred


def _field_op_pred(col: Column, op: str, v: Any, ftype: Optional[DataType],
                   resolve: Resolver) -> Column:
    """One `$op: value` applied to one field column."""
    if op == "$eq":
        return _eq_pred(col, v, ftype)
    if op in ("$gt", "$gte", "$lt", "$lte"):
        return _COMPARISONS[op](col, _lit(v))
    if op == "$ne":
        if v is None:
            return col.isNotNull()
        # Mongo $ne matches docs where the field is missing.
        return (~_eq_pred(col, v, ftype)) | col.isNull()
    if op == "$in":
        if not isinstance(v, (list, tuple)):
            raise ValueError("$in requires a list")
        return _in_pred(col, list(v), ftype)
    if op == "$nin":
        if not isinstance(v, (list, tuple)):
            raise ValueError("$nin requires a list")
        return (~_in_pred(col, list(v), ftype)) | col.isNull()
    if op == "$exists":
        return col.isNotNull() if v else col.isNull()
    if op == "$not":
        sub = _field_pred(col, v, ftype, resolve)
        return (~sub) | col.isNull()
    if op == "$regex":
        return col.rlike(v)
    if op == "$options":
        # handled jointly with $regex in _field_pred; standalone is a no-op
        return F.lit(True)
    if op == "$mod":
        divisor, remainder = v
        return (col % _lit(divisor)) == _lit(remainder)
    if op == "$type":
        return _type_pred(col, v, ftype)
    if op == "$size":
        return F.size(col) == _lit(v)
    if op == "$all":
        preds = [F.array_contains(col, _lit(x)) for x in v]
        out = preds[0]
        for p in preds[1:]:
            out = out & p
        return out
    if op == "$elemMatch":
        elem_t = ftype.elementType if isinstance(ftype, ArrayType) else None

        def elem_pred(e: Column) -> Column:
            if _is_operator_doc(v):
                out = F.lit(True)
                for o, ov in v.items():
                    out = out & _field_op_pred(e, o, ov, elem_t, resolve)
                return out
            # sub-document criteria against struct elements
            def sub_resolve(path: str) -> Column:
                c: Column = e
                for part in path.split("."):
                    c = c[part]
                return c

            return compile_criteria(v, resolver=sub_resolve)

        return F.exists(col, elem_pred)
    raise ValueError(f"Unsupported criteria operator: {op}")


# Mongo BSON type aliases/codes -> predicate over the column's STATIC
# Spark type. Columnar storage fixes each column's type at the schema, so
# $type is a plan-time constant AND-ed with per-row null presence (Mongo
# matches only docs where the field EXISTS with that type; 'null' matches
# explicit nulls).
_BSON_TYPE_GROUPS: dict = {
    "double": ("double", "float"), 1: ("double", "float"),
    "string": ("string",), 2: ("string",),
    "object": ("struct",), 3: ("struct",),
    "array": ("array",), 4: ("array",),
    "binData": ("binary",), 5: ("binary",),
    "bool": ("boolean",), 8: ("boolean",),
    "date": ("timestamp", "timestamp_ntz", "date"), 9: ("timestamp", "timestamp_ntz", "date"),
    "int": ("int", "smallint", "tinyint"), 16: ("int", "smallint", "tinyint"),
    "long": ("bigint",), 18: ("bigint",),
    "decimal": ("decimal",), 19: ("decimal",),
    "number": ("double", "float", "int", "smallint", "tinyint", "bigint",
               "decimal"),
}


def _type_pred(col: Column, v: Any, ftype: Optional[DataType]) -> Column:
    aliases = v if isinstance(v, list) else [v]
    simple = ftype.simpleString() if ftype is not None else None
    base = simple.split("(")[0].split("<")[0] if simple else None
    out = F.lit(False)
    for alias in aliases:
        if alias in ("null", 10):
            out = out | col.isNull()
            continue
        if alias not in _BSON_TYPE_GROUPS:
            raise ValueError(f"unsupported $type alias {alias!r}")
        if base is not None and base in _BSON_TYPE_GROUPS[alias]:
            out = out | col.isNotNull()
    return out


def _field_pred(col: Column, opdoc: dict, ftype: Optional[DataType],
                resolve: Resolver) -> Column:
    """`{field: {"$op": v, ...}}` — AND of each operator."""
    opts = opdoc.get("$options", "")
    out: Optional[Column] = None
    for op, v in opdoc.items():
        if op == "$options":
            continue
        if op == "$regex" and "i" in opts:
            pred = col.rlike(f"(?i){v}")
        else:
            pred = _field_op_pred(col, op, v, ftype, resolve)
        out = pred if out is None else out & pred
    return out if out is not None else F.lit(True)


# --------------------------------------------------------------------------
# $expr aggregation-expression mini-language
# (reference:src/maggma/api/query_operator/submission.py:27-35 uses
#  {"$expr": {"$gt": [{"$arrayElemAt": ["$state", -1]}, v]}})
#
# Every operator is one key of _EXPR_OPS: op -> builder(op, args, c),
# where c(sub) compiles a sub-expression with the current resolver and
# c(sub, scope) with lambda/let variables bound over it. Operators of
# one shape (unary, binary, n-ary, left fold) are rows of one table
# and share one builder.
# --------------------------------------------------------------------------


def _let1(bound: Column, body: Callable[[Column], Column]) -> Column:
    """Let-binding: evaluate `bound` ONCE per row and hand it to
    `body` (Column -> Column) as a lambda variable, via a
    single-element-array transform. Catalyst inlines every reference
    to a subexpression verbatim (no common-subexpression elimination
    reaches inside lambdafunctions, and higher-order functions are
    CodegenFallback), so an expression referencing a heavy operand —
    a sorted array, a regexp_extract_all — k times would otherwise
    re-evaluate it k times per row; with a per-element O(m) operand
    that was O(m^2)/row (measured 2.4 s for 5000 documents on the
    $regexFindAll index scan before this binding)."""
    return F.element_at(F.transform(F.array(bound), body), 1)


def _regex_group_count(pat: str) -> int:
    """Number of capture groups in a regex — Python's re when the
    pattern parses (it shares Java's group syntax for the common
    subset), else a mechanical count of unescaped '(' not followed
    by '?'."""
    try:
        return re.compile(pat).groups
    except re.error:
        n, i = 0, 0
        while i < len(pat):
            if pat[i] == "\\":
                i += 2
                continue
            if pat[i] == "(" and pat[i + 1: i + 2] != "?":
                n += 1
            i += 1
        return n


def _regex_pat(args: Any, op: str) -> str:
    """Literal pattern + inline-flag translation shared by
    $regexFind/$regexFindAll (Mongo options i/m/s/x map to Java's
    embedded flags)."""
    pat = args["regex"]
    if not isinstance(pat, str):
        raise ValueError(f"{op} regex must be a literal string")
    opts = "".join(c for c in (args.get("options") or "") if c in "imsx")
    return (f"(?{opts})" if opts else "") + pat


def struct_comparator(sort_doc: dict):
    """array_sort comparator over struct elements for a Mongo sortBy
    document {field: 1|-1, ...} — chained JVM lambda, no UDF; Mongo
    null order (nulls lowest) via the explicit null branches. Shared
    by $sortArray and the $top/$bottom/$topN/$bottomN accumulators."""
    fields = list(sort_doc.items())

    def cmp(left, right):
        out = F.lit(0)
        for f, d in reversed(fields):
            lf, rf = left[f], right[f]
            c = (F.when(lf.eqNullSafe(rf), F.lit(0))
                 .when(lf.isNull(), F.lit(-d))
                 .when(rf.isNull(), F.lit(d))
                 .when(lf < rf, F.lit(-d)).otherwise(F.lit(d)))
            out = F.when(c != 0, c).otherwise(out)
        return out.cast("int")

    return cmp


def _mongo_fmt_to_java(fmt: str) -> str:
    """Mongo %-specifier date format -> Java/Spark pattern (shared by
    $dateFromString and $dateToString); unsupported specifiers raise
    instead of silently passing through. Literal runs containing
    letters (or quotes) are single-quoted — Java patterns treat bare
    letters as pattern characters, so Mongo's default
    "%Y-%m-%dT%H:%M:%S.%LZ" must become
    "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'", not an invalid bare-T/zone-Z
    pattern. %% is a literal percent (never an "unsupported
    specifier")."""
    spec = {"Y": "yyyy", "m": "MM", "d": "dd", "H": "HH", "M": "mm",
            "S": "ss", "L": "SSS", "j": "DDD"}
    out: list[str] = []
    lit: list[str] = []

    def flush():
        if not lit:
            return
        s = "".join(lit)
        if any(c.isalpha() or c == "'" for c in s):
            out.append("'" + s.replace("'", "''") + "'")
        else:
            out.append(s)
        lit.clear()

    i = 0
    while i < len(fmt):
        c = fmt[i]
        if c == "%":
            if i + 1 >= len(fmt):
                raise ValueError(
                    f"date format {fmt!r} ends with a bare %")
            nxt = fmt[i + 1]
            if nxt == "%":
                lit.append("%")
            elif nxt in spec:
                flush()
                out.append(spec[nxt])
            else:
                raise ValueError(
                    f"date format {fmt!r} has unsupported "
                    f"specifier %{nxt}")
            i += 2
        else:
            lit.append(c)
            i += 1
    flush()
    return "".join(out)


def _cast(to: str) -> Callable[[Column], Column]:
    return lambda a: a.cast(to)


def _is_number(a: Column) -> Column:
    t = F.typeof(a)
    return t.isin("tinyint", "smallint", "int", "bigint", "float",
                  "double") | t.startswith("decimal")


# One-argument operators: op -> (Column -> Column). Trig deviation:
# Mongo RAISES on out-of-domain inputs (e.g. $asin of 2); the JVM
# functions return NaN — same rows, different failure mode.
_EXPR_UNARY = {
    "$not": lambda a: ~a,
    "$abs": F.abs, "$sqrt": F.sqrt, "$exp": F.exp, "$ln": F.log,
    "$log10": F.log10, "$floor": F.floor, "$ceil": F.ceil,
    "$sin": F.sin, "$cos": F.cos, "$tan": F.tan,
    "$asin": F.asin, "$acos": F.acos, "$atan": F.atan,
    "$sinh": F.sinh, "$cosh": F.cosh, "$tanh": F.tanh,
    "$asinh": F.asinh, "$acosh": F.acosh, "$atanh": F.atanh,
    "$degreesToRadians": F.radians, "$radiansToDegrees": F.degrees,
    "$bitNot": F.bitwise_not,
    "$toLower": F.lower, "$toUpper": F.upper, "$strLenCP": F.length,
    "$strLenBytes": F.octet_length,
    "$binarySize": lambda a: F.octet_length(a).cast("long"),
    "$toString": _cast("string"), "$toInt": _cast("long"),
    "$toLong": _cast("long"), "$toDouble": _cast("double"),
    "$toDecimal": _cast("double"), "$toBool": _cast("boolean"),
    "$toDate": _cast("timestamp"),
    "$year": F.year, "$month": F.month, "$dayOfMonth": F.dayofmonth,
    "$hour": F.hour, "$minute": F.minute, "$second": F.second,
    "$millisecond":
        lambda a: (F.unix_millis(a.cast("timestamp")) % 1000).cast("int"),
    "$dayOfWeek": F.dayofweek,  # Mongo: 1 (Sunday) .. 7, as dayofweek
    "$dayOfYear": F.dayofyear,
    "$isoDayOfWeek": lambda a: F.weekday(a) + 1,  # Monday=1 .. Sunday=7
    "$isoWeek": F.weekofyear,
    "$isoWeekYear":
        lambda a: F.date_part(F.lit("YEAROFWEEK"), a).cast("long"),
    # Mongo/strftime %U: Sunday-start weeks, days before the first
    # Sunday are week 0
    "$week": lambda d: F.floor(
        (F.dayofyear(d) + 7 - F.dayofweek(d)) / 7).cast("int"),
    "$size": F.size, "$reverseArray": F.reverse,
    "$first": lambda a: F.element_at(a, 1),
    "$last": lambda a: F.element_at(a, -1),
    "$isArray": lambda a: F.typeof(a).startswith("array"),
    "$isNumber": _is_number,
    "$anyElementTrue": lambda a: F.exists(a, lambda x: x.cast("boolean")),
    "$allElementsTrue": lambda a: F.forall(a, lambda x: x.cast("boolean")),
    # documents-as-MapType (the VariantJSONStore / dynamic-doc shape)
    # <-> array<struct<k,v>> via JVM map_entries. StructType inputs
    # would need schema introspection the expression dialect
    # deliberately avoids — convert to a map upstream.
    "$objectToArray": lambda m: F.transform(
        F.map_entries(m),
        lambda e: F.struct(e["key"].alias("k"), e["value"].alias("v"))),
    "$arrayToObject": lambda a: F.map_from_entries(
        F.transform(a, lambda e: F.struct(e["k"], e["v"]))),
}


def _cmp(a: Column, b: Column) -> Column:
    # null sorts lowest, as in the sort comparator
    return (F.when(a.eqNullSafe(b), 0)
            .when(a.isNull(), -1).when(b.isNull(), 1)
            .when(a < b, -1).otherwise(1))


_EXPR_BINOPS = {
    "$gt": lambda a, b: a > b,
    "$gte": lambda a, b: a >= b,
    "$lt": lambda a, b: a < b,
    "$lte": lambda a, b: a <= b,
    "$eq": lambda a, b: a.eqNullSafe(b),
    "$ne": lambda a, b: ~a.eqNullSafe(b),
    "$cmp": _cmp,
    "$strcasecmp": lambda a, b: _cmp(F.upper(a), F.upper(b)),
    "$add": lambda a, b: a + b,
    "$subtract": lambda a, b: a - b,
    "$multiply": lambda a, b: a * b,
    "$divide": lambda a, b: a / b,
    "$mod": lambda a, b: a % b,
    "$pow": F.pow,
    # ln(x)/ln(b) — the identity both engines use; supports expression
    # bases, unlike F.log's literal-only base
    "$log": lambda x, base: F.log(x) / F.log(base),
    "$atan2": F.atan2,
    "$in": lambda needle, arr: F.array_contains(arr, needle),
    "$setDifference": F.array_except,
    "$setIsSubset": lambda a, b: F.size(F.array_except(a, b)) == 0,
}


def _set_equals(*arrs: Column) -> Column:
    sets = [F.array_distinct(a) for a in arrs]
    out = F.lit(True)
    for s in sets[1:]:
        out = out & (F.size(F.array_except(sets[0], s)) == 0) \
            & (F.size(F.array_except(s, sets[0])) == 0)
    return out


def _merge_objects(*maps: Column) -> Column:
    # expression form over MapType documents, later-wins (the
    # ACCUMULATOR form lives in the pipeline compiler)
    rev = F.reverse(F.concat(*[F.map_entries(m) for m in maps]))
    ks = F.array_distinct(F.transform(rev, lambda e: e["key"]))
    return F.map_from_arrays(
        ks,
        F.transform(ks, lambda k: F.element_at(
            F.filter(rev, lambda e: e["key"] == k), 1)["value"]))


# Operators over an argument list: op -> (*Columns -> Column).
_EXPR_NARY = {
    "$ifNull": F.coalesce, "$max": F.greatest, "$min": F.least,
    "$concat": F.concat, "$concatArrays": F.concat,
    "$setEquals": _set_equals, "$mergeObjects": _merge_objects,
}

# Left folds over the argument list: op -> (seed, step). A constant
# seed starts the fold before the first argument; a callable seed
# wraps the first argument and the fold runs over the rest. Mongo set
# operators ALWAYS dedupe, even with one argument.
_EXPR_FOLDS = {
    "$and": (True, lambda a, b: a & b),
    "$or": (False, lambda a, b: a | b),
    "$setUnion": (F.array_distinct, F.array_union),
    "$setIntersection": (F.array_distinct, F.array_intersect),
    "$bitAnd": (lambda a: a, lambda a, b: a.bitwiseAND(b)),
    "$bitOr": (lambda a: a, lambda a, b: a.bitwiseOR(b)),
    "$bitXor": (lambda a: a, lambda a, b: a.bitwiseXOR(b)),
}


def _unary(op: str, args: Any, c) -> Column:
    # Mongo's one-element argument list: {op: [x]} is {op: x}
    if isinstance(args, list):
        if len(args) != 1:
            raise ValueError(f"{op} takes one argument, got {len(args)}")
        (args,) = args
    return _EXPR_UNARY[op](c(args))


def _binary(op: str, args: Any, c) -> Column:
    a, b = args
    return _EXPR_BINOPS[op](c(a), c(b))


def _nary(op: str, args: Any, c) -> Column:
    return _EXPR_NARY[op](*[c(a) for a in args])


def _fold(op: str, args: Any, c) -> Column:
    seed, step = _EXPR_FOLDS[op]
    cols = [c(a) for a in args]
    if callable(seed):
        out, cols = seed(cols[0]), cols[1:]
    else:
        out = F.lit(seed)
    for col in cols:
        out = step(out, col)
    return out


def _scoped(resolve: Resolver, scope: dict) -> Resolver:
    """Child resolver for lambda and $let bodies. A variable "$$x"
    reaches the resolver as "$x": it and its "$x.field" paths resolve
    off the bound Column; every other name DELEGATES to the enclosing
    resolver, so nested bodies still see outer variables and row
    fields."""

    def r(name: str) -> Column:
        head, _, rest = name.partition(".")
        if head not in scope:
            return resolve(name)
        col = scope[head]
        for fld in rest.split(".") if rest else ():
            col = col.getField(fld)
        return col

    return r


def _array_hof(op: str, args: Any, c) -> Column:
    """$map/$filter/$reduce -> JVM lambda functions (transform/filter/
    aggregate). The body binds "$$this" and "$$value" (or the `as`
    name) to the lambda columns."""
    arr = c(args["input"])
    if op == "$reduce":
        init = c(args["initialValue"])
        # Spark's aggregate() needs the merge output type to EQUAL
        # the accumulator type; widen integer seeds to long so
        # summing a bigint array over initialValue 0 resolves
        if isinstance(args["initialValue"], int) \
                and not isinstance(args["initialValue"], bool):
            init = init.cast("long")
        return F.aggregate(arr, init, lambda acc, el: c(
            args["in"], {"$value": acc, "$this": el}))
    var = args.get("as", "this")
    body = args["in"] if op == "$map" else args["cond"]

    def hof(el):  # exactly one parameter: PySpark inspects arity
        return c(body, {f"${var}": el, "$this": el})

    return F.transform(arr, hof) if op == "$map" else F.filter(arr, hof)


def _let(op: str, args: Any, c) -> Column:
    scope = {f"${k}": c(v) for k, v in args["vars"].items()}
    return c(args["in"], scope)


def _array_elem_at(op: str, args: Any, c) -> Column:
    arr, idx = args
    arr_c = c(arr)
    # Mongo is 0-based (negative = from end); element_at is 1-based.
    if isinstance(idx, int):
        return F.element_at(arr_c, idx + 1 if idx >= 0 else idx)
    idx_c = c(idx)
    return F.element_at(arr_c, F.when(idx_c >= 0, idx_c + 1).otherwise(idx_c))


def _cond(op: str, args: Any, c) -> Column:
    if isinstance(args, dict):
        cond, then, els = args["if"], args["then"], args["else"]
    else:
        cond, then, els = args
    return F.when(c(cond).cast("boolean"), c(then)).otherwise(c(els))


def _switch(op: str, args: Any, c) -> Column:
    out = c(args.get("default")) if "default" in args else F.lit(None)
    for br in reversed(args["branches"]):
        out = F.when(c(br["case"]).cast("boolean"),
                     c(br["then"])).otherwise(out)
    return out


def _value_place(op: str, args: Any) -> tuple:
    """$round/$trunc arguments: value, [value] or [value, place]."""
    if not isinstance(args, list):
        val, place = args, 0
    elif len(args) == 1:
        val, place = args[0], 0
    elif len(args) == 2:
        val, place = args
    else:
        raise ValueError(f"{op} takes [value] or [value, place]")
    if not isinstance(place, int):
        raise ValueError(f"{op} place must be a literal integer")
    return val, place


def _round(op: str, args: Any, c) -> Column:
    val, place = _value_place(op, args)
    return F.round(c(val), place)


def _trunc(op: str, args: Any, c) -> Column:
    # Mongo truncates toward zero, optionally at `place` decimal
    # digits (place>0) or left of the decimal point (place<0).
    val, place = _value_place(op, args)
    e = c(val)
    if place == 0:
        return e.cast("long")
    scale = 10 ** abs(place)
    if place > 0:
        return (e * F.lit(scale)).cast("long") / F.lit(float(scale))
    return (e / F.lit(scale)).cast("long") * F.lit(scale)


def _substr(op: str, args: Any, c) -> Column:
    # Mongo is 0-based, substring 1-based. Character-based for all
    # three: identical to $substrBytes for ASCII (Mongo $substrBytes
    # counts UTF-8 bytes — multibyte inputs differ)
    s, start, length = args
    return F.substring(c(s), c(start) + 1, c(length))


def _split(op: str, args: Any, c) -> Column:
    s, delim = args
    if not isinstance(delim, str):
        raise ValueError("$split delimiter must be a literal string")
    return F.split(c(s), re.escape(delim))


# Mongo's default $trim set: NUL, space, \t \n \v \f \r and the
# Unicode spaces U+00A0, U+1680, U+2000-U+200A, U+2028, U+2029, U+202F,
# U+205F, U+3000
_TRIM_WHITESPACE = "".join(map(chr, (
    0x00, 0x20, *range(0x09, 0x0E), 0xA0, 0x1680, *range(0x2000, 0x200B),
    0x2028, 0x2029, 0x202F, 0x205F, 0x3000)))


def _trim(op: str, args: Any, c) -> Column:
    spec = args if isinstance(args, dict) else {"input": args}
    inp = c(spec["input"])
    chars = spec.get("chars")
    if chars is None:
        chars = _TRIM_WHITESPACE
    if not isinstance(chars, str) or not chars:
        raise ValueError(f"{op} chars must be a literal string")
    # Mongo trims ANY char in the set; re.escape leaves alphanumerics
    # bare (escaping a letter inside a class flips its meaning — \d,
    # \b...) and escapes the class metachars
    cls = "[" + "".join(re.escape(ch) for ch in chars) + "]+"
    pat = {"$trim": f"^{cls}|{cls}$", "$ltrim": "^" + cls,
           "$rtrim": cls + "$"}[op]
    return F.regexp_replace(inp, pat, "")


def _replace(op: str, args: Any, c) -> Column:
    inp = c(args["input"])
    find, repl = args["find"], args["replacement"]
    if not isinstance(find, str):
        raise ValueError(f"{op} find must be a literal string")
    if op == "$replaceAll":
        return F.replace(inp, F.lit(find), _lit(repl))
    pos = F.locate(find, inp)  # literal find: non-regex, first hit
    return F.when(pos == 0, inp).otherwise(F.concat(
        F.substr(inp, F.lit(1), pos - 1), c(repl),
        F.substr(inp, pos + len(find), F.length(inp))))


def _index_of_cp(op: str, args: Any, c) -> Column:
    # codepoint-based for both; identical for ASCII ($indexOfBytes
    # counts UTF-8 bytes in Mongo — same caveat as $substrBytes).
    # The needle must be a literal (locate's contract); start/end
    # are literal codepoint offsets, end EXCLUSIVE for the match
    # end. -1 = absent, null input -> null (Mongo semantics).
    s = c(args[0])
    needle = args[1]
    if not isinstance(needle, str):
        raise ValueError(f"{op} substring must be a literal string")
    start = args[2] if len(args) > 2 else 0
    end = args[3] if len(args) > 3 else None
    if not isinstance(start, int) or (
            end is not None and not isinstance(end, int)):
        raise ValueError(f"{op} start/end must be literal integers")
    hay = s if end is None else F.substring(s, 1, end)
    pos = F.locate(needle, hay, start + 1)
    return F.when(s.isNull(), F.lit(None).cast("long")) \
        .otherwise(F.when(pos > 0, pos - 1).otherwise(-1).cast("long"))


def _regex_match(op: str, args: Any, c) -> Column:
    pat = args["regex"]
    if not isinstance(pat, str):
        raise ValueError("$regexMatch regex must be a literal string")
    if "i" in (args.get("options") or ""):
        pat = f"(?i){pat}"
    return c(args["input"]).rlike(pat)


def _regex_find(op: str, args: Any, c) -> Column:
    # {match, idx, captures} of the FIRST match, null when none.
    # Deviation: a capture group that did not participate in the
    # match yields "" (regexp_extract), not Mongo's null.
    pat = _regex_pat(args, op)
    inp = c(args["input"])
    ng = _regex_group_count(args["regex"])
    caps = F.array(*[F.regexp_extract(inp, pat, g)
                     for g in range(1, ng + 1)]) if ng else \
        F.array().cast("array<string>")
    return F.when(inp.rlike(pat), F.struct(
        F.regexp_extract(inp, pat, 0).alias("match"),
        (F.regexp_instr(inp, F.lit(pat)) - 1).cast("int").alias("idx"),
        caps.alias("captures")))


def _regex_find_all(op: str, args: Any, c) -> Column:
    # array of {match, idx, captures}; [] when no match or null
    # input (Mongo). idx comes from a left-to-right position scan
    # over the extracted match strings (F.aggregate + F.position):
    # exact for self-delimiting patterns; a lookaround that makes
    # an identical EARLIER substring a non-match can mis-index.
    pat = _regex_pat(args, op)
    inp = c(args["input"])
    ng = _regex_group_count(args["regex"])
    matches = F.regexp_extract_all(inp, F.lit(pat), F.lit(0))
    groups = [F.regexp_extract_all(inp, F.lit(pat), F.lit(g))
              for g in range(1, ng + 1)]
    idxs = F.aggregate(
        matches,
        F.struct(F.lit(1).alias("pos"),
                 F.array().cast("array<int>").alias("out")),
        lambda acc, m: F.struct(
            (F.position(m, inp, acc["pos"])
             + F.greatest(F.length(m), F.lit(1))).alias("pos"),
            F.concat(acc["out"], F.array(
                (F.position(m, inp, acc["pos"]) - 1).cast("int")))
            .alias("out")),
        lambda acc: acc["out"])
    # bind the extraction + position-scan arrays ONCE (_let1):
    # referencing them per output element re-ran the O(m) scans
    # per match = O(m^2)/row
    packed = F.struct(
        matches.alias("m"), idxs.alias("ix"),
        *[g.alias(f"g{j}") for j, g in enumerate(groups, 1)])

    def build(t):
        m = t["m"]
        n_m = F.size(m)
        seq = F.when(n_m > 0, F.sequence(F.lit(0), n_m - 1)) \
            .otherwise(F.array().cast("array<int>"))

        def row(i):
            return F.struct(
                F.get(m, i).alias("match"),
                F.get(t["ix"], i).alias("idx"),
                (F.array(*[F.get(t[f"g{j}"], i)
                           for j in range(1, ng + 1)]) if ng
                 else F.array().cast("array<string>"))
                .alias("captures"))

        return F.transform(seq, row)

    out = _let1(packed, build)
    empty = "array<struct<match:string,idx:int,captures:array<string>>>"
    return F.when(inp.isNull(), F.array().cast(empty)).otherwise(out)


def _slice(op: str, args: Any, c) -> Column:
    # [array, n] (first n / last n if n<0) or [array, position, n];
    # position is 0-based (F.slice is 1-based)
    if len(args) == 2:
        arr, n = args
        if not isinstance(n, int):
            raise ValueError("$slice n must be a literal integer")
        arr_c = c(arr)
        if n >= 0:
            return F.slice(arr_c, 1, n)
        # "last |n|": Mongo returns the WHOLE array when |n| exceeds
        # its length, so clamp the (negative) start at -size; on an
        # EMPTY array that clamp is 0 and Spark's slice raises
        # (INVALID_PARAMETER_VALUE.START), where Mongo returns []
        return F.when(F.size(arr_c) == 0, arr_c).otherwise(
            F.slice(arr_c, F.greatest(F.lit(n), -F.size(arr_c)), F.lit(-n)))
    arr, pos, n = args
    if not isinstance(pos, int) or not isinstance(n, int) or n <= 0:
        raise ValueError("$slice [arr, position, n]: literal ints, n>0")
    return F.slice(c(arr), pos + 1 if pos >= 0 else pos, n)


def _index_of_array(op: str, args: Any, c) -> Column:
    if len(args) > 2:
        # Mongo's optional start/end range would silently change
        # the answer if ignored — fail loudly instead
        raise ValueError(
            "$indexOfArray start/end range arguments are not "
            "supported; $slice the array first")
    # array_position: 1-based, 0 when absent -> Mongo 0-based, -1
    return (F.array_position(c(args[0]), c(args[1])) - F.lit(1)).cast("long")


def _range(op: str, args: Any, c) -> Column:
    start = c(args[0]).cast("long")
    end = c(args[1]).cast("long")
    step = (c(args[2]).cast("long") if len(args) > 2
            else F.lit(1).cast("long"))
    # Mongo end is EXCLUSIVE and empty ranges yield []; sequence is
    # inclusive and raises on inverted bounds — guard per row
    # (CaseWhen evaluates only the matching branch)
    last = F.when(step > 0, end - 1).otherwise(end + 1)
    nonempty = ((step > 0) & (start < end)) | ((step < 0) & (start > end))
    return F.when(nonempty, F.sequence(start, last, step)) \
        .otherwise(F.array().cast("array<bigint>"))


def _sort_array(op: str, args: Any, c) -> Column:
    arr = c(args["input"])
    by = args["sortBy"]
    if isinstance(by, int):
        return F.sort_array(arr, asc=by > 0)
    return F.array_sort(arr, struct_comparator(by))


def _zip(op: str, args: Any, c) -> Column:
    arrs = [c(a) for a in args["inputs"]]
    longest = bool(args.get("useLongestLength"))
    defaults = args.get("defaults")
    sizes = [F.size(a) for a in arrs]
    n = (F.greatest(*sizes) if longest else F.least(*sizes)) \
        if len(arrs) > 1 else sizes[0]
    # F.get is 0-based and null-safe past the end (element_at
    # raises under ANSI); sequence guards the empty case
    idx = F.when(n > 0, F.sequence(F.lit(0), n - 1)) \
        .otherwise(F.array().cast("array<int>"))

    def row(i):
        elems = []
        for j, a in enumerate(arrs):
            e = F.get(a, i)
            if longest and defaults is not None:
                e = F.coalesce(e, _lit(defaults[j]))
            elems.append(e)
        return F.array(*elems)

    return F.transform(idx, row)


def _sum_avg(op: str, args: Any, c) -> Column:
    # EXPRESSION form (Mongo also uses these names as accumulators
    # — the pipeline compiler dispatches those separately): a list
    # of expressions, or a single array-valued expression. Nulls
    # are ignored (Mongo ignores non-numeric operands); empty
    # $sum is 0, empty $avg is null.
    if isinstance(args, list):
        cols = [c(a).cast("double") for a in args]
        cnt = sum((x.isNotNull().cast("int") for x in cols), F.lit(0))
        tot = sum((F.coalesce(x, F.lit(0.0)) for x in cols), F.lit(0.0))
    else:
        nn = F.filter(c(args), lambda x: x.isNotNull())
        cnt = F.size(nn)
        tot = F.aggregate(nn, F.lit(0.0), lambda a, x: a + x.cast("double"))
    return tot if op == "$sum" else F.when(cnt > 0, tot / cnt)


def _n_elements(op: str, args: Any, c) -> Column:
    # EXPRESSION forms over an array operand (the accumulator forms
    # live in the pipeline compiler). $maxN/$minN ignore nulls
    # (Mongo); $firstN/$lastN keep order and nulls.
    n = args.get("n")
    if not isinstance(n, int) or n < 1:
        raise ValueError(f"{op} n must be a literal integer >= 1")
    arr = c(args["input"])
    if op in ("$maxN", "$minN"):
        ordered = F.array_sort(F.filter(arr, lambda x: x.isNotNull()))
        if op == "$maxN":
            ordered = F.reverse(ordered)
        return F.slice(ordered, 1, n)
    if op == "$firstN":
        return F.slice(arr, 1, n)
    sz = F.size(arr)
    return F.when(sz <= 0, arr).otherwise(
        F.slice(arr, F.greatest(F.lit(-n), -sz), F.least(F.lit(n), sz)))


def _quantiles(op: str, args: Any, c) -> Column:
    # EXPRESSION forms over an array operand: exact continuous
    # interpolation (identical to F.percentile / DuckDB
    # quantile_cont) — a strictly-deterministic stand-in for
    # Mongo's t-digest "approximate" method; nulls ignored,
    # empty -> null.
    if not (isinstance(args, dict) and "input" in args):
        raise ValueError(f"Unsupported $expr operator: {op}")
    sorted_nn = F.array_sort(F.filter(
        c(args["input"]), lambda x: x.isNotNull()).cast("array<double>"))

    # bind the sorted array ONCE (_let1): each interpolation
    # references it ~5x (size twice, lo/hi element lookups), and
    # without the binding every reference re-filtered and
    # re-sorted the operand per row
    def q(nn: Column, p: float) -> Column:
        n = F.size(nn)
        r = (n - 1) * F.lit(float(p))
        lo = F.floor(r).cast("int")
        frac = r - lo
        lo_v = F.element_at(nn, lo + 1)
        # p=1.0 lands on the last element: lo+2 is past the end
        hi_v = F.coalesce(F.try_element_at(nn, lo + 2), lo_v)
        return F.when(n > 0, lo_v * (1.0 - frac) + hi_v * frac)

    if op == "$median":
        return _let1(sorted_nn, lambda nn: q(nn, 0.5))
    ps = args["p"]
    if not (isinstance(ps, list) and
            all(isinstance(p, (int, float)) for p in ps)):
        raise ValueError("$percentile p must be a list of literal numbers")
    return _let1(sorted_nn, lambda nn: F.array(*[q(nn, float(p)) for p in ps]))


def _on_null(args: dict, inp: Column, out: Column) -> Column:
    """Mongo's `onNull`: a null input yields the literal instead."""
    if "onNull" in args:
        return F.when(inp.isNull(), _lit(args["onNull"])).otherwise(out)
    return out


def _convert(op: str, args: Any, c) -> Column:
    casts = {"int": "int", "long": "long", "double": "double",
             "decimal": "decimal(38,9)", "string": "string",
             "bool": "boolean", "date": "timestamp"}
    to = args["to"]
    if to not in casts:
        raise ValueError(f"$convert to {to!r} not supported")
    inp = c(args["input"])
    if "onError" in args:
        out = inp.try_cast(casts[to])
        out = F.when(inp.isNotNull() & out.isNull(),
                     _lit(args["onError"])).otherwise(out)
    else:
        out = inp.cast(casts[to])
    return _on_null(args, inp, out)


def _date_from_string(op: str, args: Any, c) -> Column:
    ds = c(args["dateString"])
    if "onError" in args:
        raise ValueError("$dateFromString onError is not supported")
    fmt = args.get("format")
    if fmt is None:
        parsed = ds.cast("timestamp")  # ISO-8601 and friends
    else:
        parsed = F.to_timestamp(ds, _mongo_fmt_to_java(fmt))
    return _on_null(args, ds, parsed)


def _date_to_string(op: str, args: Any, c) -> Column:
    d = c(args["date"])
    fmt = args.get("format", "%Y-%m-%dT%H:%M:%S.%LZ")
    return _on_null(args, d, F.date_format(d, _mongo_fmt_to_java(fmt)))


def _date_add(op: str, args: Any, c) -> Column:
    amount = c(args["amount"])
    return F.timestamp_add(
        args["unit"].upper(), -amount if op == "$dateSubtract" else amount,
        c(args["startDate"]))


def _date_diff(op: str, args: Any, c) -> Column:
    # Mongo counts UNIT BOUNDARY CROSSINGS, not elapsed units —
    # trunc both ends to the unit, then diff in whole units.
    # Boundaries follow the SESSION timezone; the engine pins it to
    # UTC (session.py), which is also Mongo's $dateDiff default. A
    # DST-shifted session timezone would miscount day/hour
    # crossings around transitions — keep the UTC pin.
    unit = args["unit"]
    s = c(args["startDate"])
    e = c(args["endDate"])
    if unit == "year":
        return (F.year(e) - F.year(s)).cast("long")
    if unit == "month":
        return ((F.year(e) - F.year(s)) * 12
                + (F.month(e) - F.month(s))).cast("long")
    secs = {"day": 86400, "hour": 3600, "minute": 60, "second": 1}
    if unit not in secs:
        raise ValueError(f"$dateDiff unit {unit!r} not supported")
    ts, te = F.date_trunc(unit, s), F.date_trunc(unit, e)
    return ((te.cast("long") - ts.cast("long"))
            / F.lit(secs[unit])).cast("long")


def _date_from_parts(op: str, args: Any, c) -> Column:
    if "isoWeekYear" in args:
        raise ValueError("$dateFromParts ISO-week form is not supported")

    def part(name, dflt):
        return c(args[name]) if name in args else F.lit(dflt)

    return F.make_timestamp(
        part("year", 1970), part("month", 1), part("day", 1),
        part("hour", 0), part("minute", 0),
        part("second", 0).cast("double")
        + part("millisecond", 0).cast("double") / 1000.0)


def _date_to_parts(op: str, args: Any, c) -> Column:
    if isinstance(args, dict) and args.get("iso8601"):
        raise ValueError("$dateToParts iso8601 form is not supported")
    d = c(args["date"] if isinstance(args, dict) else args)
    return F.struct(
        F.year(d).alias("year"), F.month(d).alias("month"),
        F.dayofmonth(d).alias("day"), F.hour(d).alias("hour"),
        F.minute(d).alias("minute"), F.second(d).alias("second"),
        _EXPR_UNARY["$millisecond"](d).alias("millisecond"))


def _get_field(op: str, args: Any, c) -> Column:
    if not isinstance(args, dict) or not isinstance(args.get("field"), str):
        raise ValueError(
            '$getField requires {"field": <literal str>, "input": <expr>}')
    # works for struct fields AND map keys; unlike a dotted path it
    # tolerates dots INSIDE the field name
    return c(args["input"]).getItem(args["field"])


def _set_field(op: str, args: Any, c) -> Column:
    # documents-as-MapType (same convention as $objectToArray);
    # $setField value $$REMOVE == $unsetField. map_concat would
    # raise on a duplicate key (mapKeyDedupPolicy=EXCEPTION), so
    # the existing key is filtered out first.
    field = args.get("field")
    if not isinstance(field, str):
        raise ValueError(f"{op} field must be a literal string")
    cleaned = F.map_filter(c(args["input"]), lambda k, v: k != F.lit(field))
    if op == "$unsetField" or args.get("value") == "$$REMOVE":
        return cleaned
    return F.map_concat(cleaned, F.create_map(F.lit(field), c(args["value"])))


def _meta(op: str, args: Any, c) -> Column:
    if args == "vectorSearchScore":
        return F.col("__vector_search_score")  # set by $vectorSearch
    if args in ("searchScore", "textScore"):
        return F.col("__search_score")  # set by $search
    raise ValueError(f"$meta {args!r} not supported")


def _rand(op: str, args: Any, c) -> Column:
    if args != {}:
        raise ValueError("$rand takes {}")
    return F.rand()


# op -> builder(op, args, c): the one list of supported operators.
_EXPR_OPS: dict = {
    **dict.fromkeys(_EXPR_UNARY, _unary),
    **dict.fromkeys(_EXPR_BINOPS, _binary),
    **dict.fromkeys(_EXPR_NARY, _nary),
    **dict.fromkeys(_EXPR_FOLDS, _fold),
    "$literal": lambda op, args, c: _lit(args),
    "$cond": _cond, "$switch": _switch, "$let": _let,
    "$map": _array_hof, "$filter": _array_hof, "$reduce": _array_hof,
    "$arrayElemAt": _array_elem_at, "$slice": _slice,
    "$indexOfArray": _index_of_array, "$range": _range,
    "$sortArray": _sort_array, "$zip": _zip,
    "$sum": _sum_avg, "$avg": _sum_avg,
    "$maxN": _n_elements, "$minN": _n_elements,
    "$firstN": _n_elements, "$lastN": _n_elements,
    "$median": _quantiles, "$percentile": _quantiles,
    "$round": _round, "$trunc": _trunc,
    "$substrCP": _substr, "$substr": _substr, "$substrBytes": _substr,
    "$split": _split, "$trim": _trim, "$ltrim": _trim, "$rtrim": _trim,
    "$replaceAll": _replace, "$replaceOne": _replace,
    "$indexOfCP": _index_of_cp, "$indexOfBytes": _index_of_cp,
    "$regexMatch": _regex_match, "$regexFind": _regex_find,
    "$regexFindAll": _regex_find_all, "$convert": _convert,
    "$dateFromString": _date_from_string, "$dateToString": _date_to_string,
    "$dateAdd": _date_add, "$dateSubtract": _date_add,
    "$dateDiff": _date_diff,
    "$dateTrunc": lambda op, args, c: F.date_trunc(args["unit"],
                                                   c(args["date"])),
    "$dateFromParts": _date_from_parts, "$dateToParts": _date_to_parts,
    "$getField": _get_field, "$setField": _set_field,
    "$unsetField": _set_field, "$meta": _meta, "$rand": _rand,
}


def compile_expr(expr: Any, resolve: Resolver) -> Column:
    """Compile the `$expr` aggregation-operator subset into a Column;
    the supported operators are the keys of `_EXPR_OPS`."""
    if isinstance(expr, str) and expr.startswith("$"):
        return resolve(expr[1:])
    if isinstance(expr, list):
        # an array literal in expression position evaluates its
        # elements (Mongo: ["$f", {"$add": ...}, 3] builds an array)
        return F.array(*[compile_expr(e, resolve) for e in expr])
    if not isinstance(expr, dict):
        return _lit(expr)
    if len(expr) != 1:
        raise ValueError(f"$expr operator doc must have one key: {expr}")
    op, args = next(iter(expr.items()))
    if op not in _EXPR_OPS:
        raise ValueError(f"Unsupported $expr operator: {op}")

    def c(sub: Any, scope: Optional[dict] = None) -> Column:
        # a sub-expression, under `scope`'s variables when given
        return compile_expr(
            sub, resolve if scope is None else _scoped(resolve, scope))

    return _EXPR_OPS[op](op, args, c)


def _text_pred(spec: Any, schema: Optional[StructType], resolve: Resolver) -> Column:
    """{"$text": {"$search": "..."}} — OR-of-terms, case-insensitive
    match (Mongo $text defaults; reference compiles the equivalent Atlas
    $search pipeline, reference:src/maggma/api/resource/utils.py:69-115).
    Column engines have no text index — the scoring scan IS the index.
    The searched column is `$field` if given (engine extension), else a
    column named "text"."""
    from maggma_spark.functions.text import text_search_score

    if not isinstance(spec, dict) or not isinstance(spec.get("$search"), str):
        raise ValueError('$text requires {"$search": <string>}')
    field = spec.get("$field")
    if field is None:
        names = {f.name for f in schema.fields} if schema is not None else set()
        if "text" in names:
            field = "text"
        else:
            raise ValueError(
                '$text needs a "$field" (no default "text" column in schema)')
    return text_search_score(resolve(field), spec["$search"]) > 0


# --------------------------------------------------------------------------
# top-level compiler
# --------------------------------------------------------------------------


def compile_criteria(criteria: Optional[dict],
                     schema: Optional[StructType] = None,
                     resolver: Optional[Resolver] = None) -> Column:
    """Compile a Mongo criteria dict into one Catalyst Column predicate.

    Parameters
    ----------
    criteria : the Mongo-dialect filter dict (None/{} -> TRUE)
    schema : optional StructType for array-field awareness and
        absent-field null semantics
    resolver : optional dotted-path -> Column resolver (used for
        $elemMatch recursion and view-level field aliasing)
    """
    resolve = resolver or default_resolver(schema)
    if not criteria:
        return F.lit(True)

    preds: list[Column] = []
    for key, value in criteria.items():
        if key == "$and":
            sub = [compile_criteria(c, schema, resolver) for c in value]
            out = sub[0]
            for p in sub[1:]:
                out = out & p
            preds.append(out)
        elif key == "$or":
            sub = [compile_criteria(c, schema, resolver) for c in value]
            out = sub[0]
            for p in sub[1:]:
                out = out | p
            preds.append(out)
        elif key == "$nor":
            sub = [compile_criteria(c, schema, resolver) for c in value]
            out = sub[0]
            for p in sub[1:]:
                out = out | p
            # null-evaluating clauses are non-matches => doc passes $nor
            preds.append(~F.coalesce(out, F.lit(False)))
        elif key == "$not":
            preds.append(~F.coalesce(compile_criteria(value, schema, resolver), F.lit(False)))
        elif key == "$expr":
            preds.append(compile_expr(value, resolve).cast("boolean"))
        elif key == "$jsonSchema":
            preds.append(_json_schema_pred(value, schema, resolve))
        elif key == "$text":
            preds.append(_text_pred(value, schema, resolve))
        elif key == "$where":
            raise ValueError(f"Unsupported top-level operator: {key}")
        elif key.startswith("$"):
            raise ValueError(f"Unsupported top-level operator: {key}")
        else:
            vsplit = _variant_split(schema, key)
            if vsplit is not None:
                preds.append(_variant_field_pred(*vsplit, value, resolve))
                continue
            col = resolve(key)
            ftype = _path_type(schema, key)
            if _is_operator_doc(value):
                preds.append(_field_pred(col, value, ftype, resolve))
            elif isinstance(value, dict):
                # exact sub-document match: every named field equal AND
                # every other schema field null. (Mongo compares BSON
                # bytes, so ITS subdoc match is field-order-sensitive;
                # column storage has one field order per schema, so we
                # match order-insensitively — see DEVIATIONS.md.)
                preds.append(_subdoc_eq(col, value, _path_type(schema, key)))
            else:
                preds.append(_eq_pred(col, value, ftype))

    out = preds[0]
    for p in preds[1:]:
        out = out & p
    return out


_JSON_TYPE_CHECK = {
    "string": "string",
    "integer": ("bigint", "int", "smallint", "tinyint", "long"),
    "number": ("double", "float", "bigint", "int", "long"),
    "boolean": "boolean",
    "array": None,  # prefix-checked
    "object": None,
}


def _json_schema_pred(js: dict, schema: Optional[StructType],
                      resolve: Resolver) -> Column:
    """Mongo's `$jsonSchema` query operator (subset: required,
    properties.{type, enum, minimum, maximum}). Type conformance is a
    plan-time fact in a columnar engine — a mistyped column makes the
    predicate constant-false, matching "no documents conform"."""
    pred = F.lit(True)
    for req in js.get("required", []):
        pred = pred & resolve(req).isNotNull()
    for fname, spec in js.get("properties", {}).items():
        col = resolve(fname)
        want = spec.get("type")
        if want is not None and schema is not None:
            actual = _path_type(schema, fname)
            if actual is None:
                pred = pred & F.lit(False)
                continue
            simple = actual.simpleString()
            chk = _JSON_TYPE_CHECK.get(want)
            if chk is None:
                ok = simple.startswith("array") if want == "array" else \
                    simple.startswith("struct")
            elif isinstance(chk, tuple):
                ok = simple in chk
            else:
                ok = simple == chk
            if not ok:
                pred = pred & F.lit(False)
                continue
        if "enum" in spec:
            pred = pred & col.isin(spec["enum"])
        if "minimum" in spec:
            pred = pred & (col >= F.lit(spec["minimum"]))
        if "maximum" in spec:
            pred = pred & (col <= F.lit(spec["maximum"]))
    return pred


def _subdoc_eq(col: Column, value: dict, ftype: Optional[DataType]) -> Column:
    """Exact sub-document equality: named fields equal (recursively),
    remaining schema fields null, and the struct itself non-null."""
    pred = col.isNotNull()
    for k, v in value.items():
        sub = col[k]
        if isinstance(v, dict):
            sub_t = None
            if isinstance(ftype, StructType) and k in ftype.fieldNames():
                t = ftype[k].dataType
                sub_t = t if isinstance(t, StructType) else None
            pred = pred & _subdoc_eq(sub, v, sub_t)
        elif v is None:
            pred = pred & sub.isNull()
        else:
            pred = pred & (sub == _lit(v))
    if isinstance(ftype, StructType):
        for f in ftype.fields:
            if f.name not in value:
                pred = pred & col[f.name].isNull()
    return pred


# --------------------------------------------------------------------------
# projection compiler
# (reference:src/maggma/stores/mongolike.py:311-312 — properties as list or
#  {field: 1} dict; dotted paths keep their dotted name in output docs)
# --------------------------------------------------------------------------


def compile_projection(properties: Any,
                       schema: Optional[StructType] = None) -> Optional[list[Column]]:
    """properties list / {f:1} dict / {f:0} exclusion dict -> select
    Columns (None = all).

    Inclusion: list or {field: 1}. Exclusion (Mongo parity): a dict whose
    values are all falsy selects every schema column EXCEPT those named
    (requires `schema`; mixing 0s and 1s raises, as in Mongo).
    Dotted paths are selected as nested-struct extraction and aliased to
    the dotted name, mirroring how the reference yields
    ``{"g.h": ...}``-addressable projections.
    """
    if properties is None:
        return None
    if isinstance(properties, dict):
        if not properties:
            return None  # Mongo: an empty projection returns full docs
        flags = set(bool(v) for v in properties.values())
        if flags == {True}:
            properties = list(properties)
        elif flags == {False}:
            if schema is None:
                raise ValueError("exclusion projection requires a schema")
            excluded = set(properties)
            top_excluded = {p for p in excluded if "." not in p}
            # dotted exclusions drop the nested struct LEAF (Mongo
            # {'a.b': 0} parity); unresolvable paths are no-ops, as in
            # Mongo. Grouped per top-level column so one dropFields call
            # handles all leaves under it.
            drops: dict[str, list[str]] = {}
            for p in excluded:
                if "." not in p:
                    continue
                top, rest = p.split(".", 1)
                if top not in top_excluded and _path_in_schema(schema, p):
                    drops.setdefault(top, []).append(rest)
            cols = []
            for f in schema.fields:
                if f.name in top_excluded:
                    continue
                if f.name in drops:
                    cols.append(
                        F.col(f.name).dropFields(*drops[f.name])
                        .alias(f.name))
                else:
                    cols.append(F.col(f.name))
            return cols
        else:
            raise ValueError(
                "cannot mix inclusion and exclusion in a projection "
                "(Mongo parity)")
    cols = []
    for p in properties:
        vsplit = _variant_split(schema, p)
        if vsplit is not None:
            root, jpath = vsplit
            cols.append(
                F.try_variant_get(F.col(root), jpath, "variant").alias(p))
        elif "." in p:
            cols.append(F.col(p).alias(p))
        else:
            cols.append(F.col(p))
    return cols
