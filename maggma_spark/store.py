"""SparkStore — the Store facade: maggma's 9-method surface compiled onto a
lazily-evaluated DataFrame.

Reference parity: the abstract Store contract at
reference:src/maggma/core/store.py:76-211 (connect, close, count, query,
update, ensure_index, groupby, remove_docs, distinct) plus query_one,
newer_in and the last_updated property. Every method here builds a
*declarative* DataFrame plan — filters become Catalyst predicates pushed
into the scan, projections become column pruning, sort/skip/limit become
`orderBy/offset/limit` — and nothing materializes on the driver except
explicit iterator/scalar results at the edge (SURVEY §1.2).

Scale notes (100 TB design):
- `query` never collects; it returns the DataFrame so downstream operators
  compose into one job. `query_docs` exposes the reference's
  Iterator[dict] surface via `toLocalIterator` (streams one partition at
  a time; does not OOM the driver).
- `count` is one job with no exchange (`count_rows`); with no criteria
  a parquet scan reads footer row counts only — the analog of
  `estimated_document_count` (reference:src/maggma/stores/mongolike.py:
  281-285).
- `groupby` uses hash aggregation with map-side partial aggregation; the
  docs-list form (`collect_list(struct(*))`) is only for the faithful
  contract surface — analytical callers should aggregate columns instead.
- `distinct` on an array field unravels via `explode`
  (reference:src/maggma/stores/mongolike.py:176-181) — a narrow
  transformation before the shuffle, not a driver loop.
"""

from __future__ import annotations

import datetime as _dt
from enum import IntEnum
from typing import Any, Callable, Iterator, Optional, Union

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import ArrayType

from maggma_spark.functions.criteria import (
    compile_criteria,
    compile_projection,
    _path_type,
)


class Sort(IntEnum):
    """reference:src/maggma/core/store.py:19-23"""

    Ascending = 1
    Descending = -1


def _sort_columns(sort: Optional[dict], tiebreak: Optional[list[str]] = None) -> list[Column]:
    cols: list[Column] = []
    seen = set()
    for field, direction in (sort or {}).items():
        seen.add(field)
        c = F.col(field)
        cols.append(c.desc() if int(direction) < 0 else c.asc())
    # Deterministic skip/limit needs a total order; append key tiebreak
    # (the reference's default_sort exists for the same reason,
    #  reference:src/maggma/stores/mongolike.py:65-66).
    for t in tiebreak or []:
        if t not in seen:
            cols.append(F.col(t).asc())
    return cols


def count_rows(df: DataFrame) -> int:
    """Rows of `df` in one Spark job. `DataFrame.count` is an aggregate,
    and under AQE that is two jobs: the partial counts' shuffle-map
    stage, then the final count. Counting the rows of the empty
    projection's physical plan needs no exchange, and a parquet scan
    with no columns reads only row-group footers."""
    return df.select()._jdf.queryExecution().toRdd().count()


class SparkStore:
    """A named bag of documents over a DataFrame, with a designated unique
    ``key`` and a ``last_updated`` watermark column.

    Read-only base (a *view*); writable backends subclass and implement
    ``_write`` (see maggma_spark.sources).
    """

    def __init__(
        self,
        df_provider: Union[DataFrame, Callable[[], DataFrame]],
        name: str = "store",
        key: str = "task_id",
        last_updated_field: str = "last_updated",
        last_updated_type: str = "datetime",
        default_sort: Optional[dict] = None,
    ):
        self._provider = df_provider
        self.name = name
        self.key = key
        self.last_updated_field = last_updated_field
        if last_updated_type not in ("datetime", "isoformat"):
            raise ValueError(
                "last_updated_type must be 'datetime' or 'isoformat' "
                "(reference:src/maggma/core/store.py:42-59)")
        self.last_updated_type = last_updated_type
        self.default_sort = default_sort

    def _lu_expr(self, col: Column) -> Column:
        """The watermark column as a comparable timestamp — the Column
        analog of the reference's `_lu_func` pair
        (reference:src/maggma/core/store.py:42-59, utils.py:81-103):
        ISO-8601 string watermarks cast to timestamp JVM-side (handles
        'T' separators and fractional seconds); datetime columns pass
        through."""
        if self.last_updated_type == "isoformat":
            return col.cast("timestamp")
        return col

    @property
    def keys(self) -> list[str]:
        """Key as a list (compound keys supported,
        reference:src/maggma/stores/mongolike.py:388-391)."""
        return [self.key] if isinstance(self.key, str) else list(self.key)

    # -- lifecycle (the reference needed real connections; a SparkSession
    #    is already the shared handle — connect/close are no-ops kept for
    #    API parity, reference:src/maggma/core/store.py:76-89) ------------
    def connect(self, force_reset: bool = False) -> None:
        return None

    def close(self) -> None:
        return None

    @property
    def df(self) -> DataFrame:
        return self._provider() if callable(self._provider) else self._provider

    def try_df(self) -> Optional[DataFrame]:
        """The DataFrame, or None for a store whose backing data does not
        exist yet (e.g. a ParquetStore target before its first write) —
        incremental diffs treat such a store as empty.

        Only NOT-EXISTS conditions map to None (missing path, empty
        MemoryStore). Any other read failure re-raises: an additive
        sink that mistook a transient read error for "empty store"
        would silently rebuild its state from one batch."""
        from pyspark.errors import AnalysisException

        try:
            return self.df
        except ValueError:  # MemoryStore "holds no data yet"
            return None
        except AnalysisException as ex:
            # prefer the structured error condition when the Spark
            # version provides it (getCondition from 4.0, where
            # getErrorClass warns; getErrorClass from 3.4); fall back to
            # message text, including the pre-3.4 "Path does not exist"
            # wording, so a missing path maps to None on every Spark
            # line instead of re-raising and breaking first-write
            # incremental sinks
            klass = ""
            get_klass = (getattr(ex, "getCondition", None)
                         or getattr(ex, "getErrorClass", None))
            if callable(get_klass):
                klass = get_klass() or ""
            not_exists = ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA")
            if any(k in klass for k in not_exists) \
                    or any(k in str(ex) for k in not_exists) \
                    or "Path does not exist" in str(ex):
                return None
            raise

    # -- predicates ------------------------------------------------------
    def _pred(self, criteria: Optional[dict]) -> Column:
        return compile_criteria(criteria, schema=self.df.schema)

    # -- query surface ---------------------------------------------------
    def query(
        self,
        criteria: Optional[dict] = None,
        properties: Union[dict, list, None] = None,
        sort: Optional[dict] = None,
        skip: int = 0,
        limit: int = 0,
        hint: Optional[dict] = None,
    ) -> DataFrame:
        """reference:src/maggma/core/store.py:100-119 — returns the lazy
        DataFrame instead of an Iterator[dict]; use query_docs for the
        row-iterator edge surface. `hint` is accepted for API parity and
        ignored: index hints are obsolete under Catalyst (SURVEY §4)."""
        df = self.df
        if criteria:
            df = df.filter(compile_criteria(criteria, schema=df.schema))
        cols = compile_projection(properties, schema=df.schema)
        if cols is not None:
            df = df.select(*cols)
        eff_sort = sort if sort else self.default_sort
        if eff_sort or skip or limit:
            tiebreak = [k for k in self.keys if k in df.columns]
            order = _sort_columns(eff_sort, tiebreak if (skip or limit) else None)
            if order:
                df = df.orderBy(*order)
        if skip:
            df = df.offset(skip)
        if limit:
            df = df.limit(limit)
        return df

    def paginate(
        self,
        after: Any = None,
        page_size: int = 1000,
        criteria: Optional[dict] = None,
        properties: Union[dict, list, None] = None,
    ) -> DataFrame:
        """Keyset pagination — the deep-paging scale path (SCALE.md):
        instead of O(skip) offset scans, filter `key > after` and take
        the next page. Requires a single orderable key. Pass the last
        key of the previous page as `after`; None starts from the top."""
        keys = self.keys
        if len(keys) != 1:
            raise ValueError("keyset pagination requires a single key column")
        crit = dict(criteria or {})
        if after is not None:
            crit = {"$and": [crit, {keys[0]: {"$gt": after}}]} if crit else {
                keys[0]: {"$gt": after}}
        return self.query(criteria=crit, properties=properties,
                          sort={keys[0]: 1}, limit=page_size)

    def query_docs(self, *args: Any, **kwargs: Any) -> Iterator[dict]:
        """Row-oriented edge surface (streams via toLocalIterator)."""
        for row in self.query(*args, **kwargs).toLocalIterator():
            yield row.asDict(recursive=True)

    def query_one(
        self,
        criteria: Optional[dict] = None,
        properties: Union[dict, list, None] = None,
        sort: Optional[dict] = None,
    ) -> Optional[dict]:
        """reference:src/maggma/core/store.py:183-198"""
        row = self.query(criteria, properties, sort, limit=1).first()
        return row.asDict(recursive=True) if row is not None else None

    def explain(
        self,
        criteria: Optional[dict] = None,
        properties: Union[dict, list, None] = None,
        **kwargs: Any,
    ) -> dict:
        """Physical-plan introspection for a query — the columnar
        answer to Mongo's `explain()` cursor method and the
        reference's `ensure_index` tuning loop: instead of checking
        whether an index would be used, check whether the filter and
        projection REACHED THE SCAN. Returns
        {"plan": <formatted physical plan>,
         "pushed_filters": [...],   # filters inside the file scan
         "read_schema": "...",      # columns the scan actually reads
         "batch_scan": bool}        # columnar scan node present
        Filters/columns that appear in `plan` but not in
        pushed_filters/read_schema are evaluated post-scan — a
        selective criteria dict whose field never reaches
        pushed_filters is reading the whole table at 100 TB."""
        import re as _re

        df = self.query(criteria, properties, **kwargs)
        jvm = df.sparkSession._jvm
        plan = df._jdf.queryExecution().explainString(
            jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"))
        pushed: list[str] = []
        for m in _re.finditer(r"PushedFilters:\s*\[([^\]]*)\]", plan):
            # filters separate with ", "; commas INSIDE a filter
            # (GreaterThanOrEqual(l_quantity,30.0)) have no space
            pushed += [p.strip() for p in m.group(1).split(", ")
                       if p.strip()]
        rs = _re.search(r"ReadSchema:\s*(\S+)", plan)
        return {"plan": plan,
                "pushed_filters": pushed,
                "read_schema": rs.group(1) if rs else None,
                "batch_scan": bool(
                    _re.search(r"\(\d+\) (?:Batch)?Scan\b", plan))}

    def count(self, criteria: Optional[dict] = None) -> int:
        """reference:src/maggma/stores/mongolike.py:259-285 — one Spark
        job (`count_rows`)."""
        df = self.df
        if criteria:
            df = df.filter(compile_criteria(criteria, schema=df.schema))
        return count_rows(df)

    def distinct_df(self, field: str, criteria: Optional[dict] = None) -> DataFrame:
        """Distinct values as a one-column DataFrame; array fields
        unravel (explode_outer keeps the null-doc contribution,
        reference:src/maggma/stores/mongolike.py:164-182)."""
        df = self.df
        if criteria:
            df = df.filter(compile_criteria(criteria, schema=df.schema))
        ftype = _path_type(df.schema, field)
        out_name = field.replace(".", "_") if "." in field else field
        if ftype is None:
            # Mongo: distinct on a field no document has returns []
            return df.limit(0).select(F.lit(None).cast("string").alias(out_name))
        if isinstance(ftype, ArrayType):
            df = df.select(F.explode_outer(F.col(field)).alias(out_name))
        else:
            df = df.select(F.col(field).alias(out_name))
        return df.distinct()

    def distinct(self, field: str, criteria: Optional[dict] = None) -> list:
        """reference:src/maggma/core/store.py:200-211 — list-returning
        edge; includes null (Mongo parity, tests/stores/
        test_mongolike.py:114-115)."""
        return [r[0] for r in self.distinct_df(field, criteria).collect()]

    def groupby(
        self,
        keys: Union[list[str], str],
        criteria: Optional[dict] = None,
        properties: Union[dict, list, None] = None,
        sort: Optional[dict] = None,
        skip: int = 0,
        limit: int = 0,
        missing_keys: str = "drop",
    ) -> DataFrame:
        """reference:src/maggma/core/store.py:147-172 — returns a
        DataFrame of (_id struct<keys>, docs array<struct>).

        missing_keys="drop" (default): rows missing any group key are
        dropped — the Memory-store semantics the reference tests pin
        (reference:src/maggma/stores/mongolike.py:581-583).
        missing_keys="partial": rows keep grouping with a null field in
        `_id` — the Mongo-impl variant that groups docs under a partial
        `_id` (reference:src/maggma/stores/mongolike.py:224-232; Mongo
        omits the key from the _id doc, a struct column nulls it — see
        DEVIATIONS.md).

        sort/skip/limit apply to the document scan BEFORE grouping,
        mirroring the reference's pipeline order."""
        if missing_keys not in ("drop", "partial"):
            raise ValueError("missing_keys must be 'drop' or 'partial'")
        if isinstance(keys, str):
            keys = [keys]
        if sort or skip or limit:
            df = self.query(criteria=criteria, sort=sort, skip=skip, limit=limit)
            criteria = None
        else:
            df = self.df
        if criteria:
            df = df.filter(compile_criteria(criteria, schema=df.schema))
        cols = compile_projection(properties, schema=df.schema)
        doc_struct = F.struct(*cols) if cols is not None else F.struct(*df.columns)
        if missing_keys == "drop":
            for k in keys:
                df = df.filter(F.col(k).isNotNull())
        safe = [k.replace(".", "_") for k in keys]
        gdf = df.groupBy(*[F.col(k).alias(s) for k, s in zip(keys, safe)])
        return gdf.agg(F.collect_list(doc_struct).alias("docs")).select(
            F.struct(*[F.col(s) for s in safe]).alias("_id"), "docs"
        )

    def agg_groupby(
        self,
        keys: Union[list[str], str],
        aggs: dict[str, Column],
        criteria: Optional[dict] = None,
        mode: str = "groupby",
    ) -> DataFrame:
        """Analytical aggregation with grouping-set modes the reference
        never had (SURVEY §2.4 'not present'): mode ∈ {groupby, cube,
        rollup}. `aggs` maps output name -> agg Column. Partial (map-side)
        aggregation and AQE partition coalescing apply automatically."""
        if isinstance(keys, str):
            keys = [keys]
        df = self.df
        if criteria:
            df = df.filter(compile_criteria(criteria, schema=df.schema))
        grouped = {
            "groupby": df.groupBy,
            "cube": df.cube,
            "rollup": df.rollup,
        }[mode](*keys)
        return grouped.agg(*[c.alias(n) for n, c in aggs.items()])

    def aggregate(self, pipeline: list[dict],
                  stores: Optional[dict] = None) -> DataFrame:
        """Run a Mongo aggregation pipeline against this store — the
        `store._collection.aggregate(pipeline)` parity surface
        (reference:src/maggma/api/resource/aggregation.py:82). Compiles
        to one DataFrame chain via functions.agg_pipeline."""
        from maggma_spark.functions.agg_pipeline import compile_pipeline

        return compile_pipeline(self.df, pipeline, stores=stores)

    def groupby_docs(self, *args: Any, **kwargs: Any) -> Iterator[tuple[dict, list[dict]]]:
        """(key_doc, [docs]) iterator edge surface."""
        for row in self.groupby(*args, **kwargs).toLocalIterator():
            d = row.asDict(recursive=True)
            yield d["_id"], d["docs"]

    # -- watermark / incremental ----------------------------------------
    @property
    def last_updated(self) -> Optional[_dt.datetime]:
        """Global max(last_updated) — one metadata-friendly agg instead of
        the reference's sort-desc-limit-1
        (reference:src/maggma/core/store.py:213-237)."""
        df = self.try_df()
        if df is None:
            return None
        row = df.agg(F.max(self._lu_expr(F.col(self.last_updated_field)))).first()
        return row[0] if row else None

    def newer_in(
        self,
        target: "SparkStore",
        criteria: Optional[dict] = None,
        exhaustive: bool = False,
    ) -> DataFrame:
        """Keys that are newer in `target` than in this store.

        exhaustive=True: anti-join (new keys) ∪ equi-join where
        target.lu > self.lu — reference:src/maggma/core/store.py:239-273.
        exhaustive=False: high-watermark fast path `target.lu >
        max(self.lu)` — reference:src/maggma/core/store.py:274-275.

        Returns a one-column DataFrame named after the key (stays
        distributed; callers semi-join it, never collect it).
        """
        keys, lu = self.keys, self.last_updated_field
        tlu = target.last_updated_field
        tgt = target.df
        if criteria:
            tgt = tgt.filter(compile_criteria(criteria, schema=tgt.schema))
        self_df = self.try_df()
        if self_df is None or lu not in self_df.columns:
            # empty store, or no watermark column yet (e.g. a transform
            # target before its first write): everything is newer
            return tgt.select(*keys).distinct()
        # each side converts through its OWN watermark type (the
        # reference's per-store _lu_func; string/datetime stores compose)
        if not exhaustive:
            hw = self.last_updated
            if hw is None:
                return tgt.select(*keys).distinct()
            return (tgt.filter(target._lu_expr(F.col(tlu)) > F.lit(hw))
                    .select(*keys).distinct())
        src = self_df.select(
            *keys, self._lu_expr(F.col(lu)).alias("__src_lu"))
        tgt_kl = tgt.select(
            *keys, target._lu_expr(F.col(tlu)).alias("__tgt_lu"))
        new_keys = tgt_kl.join(src, on=keys, how="left_anti").select(*keys)
        updated = (
            tgt_kl.join(src, on=keys, how="inner")
            .filter(F.col("__tgt_lu") > F.col("__src_lu"))
            .select(*keys)
        )
        return new_keys.unionByName(updated).distinct()

    # -- write surface (overridden by writable backends) -----------------
    def update(self, docs: Any, key: Union[list[str], str, None] = None) -> None:
        raise NotImplementedError(f"{type(self).__name__} is read-only")

    def remove_docs(self, criteria: dict) -> None:
        raise NotImplementedError(f"{type(self).__name__} is read-only")

    def update_matching(self, criteria: dict, updates: dict) -> None:
        """Mongo `update(filter, {"$set": ...}, upsert=False)` analog
        (reference:src/maggma/api/resource/submission.py:372-375);
        writable backends override via operators.merge.set_matching."""
        raise NotImplementedError(f"{type(self).__name__} is read-only")

    def ensure_index(self, key: str, unique: bool = False) -> bool:
        """Indexes are obsolete under columnar layout + partition pruning
        (SURVEY §4); kept for API parity."""
        return True

    def as_spec(self) -> dict:
        """MSONable-style @class spec for pipeline serialization
        (reference:src/maggma/utils.py:209-218 / monty @class,@module).
        Path-backed stores override; in-session views are not
        serializable."""
        raise NotImplementedError(
            f"{type(self).__name__} is an in-session view; only "
            "path/table-backed stores serialize to pipeline specs")

    def __repr__(self) -> str:
        return f"{type(self).__name__}(name={self.name!r}, key={self.key!r})"
