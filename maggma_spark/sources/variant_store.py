"""VariantJSONStore — schemaless JSON-lines through one VARIANT column.

The reference's JSONStore promises "load any JSON docs, query by any
path" (reference:src/maggma/stores/mongolike.py:560-720). The
schema-inferring JSONStore (sources/json_store.py) keeps that promise
by unioning every document's fields into one struct schema — which has
two failure modes the reference never hits because Mongo is
schemaless: (a) conflicting types across documents (``{"a": 1}`` and
``{"a": "x"}`` collapse to string), and (b) at 100 TB, inference
itself is a full extra pass and the unioned struct grows with every
stray field anywhere in the corpus.

This store keeps raw documents in a single Spark-4 VARIANT column
instead: no inference pass (`spark.read.text` + `parse_json` per
line), per-document types preserved, and dotted-path criteria compile
to `try_variant_get` extractions through the same criteria compiler
(functions/criteria.py::_variant_field_pred). Only the key (and
optionally the watermark) are materialized as typed columns — the two
fields the store contract actually needs for upserts and incremental
diffs.

Limitations (documented, enforced): sort only on the materialized
columns; `$expr`/`$text`/`$jsonSchema` need typed columns — promote
fields first (`promote()`), which is also the scale path for any field
you filter on often (a typed column gets parquet statistics; a variant
path does not).
"""

from __future__ import annotations

from typing import Any, Optional, Sequence, Union

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from maggma_spark.functions.criteria import compile_criteria
from maggma_spark.store import SparkStore, count_rows

DOC = "__doc"
_STRUCTURAL = ("$expr", "$jsonSchema", "$text", "$where")


class VariantJSONStore(SparkStore):
    def __init__(
        self,
        spark: SparkSession,
        paths: Union[str, Sequence[str]],
        key: str = "task_id",
        key_type: str = "bigint",
        last_updated_field: str = "last_updated",
        last_updated_type: str = "datetime",
        materialize_lu: bool = False,
        name: str = "variant_json",
    ):
        self.spark = spark
        self.paths = paths
        self.key_type = key_type
        self.materialize_lu = materialize_lu

        def load() -> DataFrame:
            raw = spark.read.text(paths)
            doc = F.parse_json(F.col("value"))
            cols = [
                F.try_variant_get(doc, f"$.{key}", key_type).alias(key),
                doc.alias(DOC),
            ]
            if materialize_lu:
                lu_t = ("string" if last_updated_type == "isoformat"
                        else "timestamp")
                cols.insert(1, F.try_variant_get(
                    doc, f"$.{last_updated_field}", lu_t
                ).alias(last_updated_field))
            return raw.select(*cols)

        super().__init__(load, name=name, key=key,
                         last_updated_field=last_updated_field,
                         last_updated_type=last_updated_type)

    # -- path rewriting --------------------------------------------------
    def _physical(self) -> set[str]:
        cols = {self.key, DOC}
        if self.materialize_lu:
            cols.add(self.last_updated_field)
        return cols

    def _rewrite(self, criteria: Optional[dict]) -> Optional[dict]:
        if not criteria:
            return criteria
        out: dict = {}
        for k, v in criteria.items():
            if k in ("$and", "$or", "$nor"):
                out[k] = [self._rewrite(c) for c in v]
            elif k == "$not":
                out[k] = self._rewrite(v)
            elif k in _STRUCTURAL:
                raise ValueError(
                    f"{k} needs typed columns; promote() the fields it "
                    "references out of the variant first")
            elif k.startswith("$"):
                out[k] = v
            elif k.split(".", 1)[0] in self._physical():
                out[k] = v
            else:
                out[f"{DOC}.{k}"] = v
        return out

    def _pred(self, criteria: Optional[dict]) -> Column:
        return compile_criteria(self._rewrite(criteria),
                                schema=self.df.schema)

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
        if sort and any(f not in self._physical() for f in sort):
            raise ValueError(
                "sort fields must be materialized columns "
                f"({sorted(self._physical() - {DOC})}); promote() the "
                "field first")
        if isinstance(properties, dict):
            properties = [k for k, v in properties.items() if v]
        df = self.df
        if criteria:
            df = df.filter(self._pred(criteria))
        if properties is not None:
            cols = []
            for p in properties:
                if p.split(".", 1)[0] in self._physical():
                    cols.append(F.col(p))
                else:
                    cols.append(F.try_variant_get(
                        F.col(DOC), "$." + p, "variant").alias(p))
            df = df.select(*cols)
        eff_sort = sort if sort else self.default_sort
        if eff_sort or skip or limit:
            from maggma_spark.store import _sort_columns

            tiebreak = [k for k in self.keys if k in df.columns]
            order = _sort_columns(eff_sort,
                                  tiebreak if (skip or limit) else None)
            if order:
                df = df.orderBy(*order)
        if skip:
            df = df.offset(skip)
        if limit:
            df = df.limit(limit)
        return df

    def count(self, criteria: Optional[dict] = None) -> int:
        df = self.df
        if criteria:
            df = df.filter(self._pred(criteria))
        return count_rows(df)

    def distinct(self, field: str, criteria: Optional[dict] = None) -> list:
        rows = (
            self.query(criteria=criteria, properties=[field])
            .distinct()
            .collect()
        )
        return [r[0] for r in rows]

    def promote(self, field: str, dtype: str,
                alias: Optional[str] = None) -> DataFrame:
        """Materialize a variant path as a typed column (alongside key +
        doc): the scale path for hot filter fields — typed parquet
        columns get min/max statistics and predicate pushdown; variant
        paths are decoded per row."""
        return self.df.withColumn(
            alias or field.replace(".", "_"),
            F.try_variant_get(F.col(DOC), "$." + field, dtype))
