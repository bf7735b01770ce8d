"""FormatStore — the ParquetStore surface over CSV / JSON-lines / ORC.

Reference parity: the reference reads documents from whatever backend
holds them — JSON files (reference:src/maggma/stores/mongolike.py:560),
gzipped jsonl in OpenDataStore (reference:src/maggma/stores/open_data.py),
msgpack blobs in S3. The uniform lesson is "the query surface must not
care about the wire format". Here any Spark DataSource V2 file format
serves the full SparkStore surface (criteria compiler, projections,
upsert, remove_docs) by overriding exactly two funnels of ParquetStore:
the reader and ``_save``.

Scale notes:
- CSV/JSON scans can't skip row groups (no footer statistics), so at
  100 TB these formats are INGEST formats: read once, `to_parquet()` into
  a ParquetStore, query there. The docstring contract, not a hidden
  footgun — `scan_efficiency` spells it out per format.
- Schema inference on CSV/JSON reads the data twice; pass `schema=` (or
  `samplingRatio` in read_options) for large datasets.
"""

from __future__ import annotations

import os
import pathlib
from typing import Any, Optional, Sequence

from pyspark.sql import SparkSession

from maggma_spark.sources.parquet import ParquetStore, read_parquet

_FORMATS = ("parquet", "csv", "json", "orc")

# formats with columnar statistics get row-group/stripe skipping; the
# text formats must scan every byte
_SCAN_EFFICIENCY = {
    "parquet": "columnar: column pruning + row-group min/max skipping",
    "orc": "columnar: column pruning + stripe min/max skipping",
    "csv": "row text: full scan, no pushdown beyond partition pruning",
    "json": "row text: full scan, no pushdown beyond partition pruning",
}

_READ_DEFAULTS: dict[str, dict[str, str]] = {
    "csv": {"header": "true", "inferSchema": "true"},
    "json": {},
    "orc": {},
    "parquet": {},
}
_WRITE_DEFAULTS: dict[str, dict[str, str]] = {
    "csv": {"header": "true"},
    "json": {},
    "orc": {},
    "parquet": {},
}


class FormatStore(ParquetStore):
    """Path-backed store in any Spark file format.

    ``format``: parquet | csv | json (JSON-lines) | orc (``jsonl`` is
    accepted as an alias for json). Everything else about the store —
    criteria, projections, upsert-by-key, partition_by dynamic
    overwrite, compact/optimize — is inherited unchanged.
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        format: str = "parquet",
        schema: Any = None,
        read_options: Optional[dict] = None,
        write_options: Optional[dict] = None,
        name: Optional[str] = None,
        **kwargs: Any,
    ):
        fmt = str(format).lower()
        if fmt == "jsonl":
            fmt = "json"
        if fmt not in _FORMATS:
            raise ValueError(
                f"unsupported format {format!r}; one of {_FORMATS}")
        self.format = fmt
        self.schema = schema
        self.read_options = {**_READ_DEFAULTS[fmt], **(read_options or {})}
        self.write_options = {**_WRITE_DEFAULTS[fmt], **(write_options or {})}
        super().__init__(spark, path, name=name or fmt, **kwargs)
        self._provider = self._load  # replace the parquet reader

    @property
    def scan_efficiency(self) -> str:
        return _SCAN_EFFICIENCY[self.format]

    def _load(self):
        if self.format == "parquet":
            return read_parquet(self.spark, self.path)
        r = self.spark.read.options(**self.read_options)
        if self.schema is not None:
            r = r.schema(self.schema)
        return r.format(self.format).load(self.path)

    def _save(self, writer, path: str) -> None:
        writer.options(**self.write_options).format(self.format).save(path)

    def _writes_parquet(self) -> bool:
        return self.format == "parquet"

    def _dataset_size_bytes(self) -> int:
        if "://" in self.path:
            return super()._dataset_size_bytes()
        if not os.path.exists(self.path):
            return 0
        return sum(
            f.stat().st_size
            for f in pathlib.Path(self.path).rglob("*")
            if f.is_file() and not f.name.startswith(("_", "."))
        )

    def as_spec(self) -> dict:
        spec = super().as_spec()
        spec["@class"] = "maggma_spark.sources.formats.FormatStore"
        spec["format"] = self.format
        return spec

    def to_parquet(self, path: str, **kwargs: Any) -> ParquetStore:
        """One-shot ingest: rewrite this dataset as parquet and return a
        ParquetStore over it — the 100 TB pattern for text formats
        (scan the csv/json exactly once, query the columnar copy)."""
        dst = ParquetStore(self.spark, path, name=f"{self.name}_parquet",
                           key=self.key,
                           last_updated_field=self.last_updated_field,
                           partition_by=self.partition_by, **kwargs)
        dst._rewrite(self.df, dynamic=False)
        return dst
