"""JSONStore / FileStore / OpenDataStore backend tests (reference:tests/
stores/test_mongolike.py JSONStore sections, test_file_store.py,
test_open_data.py)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import Row

from maggma_spark.sources.file_store import FileStore
from maggma_spark.sources.json_store import JSONStore
from maggma_spark.sources.open_data import OpenDataStore


def test_json_store_read_multiline(spark, tmp_path):
    # reference fixture shape: tests/test_files/test_set/{a,b}.json
    a = tmp_path / "a.json"
    b = tmp_path / "b.json"
    a.write_text(json.dumps([{"task_id": i, "A": i} for i in range(10)]))
    b.write_text(json.dumps([{"task_id": i, "B": i} for i in range(10, 20)]))
    st = JSONStore(spark, [str(a), str(b)], key="task_id")
    assert st.count() == 20
    assert st.count({"A": {"$exists": True}}) == 10
    assert st.query_one({"task_id": 15})["B"] == 15


def test_json_store_jsonl_and_writeback(spark, tmp_path):
    p = tmp_path / "docs.jsonl"
    with open(p, "w") as fh:
        for i in range(5):
            fh.write(json.dumps({"task_id": i, "v": i}) + "\n")
    st = JSONStore(spark, str(p), key="task_id", file_writable=True)
    assert st.count() == 5
    st.update([Row(task_id=2, v=200), Row(task_id=9, v=9)])
    st2 = JSONStore(spark, str(p), key="task_id")
    assert st2.count() == 6
    assert st2.query_one({"task_id": 2})["v"] == 200
    st.remove_docs({"v": {"$lt": 2}})
    assert JSONStore(spark, str(p), key="task_id").count() == 4


def test_json_store_writable_requires_single_path(spark, tmp_path):
    with pytest.raises(ValueError):
        JSONStore(spark, ["a.json", "b.json"], file_writable=True)


def test_file_store(spark, tmp_path):
    base = tmp_path / "files"
    (base / "sub").mkdir(parents=True)
    (base / "x.txt").write_text("hello world")
    (base / "sub" / "y.txt").write_text("goodbye")
    (base / "sub" / "z.bin").write_bytes(b"\x00\x01")

    st = FileStore(spark, str(base), glob="*.txt", read_contents=True)
    rows = {r["name"]: r.asDict() for r in st.df.collect()}
    assert set(rows) == {"x.txt", "y.txt"}
    assert rows["x.txt"]["size"] == 11
    assert rows["y.txt"]["parent"] == "sub"
    assert rows["y.txt"]["path_relative"] == "sub/y.txt"
    assert rows["x.txt"]["hash"] is not None
    assert bytes(rows["x.txt"]["contents"]) == b"hello world"

    # metadata sidecar join by file_id
    fid = rows["x.txt"]["file_id"]
    st.update([{"file_id": fid, "tag": "important"}])
    tagged = st.query_one({"tag": "important"})
    assert tagged["name"] == "x.txt"
    assert st.query_one({"name": "y.txt"})["tag"] is None

    # orphan: metadata for a vanished file
    st.update([{"file_id": "deadbeef", "tag": "ghost"}])
    st.include_orphans = True
    orphan = st.query_one({"file_id": "deadbeef"})
    assert orphan["orphan"] is True and orphan["name"] is None


def test_open_data_store(spark, tmp_path):
    path = str(tmp_path / "od")
    st = OpenDataStore(spark, path, object_grouping=["nelements", "symmetry_number"],
                       key="task_id")
    docs = [Row(task_id=f"t{i}", nelements=i % 2, symmetry_number=i % 3,
                data=f"d{i}", int_val=i) for i in range(12)]
    st.update(docs)
    assert st.count() == 12
    # hive layout on disk
    assert any(d.startswith("nelements=") for d in os.listdir(path))

    # partition-scoped upsert: only touched partitions rewrite
    st.update([Row(task_id="t0", nelements=0, symmetry_number=0,
                   data="NEW", int_val=100)])
    assert st.count() == 12
    assert st.query_one({"task_id": "t0"})["data"] == "NEW"
    assert st.query_one({"task_id": "t1"})["data"] == "d1"

    # partition pruning: the criteria on a partition column prunes
    # directories (semantic check here; plan check in test_plans_quality)
    assert st.count({"nelements": 1}) == 6

    # pandas query-string dialect (t0 now has int_val=100 from the upsert)
    assert st.query_expr("int_val >= 6 and nelements == 0").count() == 4

    st.remove_docs({"int_val": {"$gte": 10}})  # removes t10, t11, t0(=100)
    assert st.count() == 9


def test_validator(spark):
    from maggma_spark.plans.validate import DocumentValidator, ValidationError
    from maggma_spark.sources.memory import MemoryStore

    df = spark.createDataFrame([
        Row(task_id="a", e=1, d=2),
        Row(task_id="b", e=None, d=3),
        Row(task_id="c", e=5, d=-1),
    ])
    v = DocumentValidator(
        schema={"required": ["e"], "properties": {"e": {"type": "integer"}}},
        rules={"d_nonneg": {"d": {"$gte": 0}}},
    )
    valid, invalid = v.partition(df)
    assert sorted(r["task_id"] for r in valid.collect()) == ["a"]
    bad = {r["task_id"]: r["_violations"] for r in invalid.collect()}
    assert bad["b"] == ["required:e"] and bad["c"] == ["rule:d_nonneg"]

    # strict raises
    v_strict = DocumentValidator(schema={"required": ["e"]}, strict=True)
    with pytest.raises(ValidationError):
        v_strict.validate_for_write(df)

    # plan-time type mismatch
    v_type = DocumentValidator(schema={"properties": {"e": {"type": "string"}}})
    with pytest.raises(ValidationError):
        v_type.validate_for_write(df)

    # quarantine routing
    q = MemoryStore(spark, None, name="quarantine", key="task_id",
                     schema="task_id string, e bigint, d bigint, _violations array<string>")
    ok = v.validate_for_write(df, quarantine=q)
    assert ok.count() == 1
    assert q.count() == 2


def test_pipeline_runner(spark, tmp_path):
    from maggma_spark.plans.pipeline import PipelineRunner

    src_path = str(tmp_path / "src")
    tgt_path = str(tmp_path / "tgt")
    import datetime as dt

    spark.createDataFrame(
        [Row(task_id=i, last_updated=dt.datetime(2024, 1, 1), v=i)
         for i in range(20)]
    ).write.parquet(src_path)

    spec = {
        "stores": {
            "src": {"@class": "maggma_spark.sources.parquet.ParquetStore",
                    "path": src_path, "key": "task_id"},
            "tgt": {"@class": "maggma_spark.sources.parquet.ParquetStore",
                    "path": tgt_path, "key": "task_id"},
        },
        "builders": [
            {"@class": "maggma_spark.operators.builders.CopyBuilder",
             "source": "$stores.src", "target": "$stores.tgt"},
        ],
    }
    runner = PipelineRunner(spark).load(spec)
    reports = runner.run()
    assert reports[0]["state"] == "successful"
    from maggma_spark.sources.parquet import ParquetStore

    assert ParquetStore(spark, tgt_path, key="task_id").count() == 20


def test_store_spec_roundtrip(spark, tmp_path):
    """as_spec() -> PipelineRunner._construct round-trip."""
    import datetime as dt

    from maggma_spark.plans.pipeline import PipelineRunner
    from maggma_spark.sources.parquet import ParquetStore

    path = str(tmp_path / "rt")
    st = ParquetStore(spark, path, key="task_id", partition_by=["p"])
    st.update([Row(task_id=i, last_updated=dt.datetime(2024, 1, 1), p=i % 2)
               for i in range(4)])
    spec = st.as_spec()
    rebuilt = PipelineRunner(spark)._construct(spec)
    assert rebuilt.count() == 4
    assert rebuilt.key == "task_id" and rebuilt.partition_by == ["p"]
    # in-session views refuse to serialize
    from maggma_spark.sources.memory import MemoryStore

    with pytest.raises(NotImplementedError):
        MemoryStore(spark, [Row(task_id=1)]).as_spec()


def test_blob_store(spark, tmp_path):
    """GridFS pattern: payload + metadata criteria auto-prefixing,
    newest-per-key, metadata-only reads never touch payload."""
    from maggma_spark.sources.blob import BlobStore

    path = str(tmp_path / "blobs")
    st = BlobStore(spark, path, key="blob_id")
    st.put([
        {"blob_id": "a", "payload": b"AAAA", "kind": "image", "tag": "x"},
        {"blob_id": "b", "payload": b"BBBBBB", "kind": "audio", "tag": "y"},
    ])
    # bare metadata field names in criteria (the GridFS dialect)
    assert st.count({"kind": "image"}) == 1
    row = st.query_one({"kind": "audio"})
    assert row["blob_id"] == "b" and row["length"] == 6
    assert sorted(st.distinct("kind")) == ["audio", "image"]
    # newest upload wins per key
    st.put([{"blob_id": "a", "payload": b"NEW", "kind": "image", "tag": "z"}])
    assert st.count() == 2
    assert bytes(st.query_one({"blob_id": "a"})["payload"]) == b"NEW"
    # metadata-only projection prunes payload from the scan
    import re

    df = st.query({"kind": "image"}, properties=["blob_id", "metadata.kind"])
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    schema = re.search(r"ReadSchema: (.*)", plan).group(1)
    assert "payload" not in schema


def test_parquet_compact(spark, tmp_path):
    import datetime as dt
    import pathlib

    from maggma_spark.sources.parquet import ParquetStore

    path = str(tmp_path / "frag")
    spark.createDataFrame(
        [Row(k=i, lu=dt.datetime(2024, 1, 1), v=i) for i in range(50)]
    ).repartition(10).write.parquet(path)  # fragmented layout
    st = ParquetStore(spark, path, key="k", last_updated_field="lu")
    before = len(list(pathlib.Path(path).rglob("*.parquet")))
    assert before == 10
    st.compact(target_file_mb=128)
    after = len(list(pathlib.Path(path).rglob("*.parquet")))
    assert after < before and after == 1  # tiny data -> single file
    assert st.count() == 50


def test_parquet_partition_scoped_update(spark, tmp_path):
    """Partitioned upsert touches ONLY partitions containing updated
    keys — untouched partition files are not rewritten."""
    import datetime as dt
    import pathlib

    from maggma_spark.sources.parquet import ParquetStore

    path = str(tmp_path / "pp")
    st = ParquetStore(spark, path, key="k", last_updated_field="lu",
                      partition_by=["part"])
    st.update([Row(k=i, lu=dt.datetime(2024, 1, 1), part=i % 3, v=i)
               for i in range(9)])

    def files_of(part):
        return sorted((str(p), p.stat().st_mtime_ns)
                      for p in pathlib.Path(path, f"part={part}").glob("*.parquet"))

    before_p0, before_p2 = files_of(0), files_of(2)
    st.update([Row(k=1, lu=dt.datetime(2024, 2, 1), part=1, v=100)])
    assert st.count() == 9
    assert st.query_one({"k": 1})["v"] == 100
    assert st.query_one({"k": 2})["v"] == 2        # other partitions intact
    assert files_of(0) == before_p0                 # untouched files untouched
    assert files_of(2) == before_p2


def test_parquet_partitioned_remove_docs_clears_emptied_partition(spark, tmp_path):
    """remove_docs on a partitioned store must be a static full rewrite:
    a dynamic overwrite would skip partitions whose rows were ALL
    removed, so their old files would survive and deleted docs would
    resurface (round-2 ADVICE high)."""
    import datetime as dt
    import pathlib

    from maggma_spark.sources.parquet import ParquetStore

    path = str(tmp_path / "prm")
    st = ParquetStore(spark, path, key="k", last_updated_field="lu",
                      partition_by=["part"])
    st.update([Row(k=i, lu=dt.datetime(2024, 1, 1), part=i % 3, v=i)
               for i in range(9)])
    # wipe EVERY doc of partition part=1 plus one doc of part=0
    st.remove_docs({"$or": [{"part": 1}, {"k": 0}]})
    assert st.count() == 5
    assert st.query_one({"part": 1}) is None       # emptied partition gone
    assert not pathlib.Path(path, "part=1").exists()
    assert st.query_one({"k": 0}) is None
    assert st.query_one({"k": 2})["v"] == 2


def test_parquet_partitioned_compact(spark, tmp_path):
    """compact() on a partitioned store rewrites in place (static swap)
    without tripping the overwrite-while-reading guard."""
    import datetime as dt

    from maggma_spark.sources.parquet import ParquetStore

    path = str(tmp_path / "pcx")
    st = ParquetStore(spark, path, key="k", last_updated_field="lu",
                      partition_by=["part"])
    st.update([Row(k=i, lu=dt.datetime(2024, 1, 1), part=i % 2, v=i)
               for i in range(20)])
    st.compact(target_file_mb=128)
    assert st.count() == 20
    assert st.query_one({"k": 7})["v"] == 7


def test_remove_docs_static_pin_overrides_dynamic_session_conf(spark, tmp_path):
    """The static-rewrite writers pin partitionOverwriteMode=static
    explicitly: with the session conf globally set to dynamic (common in
    production) an unpinned overwrite would skip fully-emptied
    partitions and deleted docs would resurface (round-2 ADVICE). A
    file:// URI exercises the in-place overwrite branch, where the mode
    actually matters."""
    import datetime as dt
    import pathlib

    from maggma_spark.sources.open_data import OpenDataStore
    from maggma_spark.sources.parquet import ParquetStore

    conf_key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(conf_key, "static")
    spark.conf.set(conf_key, "dynamic")
    try:
        pq_dir = tmp_path / "pin_pq"
        st = ParquetStore(spark, f"file://{pq_dir}", key="k",
                          last_updated_field="lu", partition_by=["part"])
        st.update([Row(k=i, lu=dt.datetime(2024, 1, 1), part=i % 3, v=i)
                   for i in range(9)])
        st.remove_docs({"part": 1})
        assert st.count() == 6
        assert st.query_one({"part": 1}) is None
        assert not pathlib.Path(pq_dir, "part=1").exists()

        od_dir = tmp_path / "pin_od"
        od = OpenDataStore(spark, f"file://{od_dir}", object_grouping=["grp"],
                           key="k", last_updated_field="lu")
        od.update([Row(k=i, lu=dt.datetime(2024, 1, 1), grp=f"g{i % 2}", v=i)
                   for i in range(8)])
        od.remove_docs({"grp": "g1"})
        assert od.count() == 4
        assert not pathlib.Path(od_dir, "grp=g1").exists()
    finally:
        spark.conf.set(conf_key, prev)


def test_open_data_local_remove_docs_keeps_gzip_layout(spark, tmp_path):
    """A delete on a local JSON OpenDataStore must preserve the
    jsonl.gz compression contract (one writer helper serves _write and
    both remove_docs branches)."""
    import datetime as dt
    import pathlib

    from maggma_spark.sources.open_data import OpenDataStore

    path = str(tmp_path / "odgz")
    st = OpenDataStore(spark, path, object_grouping=["grp"], key="k",
                       last_updated_field="lu", file_format="json")
    st.update([Row(k=i, lu="2024-01-01", grp=f"g{i % 2}", v=i)
               for i in range(8)])
    st.remove_docs({"k": 0})
    assert st.count() == 7
    data_files = [p for p in pathlib.Path(path).rglob("*")
                  if p.is_file() and "json" in p.name and
                  not p.name.startswith(("_", "."))]
    assert data_files and all(p.name.endswith(".gz") for p in data_files)


def test_open_data_remove_docs_clears_emptied_partition(spark, tmp_path):
    """OpenDataStore.remove_docs is a static rewrite: wiping every doc of
    one object_grouping partition must delete that partition directory."""
    import datetime as dt
    import pathlib

    from maggma_spark.sources.open_data import OpenDataStore

    path = str(tmp_path / "od")
    st = OpenDataStore(spark, path, object_grouping=["grp"], key="k",
                       last_updated_field="lu")
    st.update([Row(k=i, lu=dt.datetime(2024, 1, 1), grp=f"g{i % 2}", v=i)
               for i in range(8)])
    st.remove_docs({"grp": "g1"})
    assert st.count() == 4
    assert not pathlib.Path(path, "grp=g1").exists()
    assert st.query_one({"k": 0})["v"] == 0


def test_pipeline_source_file_loading_and_report_store(spark, tmp_path):
    """resolve_class('file.py:Class') loads builders from a source file
    not on sys.path (mrun source_loader parity); run(report_store=...)
    sinks per-builder events to a store (mrun --reporting)."""
    import datetime as dt

    from maggma_spark.plans.pipeline import PipelineRunner, resolve_class
    from maggma_spark.sources.memory import MemoryStore
    from maggma_spark.sources.parquet import ParquetStore

    src_file = tmp_path / "my_builders.py"
    src_file.write_text(
        "from maggma_spark.operators.builders import CopyBuilder\n"
        "class MyCopy(CopyBuilder):\n"
        "    pass\n")
    cls = resolve_class(f"{src_file}:MyCopy")
    assert cls.__name__ == "MyCopy"

    src = ParquetStore(spark, str(tmp_path / "src"), key="k",
                       last_updated_field="lu")
    src.update([{"k": 1, "lu": dt.datetime(2024, 1, 1), "v": 10}])
    tgt = ParquetStore(spark, str(tmp_path / "tgt"), key="k",
                       last_updated_field="lu")
    runner = PipelineRunner(spark)
    runner.stores = {"src": src, "tgt": tgt}
    runner._builder_specs = [
        {"@class": f"{src_file}:MyCopy",
         "source": "$stores.src", "target": "$stores.tgt"}]
    events = MemoryStore(spark, None, name="events", key="report_id",
                         schema=("report_id bigint, builder string, `index` bigint, "
                                 "seconds double, state string, last_updated timestamp"))
    reports = runner.run(report_store=events)
    assert reports[0]["state"] == "successful"
    assert reports[0]["builder"] == "MyCopy"
    assert tgt.count() == 1
    ev = events.query_one()
    assert ev["builder"] == "MyCopy" and ev["state"] == "successful"

    import pytest as _pytest
    with _pytest.raises(FileNotFoundError):
        resolve_class("no_such_notebook.ipynb:Thing")


def test_resolve_class_from_notebook(tmp_path):
    """`nb.ipynb:ClassName` parity with the reference's notebook source
    loading (reference:src/maggma/cli/source_loader.py:115-131): code
    cells exec in order, magics/shell escapes are skipped, markdown
    cells are ignored."""
    import json as _json

    from maggma_spark.plans.pipeline import resolve_class

    nb = {
        "cells": [
            {"cell_type": "markdown", "source": ["# My builders\n"]},
            {"cell_type": "code",
             "source": ["%load_ext autoreload\n", "BASE = 40\n"]},
            {"cell_type": "code",
             "source": ["!echo skipped\n",
                        "class NotebookThing:\n",
                        "    def __init__(self, bump=2):\n",
                        "        self.value = BASE + bump\n"]},
        ],
        "nbformat": 4, "nbformat_minor": 5, "metadata": {},
    }
    path = tmp_path / "my_builders.ipynb"
    path.write_text(_json.dumps(nb))
    cls = resolve_class(f"{path}:NotebookThing")
    assert cls(bump=2).value == 42
    # string-typed source cells (nbformat allows both) also parse
    nb["cells"][1]["source"] = "BASE = 50"
    path.write_text(_json.dumps(nb))
    cls = resolve_class(f"{path}:NotebookThing")
    assert cls().value == 52


def test_versioned_store_time_travel(spark, tmp_path):
    import pytest as _pytest

    from maggma_spark.sources.versioned import VersionedParquetStore

    path = str(tmp_path / "vstore")
    st = VersionedParquetStore(spark, path, key="k")
    with _pytest.raises(ValueError, match="no published versions"):
        st.count()

    st.update([{"k": 1, "v": "a"}, {"k": 2, "v": "b"}])
    assert st.versions() == [1]
    st.update([{"k": 2, "v": "B"}, {"k": 3, "v": "c"}])   # upsert -> v2
    st.remove_docs({"k": 1})                               # -> v3
    assert st.versions() == [1, 2, 3]

    # latest view reflects all writes
    assert {r["k"]: r["v"] for r in st.query().collect()} == {2: "B", 3: "c"}
    # time travel: v1 unchanged
    assert {r["k"]: r["v"] for r in st.df_at(1).collect()} == {1: "a", 2: "b"}
    # CDC diff v1 -> v3: k1 deleted, k2 updated, k3 inserted
    got = {(r["k"], r["change_type"]) for r in st.diff(1, 3).collect()}
    assert got == {(1, "delete"), (2, "update"), (3, "insert")}
    # patch publishes v4
    st.update_matching({"k": 3}, {"v": "C"})
    assert st.df_at(4).filter("k = 3").first()["v"] == "C"

    removed = st.vacuum(keep_last=2)
    assert removed == [1, 2] and st.versions() == [3, 4]
    with _pytest.raises(ValueError, match="not found"):
        st.df_at(1)


# ---------------------------------------------------------------------------
# FormatStore (csv / json / orc through the ParquetStore surface)
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("fmt", ["csv", "json", "orc"])
def test_format_store_roundtrip_and_upsert(spark, tmp_path, fmt):
    from maggma_spark.sources.formats import FormatStore

    p = str(tmp_path / f"data_{fmt}")
    st = FormatStore(spark, p, format=fmt, key="task_id")
    st.update([
        {"task_id": 1, "v": 10, "s": "a,b \"quoted\""},
        {"task_id": 2, "v": 20, "s": "plain"},
    ])
    assert st.count() == 2
    # criteria + projection through the shared compiler
    got = st.query_one({"task_id": 1}, properties=["s"])
    assert got["s"] == 'a,b "quoted"'
    # upsert: replace one, insert one
    st.update([{"task_id": 2, "v": 99, "s": "x"},
               {"task_id": 3, "v": 30, "s": "y"}])
    vals = {r["task_id"]: r["v"] for r in st.df.collect()}
    assert vals == {1: 10, 2: 99, 3: 30}
    # remove_docs
    st.remove_docs({"v": {"$lt": 15}})
    assert sorted(r["task_id"] for r in st.df.collect()) == [2, 3]


def test_format_store_jsonl_alias_and_bad_format(spark, tmp_path):
    from maggma_spark.sources.formats import FormatStore

    st = FormatStore(spark, str(tmp_path / "d"), format="jsonl")
    assert st.format == "json"
    with pytest.raises(ValueError, match="unsupported format"):
        FormatStore(spark, str(tmp_path / "d2"), format="avroish")


def test_format_store_to_parquet_ingest(spark, tmp_path):
    from maggma_spark.sources.formats import FormatStore

    src = FormatStore(spark, str(tmp_path / "csv"), format="csv",
                      key="task_id")
    src.update([{"task_id": i, "v": i * 2} for i in range(50)])
    dst = src.to_parquet(str(tmp_path / "pq"))
    assert dst.count() == 50
    assert dst.query_one({"task_id": 7})["v"] == 14
    assert "full scan" in src.scan_efficiency


# ---------------------------------------------------------------------------
# VariantJSONStore (schemaless JSONL through one VARIANT column)
# ---------------------------------------------------------------------------


def test_variant_json_store_schemaless_query(spark, tmp_path):
    from maggma_spark.sources.variant_store import VariantJSONStore

    p = tmp_path / "docs.jsonl"
    p.write_text("\n".join([
        '{"task_id": 1, "a": 1, "tags": {"color": "red"}}',
        '{"task_id": 2, "a": "one"}',          # conflicting type for a
        '{"task_id": 3, "b": {"deep": 4.5}}',
        '{"task_id": 4}',
    ]))
    st = VariantJSONStore(spark, str(p), key="task_id")
    assert st.count() == 4
    # per-document types survive (inference would collapse a to string)
    assert st.count({"a": 1}) == 1
    assert st.count({"a": "one"}) == 1
    assert st.count({"tags.color": "red"}) == 1
    assert st.count({"b.deep": {"$gt": 4}}) == 1
    assert st.count({"a": {"$exists": False}}) == 2
    # null-or-missing
    assert st.count({"a": None}) == 2
    # projection extracts variant values; key column typed
    row = st.query_one({"task_id": 3}, properties=["task_id", "b.deep"])
    assert row["task_id"] == 3 and "4.5" in str(row["b.deep"])
    # keyset-style paging on the key works
    ids = [r["task_id"] for r in st.query(sort={"task_id": -1},
                                          limit=2).collect()]
    assert ids == [4, 3]
    # guards
    with pytest.raises(ValueError, match="promote"):
        st.query(criteria={"a": 1}, sort={"a": 1})
    with pytest.raises(ValueError, match="promote"):
        st.count({"$expr": {"$gt": ["$a", 0]}})
    # promote() materializes a typed column
    out = st.promote("b.deep", "double", alias="deep")
    got = {r["task_id"]: r["deep"] for r in out.collect()}
    assert got[3] == 4.5 and got[1] is None


def test_parquet_store_schema_evolution_on_upsert(spark, tmp_path):
    """Upserting docs with NEW fields widens the schema (old rows read
    null); docs MISSING known fields store null — the reference's
    schemaless-write contract on columnar storage."""
    from maggma_spark.sources.parquet import ParquetStore

    store = ParquetStore(spark, str(tmp_path / "evo"), key="k")
    store.update([{"k": 1, "a": 10}, {"k": 2, "a": 20}])
    # new doc adds field b and omits a
    store.update([{"k": 3, "b": "hello"}])
    rows = {r["k"]: r for r in store.query().collect()}
    assert set(rows) == {1, 2, 3}
    assert rows[1]["a"] == 10 and rows[1]["b"] is None
    assert rows[3]["b"] == "hello" and rows[3]["a"] is None
    # replacing an existing key with a narrower doc nulls the old field
    store.update([{"k": 1, "b": "replaced"}])
    r1 = store.query_one({"k": 1})
    assert r1["b"] == "replaced" and r1["a"] is None
    # criteria still work across the widened schema ($exists on b)
    assert store.count({"b": {"$exists": True}}) == 2


def test_parquet_small_new_merge_matches_window_merge(spark, tmp_path):
    """The _small_new broadcast-anti-join upsert (round-12, the
    streaming-ingest fast path) must produce exactly the same store
    contents as the generic window merge: new wins per key, within-new
    latest last_updated wins, old-only keys untouched, schema widening
    (column added by new) null-filled on the old side."""
    import datetime as dt

    from maggma_spark.sources.parquet import ParquetStore

    def day(d):
        return dt.datetime(2024, 1, d)

    seed = [Row(k=i, lu=day(1), v=f"old{i}") for i in range(8)]
    # batch: overwrites k=2,3 (two versions of k=3 — later lu wins),
    # adds k=100/101, and carries a NEW column w
    batch = [
        Row(k=2, lu=day(3), v="new2", w=20),
        Row(k=3, lu=day(2), v="new3-stale", w=30),
        Row(k=3, lu=day(4), v="new3", w=31),
        Row(k=100, lu=day(2), v="new100", w=1),
        Row(k=101, lu=day(2), v="new101", w=2),
    ]

    def build(flag):
        p = str(tmp_path / f"s{int(flag)}")
        st = ParquetStore(spark, p, key="k", last_updated_field="lu")
        st.update(seed)
        st.update(batch, _small_new=flag)
        st.update(batch, _small_new=flag)  # replay must be a no-op
        return st

    a = build(False)
    b = build(True)
    rows_a = {r["k"]: r.asDict() for r in a.df.collect()}
    rows_b = {r["k"]: r.asDict() for r in b.df.collect()}
    assert sorted(a.df.columns) == sorted(b.df.columns)
    assert rows_a == rows_b
    assert rows_b[3]["v"] == "new3" and rows_b[2]["w"] == 20
    assert rows_b[0]["v"] == "old0" and rows_b[0].get("w") is None


def test_parquet_schema_cache_unchanged_path_launches_no_job(
        spark, tmp_path, jobs_of):
    """The first read of a path infers its schema (one job), unless the
    store's own local write recorded it (write-through, no job); a
    second read of the unchanged path takes the cached schema and
    launches none, for local paths and for URIs (Hadoop FileSystem
    listing). A URI write records nothing, so its next read infers."""
    from maggma_spark.sources.parquet import ParquetStore

    for path, first_jobs in ((str(tmp_path / "local"), 0),
                             ("file://" + str(tmp_path / "uri"), 1)):
        store = ParquetStore(spark, path, key="k")
        store.update([{"k": 1, "a": 10}, {"k": 2, "a": 20}])
        first, jobs = jobs_of(lambda: store.df)
        assert len(jobs) == first_jobs, path
        second, jobs = jobs_of(lambda: store.df)
        assert jobs == [], path
        assert second.schema == first.schema
        assert sorted(r["k"] for r in second.collect()) == [1, 2]
        # a write through the URI path changes its Hadoop listing too
        store.update([{"k": 3, "b": "x"}])
        third, jobs = jobs_of(lambda: store.df)
        assert len(jobs) == first_jobs, path
        assert "b" in third.columns and third.count() == 3


def test_parquet_schema_cache_sees_every_writer(spark, tmp_path, jobs_of):
    """Every kind of write changes the file listing, so the first
    store's next read sees the new schema and rows, whoever wrote: a
    second store instance, pyarrow, remove_docs, compact. A write
    through a ParquetStore of this process records its schema (no
    job); any other writer costs exactly one inference job."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from maggma_spark.sources.parquet import ParquetStore

    path = str(tmp_path / "shared")
    store = ParquetStore(spark, path, key="k")
    store.update([{"k": i, "a": i * 10} for i in range(4)])
    store.df  # warm the cache

    def next_read(n_jobs):
        df, jobs = jobs_of(lambda: store.df)
        assert len(jobs) == n_jobs
        assert df.schema == spark.read.option(
            "mergeSchema", "true").parquet(path).schema
        rows = {r["k"]: r.asDict() for r in df.collect()}
        again, jobs = jobs_of(lambda: store.df)
        assert jobs == [] and again.schema == df.schema
        return df.columns, rows

    # 1. a second store instance on the same path adds column b
    ParquetStore(spark, path, key="k").update([{"k": 9, "b": "nine"}])
    cols, rows = next_read(0)
    assert "b" in cols and rows[9]["b"] == "nine" and rows[0]["a"] == 0

    # 2. pyarrow adds a file with the known columns plus a new one, c.
    # Without mergeSchema, Spark infers from the first data file by
    # path; the name sorts first, so an uncached read sees c as well
    pq.write_table(pa.table({"k": pa.array([20], pa.int64()),
                             "a": pa.array([None], pa.int64()),
                             "b": pa.array([None], pa.string()),
                             "c": pa.array([2.5])}),
                   os.path.join(path, "0-extra.parquet"))
    cols, rows = next_read(1)
    assert cols == spark.read.parquet(path).columns
    assert rows[20]["c"] == 2.5 and rows[0]["c"] is None
    assert rows[0]["a"] == 0 and rows[9]["b"] == "nine"

    # 3. remove_docs through the first store
    store.remove_docs({"k": {"$in": [0, 20]}})
    cols, rows = next_read(0)
    assert set(rows) == {1, 2, 3, 9}

    # 4. compact rewrites the same rows into new files
    store.compact()
    cols, after = next_read(0)
    assert after == rows


def _fresh_schema(spark, path):
    return spark.read.option("mergeSchema", "true").parquet(path).schema


def test_write_through_schema_equals_fresh_inference(spark, tmp_path,
                                                     jobs_of):
    """The schema `_rewrite` records for its own write is the one a
    fresh mergeSchema inference returns, so the first `store.df` after
    update, remove_docs and compact runs no job — for flat, nested,
    timestamp and ns-origin stores, and a parquet FormatStore."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.types import (ArrayType, LongType, MapType,
                                   StringType, StructField, StructType,
                                   TimestampNTZType, TimestampType)

    from maggma_spark.sources.formats import FormatStore
    from maggma_spark.sources.parquet import ParquetStore

    t0 = dt.datetime(2024, 1, 2, 3, 4, 5, 123456)
    nested = StructType([
        StructField("k", LongType(), False),
        StructField("s", StructType([
            StructField("x", LongType(), False),
            StructField("tags", ArrayType(StringType(), False))])),
        StructField("m", MapType(StringType(), LongType(), False)),
        StructField("lu", TimestampType()),
        StructField("ntz", TimestampNTZType())])
    cases = {
        "flat": lambda: [{"k": i, "a": i * 1.5, "b": f"v{i}"}
                         for i in range(6)],
        "nested": lambda: spark.createDataFrame(
            [(i, (i, [f"t{i}"]), {"m": i}, t0, t0) for i in range(6)],
            nested),
    }
    stores = {name: ParquetStore(spark, str(tmp_path / name), key="k")
              for name in cases}
    stores["format_parquet"] = FormatStore(
        spark, str(tmp_path / "format_parquet"), format="parquet", key="k")
    cases["format_parquet"] = cases["flat"]
    # ns origin: a pyarrow timestamp[ns] file, rewritten by the store
    ns_path = tmp_path / "ns_origin"
    ns_path.mkdir()
    pq.write_table(pa.table({
        "k": pa.array(range(6), pa.int64()),
        "ts": pa.array([1_700_000_000_123_456_789 + i for i in range(6)],
                       pa.timestamp("ns"))}), str(ns_path / "part-0.parquet"))
    stores["ns_origin"] = ParquetStore(spark, str(ns_path), key="k")
    cases["ns_origin"] = lambda: [{"k": 9, "ts": t0}]

    for name, store in stores.items():
        for write in (lambda: store.update(cases[name]()),
                      lambda: store.remove_docs({"k": {"$in": [1]}}),
                      lambda: store.compact()):
            write()
            df, jobs = jobs_of(lambda: store.df)
            assert jobs == [], name
            assert df.schema == _fresh_schema(spark, store.path), name
        assert sorted(r["k"] for r in store.df.collect()) == (
            [0, 2, 3, 4, 5, 9] if name == "ns_origin" else [0, 2, 3, 4, 5])


def test_write_through_records_nothing_it_cannot_know(spark, tmp_path,
                                                      jobs_of):
    """A partitioned store (dynamic and static rewrites), a URI path and
    a non-parquet FormatStore record nothing: the partitioned and URI
    reads infer once after each write and still read every row."""
    from maggma_spark.sources import parquet as pqs
    from maggma_spark.sources.formats import FormatStore
    from maggma_spark.sources.parquet import ParquetStore

    docs = [{"k": i, "p": i % 2, "a": i * 10} for i in range(6)]
    part = ParquetStore(spark, str(tmp_path / "part"), key="k",
                        partition_by=["p"])
    uri = ParquetStore(spark, "file://" + str(tmp_path / "uri"), key="k")
    for store in (part, uri):
        for write, keys in ((lambda: store.update(docs), range(6)),
                            (lambda: store.remove_docs({"k": 0}),
                             range(1, 6))):
            write()
            df, jobs = jobs_of(lambda: store.df)
            assert len(jobs) == 1, store.path
            assert sorted(r["k"] for r in df.collect()) == list(keys)
    js = FormatStore(spark, str(tmp_path / "js"), format="json", key="k")
    js.update(docs)
    assert js.path not in pqs._schema_cache
    assert js.count() == 6


def test_write_through_then_outside_writer_infers_once(spark, tmp_path,
                                                       jobs_of):
    """A pyarrow file written between the store's write and the next
    read is seen, with one inference job; the REST read that meets the
    miss (page and count threads both read the store) infers once."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from maggma_spark.api.app import serve_query
    from maggma_spark.api.query_ops import NumericQuery, SortQuery
    from maggma_spark.sources.parquet import ParquetStore

    path = str(tmp_path / "outside")
    store = ParquetStore(spark, path, key="k")
    store.update([{"k": i, "a": i} for i in range(5)])
    pq.write_table(pa.table({"k": pa.array([7], pa.int64()),
                             "a": pa.array([7], pa.int64())}),
                   os.path.join(path, "z-outside.parquet"))
    # a sorted page is one job over any number of files
    ops, params = [NumericQuery(["a"]), SortQuery()], {"a_min": "3",
                                                       "_sort_fields": "k"}
    resp, jobs = jobs_of(lambda: serve_query(store, ops, params))
    assert [d["k"] for d in resp["data"]] == [3, 4, 7]
    assert resp["meta"]["total_doc"] == 3
    assert len(jobs) == 3  # one inference, the page, the count
    _, jobs = jobs_of(lambda: serve_query(store, ops, params))
    assert len(jobs) == 2


def test_parquet_store_keeps_column_from_later_sorting_file(spark, tmp_path):
    """A column that another writer adds in a file sorting AFTER the
    store's own files is read, and survives the next upsert's
    rewrite. Inference from the first file alone dropped it."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from maggma_spark.sources.parquet import ParquetStore

    path = str(tmp_path / "late")
    store = ParquetStore(spark, path, key="k")
    store.update([{"k": i, "a": i * 10} for i in range(3)])
    pq.write_table(pa.table({"k": pa.array([7], pa.int64()),
                             "a": pa.array([70], pa.int64()),
                             "c": pa.array(["seven"])}),
                   os.path.join(path, "z-extra.parquet"))
    assert "c" in store.df.columns

    store.update([{"k": 1, "a": 11}])
    on_disk = {r["k"]: r.asDict()
               for r in spark.read.option("mergeSchema", "true")
               .parquet(path).collect()}
    assert on_disk[7]["c"] == "seven" and on_disk[1]["a"] == 11
    assert set(on_disk) == {0, 1, 2, 7}


def test_concurrent_misses_infer_once(spark, tmp_path, jobs_of):
    """More reader threads than cores miss on one listing together
    (a pyarrow file, so nothing was recorded): they run one inference
    job between them and all read the same schema and rows."""
    import sys

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark import InheritableThread

    from maggma_spark.sources.parquet import read_parquet

    path = tmp_path / "stampede"
    path.mkdir()
    pq.write_table(pa.table({"k": pa.array(range(50), pa.int64()),
                             "v": pa.array([f"v{i}" for i in range(50)])}),
                   str(path / "part-0.parquet"))
    out, errors = [], []

    def read():
        try:
            out.append(read_parquet(spark, str(path)).schema)
        except Exception as exc:  # surfaced by the assertion below
            errors.append(exc)

    def stampede():
        threads = [InheritableThread(target=read) for _ in range(12)]
        interval = sys.getswitchinterval()
        sys.setswitchinterval(1e-5)
        try:
            for t in threads:
                t.start()
            for t in threads:
                t.join(timeout=120)
        finally:
            sys.setswitchinterval(interval)
        assert not any(t.is_alive() for t in threads)

    _, jobs = jobs_of(stampede)
    assert errors == [] and len(out) == 12
    assert len(jobs) == 1
    assert all(s == out[0] for s in out)
    assert read_parquet(spark, str(path)).count() == 50


def test_read_parquet_nanos_timestamps_exact(spark, tmp_path):
    """A pyarrow-written timestamp[ns] column (TIMESTAMP(NANOS)) reads
    back as the exactly truncated microseconds, also past 2^53 ns where
    a float divide would round; a cached re-read agrees."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from maggma_spark.sources.parquet import read_parquet

    ns = [1_700_000_000_123_456_789, 2 ** 53 + 999, 1_000]
    path = tmp_path / "ns"
    path.mkdir()
    pq.write_table(pa.table({"i": list(range(len(ns))),
                             "ts": pa.array(ns, pa.timestamp("ns"))}),
                   str(path / "part-0.parquet"))
    for _ in range(2):  # miss, then cache hit
        got = {r["i"]: r["us"] for r in read_parquet(spark, str(path))
               .select("i", F.unix_micros("ts").alias("us")).collect()}
        assert got == {i: v // 1000 for i, v in enumerate(ns)}


def test_read_parquet_int96_leaves_session_conf_unset(spark, tmp_path):
    """Spark writes timestamps as INT96, which Arrow reports as ns;
    reading such a store must not flip nanosAsLong for the session."""
    from pyspark.sql.types import TimestampType

    from maggma_spark.sources.parquet import read_parquet

    key = "spark.sql.legacy.parquet.nanosAsLong"
    spark.conf.unset(key)
    path = str(tmp_path / "int96")
    spark.range(3).selectExpr("id", "current_timestamp() AS ts") \
        .write.parquet(path)
    df = read_parquet(spark, path)
    assert isinstance(df.schema["ts"].dataType, TimestampType)
    assert df.count() == 3
    assert spark.conf.get(key, None) is None


def test_read_parquet_ns_store_leaves_session_conf_unchanged(spark,
                                                            tmp_path):
    """nanosAsLong is set for a miss's inference only: whatever the
    session held before (unset, "false") it holds after the read, and
    the scan, which runs after the restore, still reads values past
    2^53 ns exactly."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from maggma_spark.sources.parquet import read_parquet

    key = "spark.sql.legacy.parquet.nanosAsLong"
    ns = [2 ** 53 + 1_999, 2 ** 62 + 3_999, 5_000]
    for prior in (None, "false"):
        path = tmp_path / f"ns-{prior}"
        path.mkdir()
        pq.write_table(pa.table({"i": list(range(len(ns))),
                                 "ts": pa.array(ns, pa.timestamp("ns"))}),
                       str(path / "part-0.parquet"))
        if prior is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prior)
        try:
            for _ in range(2):  # miss, then cache hit
                df = read_parquet(spark, str(path))
                assert spark.conf.get(key, None) == prior
                got = {r["i"]: r["us"] for r in df.select(
                    "i", F.unix_micros("ts").alias("us")).collect()}
                assert got == {i: v // 1000 for i, v in enumerate(ns)}
        finally:
            spark.conf.unset(key)


def test_schema_cache_bounded_and_consistent_under_threads():
    """The page and count threads of a REST read share read_parquet's
    schema cache: under many threads and a short switch interval every
    lookup returns what its own thread stored (or a miss after
    eviction), nothing raises, and the entry bound holds."""
    import sys
    import threading

    from maggma_spark.sources import parquet as pqs

    bound = pqs._SCHEMA_CACHE_ENTRIES
    errors = []

    def worker(w):
        try:
            for i in range(2 * bound):
                path, fp = f"/cache-stress/{w}/{i % (bound // 2)}", (w, i)
                pqs._remember_schema(path, fp, f"schema-{w}-{i}", [])
                got = pqs._cached_schema(path, fp)
                if got not in (None, (f"schema-{w}-{i}", [])):
                    errors.append(got)
        except Exception as exc:  # surfaced by the assertion below
            errors.append(exc)

    threads = [threading.Thread(target=worker, args=(w,)) for w in range(16)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert len(pqs._schema_cache) <= bound
