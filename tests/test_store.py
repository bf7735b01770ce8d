"""Store-contract tests (query/count/distinct/groupby/update/remove/
newer_in), mirroring reference:tests/stores/test_mongolike.py and
tests/builders/test_copy_builder.py fixtures."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import Row, functions as F

from maggma_spark.sources.memory import MemoryStore


@pytest.fixture()
def store(spark):
    docs = [
        Row(task_id="mp-1", a=4, d=9, e=7, f=9),
        Row(task_id="mp-2", a=5, d=9, e=8, f=9),
        Row(task_id="mp-3", a=6, d=10, e=7, f=9),
        Row(task_id="mp-4", a=7, d=None, e=9, f=10),
    ]
    return MemoryStore(spark, docs, key="task_id")


def test_count_query(store):
    assert store.count() == 4
    assert store.count({"a": {"$gte": 5}}) == 3
    rows = store.query({"d": 9}, properties=["task_id", "a"]).collect()
    assert sorted(r["task_id"] for r in rows) == ["mp-1", "mp-2"]
    assert rows[0].asDict().keys() == {"task_id", "a"}


def test_query_sort_skip_limit(store):
    rows = store.query(sort={"a": -1}, skip=1, limit=2).collect()
    assert [r["a"] for r in rows] == [6, 5]


def test_query_one(store):
    doc = store.query_one({"task_id": "mp-3"})
    assert doc["a"] == 6
    assert store.query_one({"task_id": "nope"}) is None


def test_distinct_with_null(store):
    # Mongo distinct includes null (reference test_mongolike.py:114-115)
    assert sorted(store.distinct("d"), key=lambda x: (x is None, x)) == [9, 10, None]
    assert sorted(store.distinct("e", {"d": 9})) == [7, 8]


def test_distinct_array_unravel(spark):
    docs = [Row(task_id="t1", tags=["a", "b"]), Row(task_id="t2", tags=["b", "c"])]
    s = MemoryStore(spark, docs, key="task_id")
    assert sorted(s.distinct("tags")) == ["a", "b", "c"]


def test_groupby(store):
    # reference test_mongolike.py:162-181 cardinalities
    groups = list(store.groupby_docs("d"))
    # null group key dropped (Memory-store semantics)
    assert len(groups) == 2
    sizes = sorted(len(docs) for _, docs in groups)
    assert sizes == [1, 2]
    groups = list(store.groupby_docs(["e", "d"]))
    assert len(groups) == 3


def test_update_upsert(store):
    store.update([Row(task_id="mp-3", a=60, d=10, e=7, f=9),
                  Row(task_id="mp-5", a=8, d=11, e=10, f=11)])
    assert store.count() == 5
    assert store.query_one({"task_id": "mp-3"})["a"] == 60


def test_update_disjoint_schema(store):
    # schemaless write: new field appears, old rows get null
    store.update([Row(task_id="mp-9", a=1, extra="hi")])
    assert store.query_one({"task_id": "mp-1"})["extra"] is None
    assert store.query_one({"extra": {"$exists": True}})["task_id"] == "mp-9"


def test_compound_key_upsert(spark):
    # reference test_mongolike.py:134-138
    docs = [Row(a=1, b=1, v="x"), Row(a=1, b=2, v="y")]
    s = MemoryStore(spark, docs, key="a")
    s.update([Row(a=1, b=1, v="z")], key=["a", "b"])
    assert s.count() == 2
    got = {(r["a"], r["b"]): r["v"] for r in s.df.collect()}
    assert got[(1, 1)] == "z" and got[(1, 2)] == "y"


def test_remove_docs(store):
    store.remove_docs({"d": 9})
    assert store.count() == 2
    # null-predicate rows are kept (Mongo deletes only definite matches)
    assert store.count({"d": None}) == 1


@pytest.fixture()
def lu_stores(spark):
    old = dt.datetime(2024, 1, 1)
    new = dt.datetime(2024, 2, 1)
    src = MemoryStore(
        spark,
        [Row(k=i, last_updated=old, v="src") for i in range(6)],
        key="k", name="src")
    tgt_docs = [Row(k=i, last_updated=(new if i % 2 == 0 else old), v="tgt")
                for i in range(6)] + [Row(k=99, last_updated=new, v="tgt")]
    tgt = MemoryStore(spark, tgt_docs, key="k", name="tgt")
    return src, tgt


def test_newer_in_exhaustive(lu_stores):
    src, tgt = lu_stores
    keys = sorted(r["k"] for r in src.newer_in(tgt, exhaustive=True).collect())
    assert keys == [0, 2, 4, 99]


def test_newer_in_fast(lu_stores):
    src, tgt = lu_stores
    keys = sorted(r["k"] for r in src.newer_in(tgt, exhaustive=False).collect())
    assert keys == [0, 2, 4, 99]


def test_last_updated(lu_stores):
    src, tgt = lu_stores
    assert src.last_updated == dt.datetime(2024, 1, 1)
    assert tgt.last_updated == dt.datetime(2024, 2, 1)


def test_groupby_scan_params(store):
    # sort/skip/limit apply to the scan before grouping (reference
    # pipeline order: $match/$sort/$skip/$limit then $group)
    groups = list(store.groupby_docs("d", sort={"a": 1}, limit=3))
    total_docs = sum(len(docs) for _, docs in groups)
    assert total_docs == 3  # only first 3 docs by a asc enter grouping


def test_keyset_pagination(spark):
    from maggma_spark.sources.memory import MemoryStore

    docs = [Row(task_id=i, v=i * 10) for i in range(25)]
    s = MemoryStore(spark, docs, key="task_id")
    seen = []
    after = None
    while True:
        page = s.paginate(after=after, page_size=10).collect()
        if not page:
            break
        seen.extend(r["task_id"] for r in page)
        after = page[-1]["task_id"]
    assert seen == list(range(25))
    # criteria compose with the keyset filter
    page = s.paginate(after=5, page_size=100,
                      criteria={"v": {"$lt": 100}}).collect()
    assert [r["task_id"] for r in page] == [6, 7, 8, 9]


def test_newer_in_criteria(lu_stores):
    # criteria restrict which target docs participate in the diff
    src, tgt = lu_stores
    keys = sorted(r["k"] for r in src.newer_in(
        tgt, criteria={"k": {"$lt": 3}}, exhaustive=True).collect())
    assert keys == [0, 2]


def test_string_iso_watermark(spark):
    """ISO-8601 string last_updated columns (the reference's
    LU_KEY_ISOFORMAT stores, reference:src/maggma/utils.py:99-103) work
    unchanged: ISO strings order lexicographically === chronologically."""
    src = MemoryStore(
        spark,
        [Row(k=i, last_updated="2024-01-01T00:00:00.000", v="old")
         for i in range(4)],
        key="k")
    tgt = MemoryStore(
        spark,
        [Row(k=i, last_updated=("2024-02-01T00:00:00.000" if i % 2 == 0
                                else "2024-01-01T00:00:00.000"), v="t")
         for i in range(4)],
        key="k")
    assert src.last_updated == "2024-01-01T00:00:00.000"
    keys = sorted(r["k"] for r in src.newer_in(tgt, exhaustive=True).collect())
    assert keys == [0, 2]
    keys_fast = sorted(r["k"] for r in src.newer_in(tgt).collect())
    assert keys_fast == [0, 2]


def test_projection_exclusion(store):
    # Mongo exclusion projections: {field: 0} keeps everything else
    row = store.query({"task_id": "mp-1"}, properties={"d": 0, "f": 0}).first()
    assert set(row.asDict()) == {"task_id", "a", "e"}
    import pytest as _pytest
    with _pytest.raises(Exception):
        store.query(properties={"d": 0, "a": 1}).first()  # mixed -> error


def test_store_edges(spark, store):
    # limit=0 means no limit (Mongo semantics)
    assert len(store.query(limit=0).collect()) == 4
    # Mongo: distinct on a field no document has returns []
    assert store.distinct("not_a_field") == []
    # query with skip beyond the data is empty, not an error
    assert store.query(sort={"a": 1}, skip=100, limit=5).count() == 0


def test_isoformat_lu_type_mixed_stores(spark):
    """last_updated_type='isoformat' converts through the _lu_func
    analog: last_updated returns a datetime, and newer_in composes an
    ISO-string store with a datetime store (each side converts via its
    OWN type, reference:src/maggma/core/store.py:42-59)."""
    import datetime as dt

    src = MemoryStore(
        spark,
        [Row(k=i, last_updated="2024-01-15T10:30:00.500", v="old")
         for i in range(4)],
        key="k", last_updated_type="isoformat")
    assert src.last_updated == dt.datetime(2024, 1, 15, 10, 30, 0, 500000)
    tgt = MemoryStore(
        spark,
        [Row(k=i, last_updated=(dt.datetime(2024, 2, 1) if i % 2 == 0
                                else dt.datetime(2024, 1, 1)), v="t")
         for i in range(4)],
        key="k")
    assert sorted(r["k"] for r in src.newer_in(tgt, exhaustive=True).collect()) == [0, 2]
    assert sorted(r["k"] for r in src.newer_in(tgt).collect()) == [0, 2]
    # and the reverse direction: datetime source, ISO-string target
    rev = sorted(r["k"] for r in tgt.newer_in(src, exhaustive=True).collect())
    assert rev == [1, 3]  # src 2024-01-15 beats tgt 2024-01-01 rows


def test_groupby_missing_keys_partial(spark):
    """missing_keys='partial' groups null-key docs under a partial _id
    (Mongo-impl variant, reference:src/maggma/stores/mongolike.py:224-232);
    default 'drop' keeps the Memory-store semantics."""
    st = MemoryStore(
        spark,
        [Row(k=1, g="a"), Row(k=2, g="a"), Row(k=3, g=None)],
        key="k")
    dropped = st.groupby("g").collect()
    assert sorted(r["_id"]["g"] for r in dropped) == ["a"]
    partial = st.groupby("g", missing_keys="partial").collect()
    ids = sorted((r["_id"]["g"] is None, len(r["docs"])) for r in partial)
    assert ids == [(False, 2), (True, 1)]
    import pytest as _pytest
    with _pytest.raises(ValueError):
        st.groupby("g", missing_keys="bogus")


def test_projection_empty_dict_and_dotted_exclusion(store):
    # Mongo: an empty projection dict returns the FULL document
    row = store.query({"task_id": "mp-1"}, properties={}).first()
    full = store.query({"task_id": "mp-1"}).first()
    assert set(row.asDict()) == set(full.asDict())
    # unresolvable dotted exclusion is a no-op (Mongo parity: excluding
    # a path no document has changes nothing)
    row = store.query({"task_id": "mp-1"}, properties={"d.x": 0}).first()
    assert set(row.asDict()) == set(full.asDict())


def test_projection_dotted_exclusion_drops_struct_leaf(spark):
    # Mongo {'g.h': 0}: drop ONLY the nested leaf, keep the rest of g
    st = MemoryStore(
        spark,
        [Row(task_id="t1", g=Row(h=1, i=2, j=Row(k=3, m=4)))],
        key="task_id")
    row = st.query(properties={"g.h": 0}).first()
    assert set(row["g"].asDict()) == {"i", "j"}
    # two-level path drops the deep leaf only
    row = st.query(properties={"g.j.k": 0}).first()
    assert set(row["g"].asDict()) == {"h", "i", "j"}
    assert set(row["g"]["j"].asDict()) == {"m"}
    # mixing a full-column exclusion with a dotted one under it is fine
    row = st.query(properties={"g": 0, "g.h": 0}).first()
    assert set(row.asDict()) == {"task_id"}


def test_snapshot_diff(spark):
    from maggma_spark.operators.merge import snapshot_diff

    old = spark.createDataFrame(
        [Row(k=1, v="a", w=1), Row(k=2, v="b", w=2), Row(k=3, v=None, w=3)])
    new = spark.createDataFrame(
        [Row(k=1, v="a", w=1),          # unchanged -> absent from diff
         Row(k=2, v="B", w=2),          # update
         Row(k=4, v="d", w=4)])         # insert; k=3 deleted
    got = {(r["k"], r["change_type"])
           for r in snapshot_diff(old, new, "k").collect()}
    assert got == {(2, "update"), (3, "delete"), (4, "insert")}
    # null-safe compare: None == None is NOT a change
    new2 = spark.createDataFrame([Row(k=3, v=None, w=3)],
                                 schema="k long, v string, w long")
    old2 = spark.createDataFrame([Row(k=3, v=None, w=3)],
                                 schema="k long, v string, w long")
    assert snapshot_diff(old2, new2, "k").count() == 0
    # restricted compare columns ignore other changes
    got2 = snapshot_diff(old, new, "k", compare_cols=["w"]).collect()
    assert {(r["k"], r["change_type"]) for r in got2} == {
        (3, "delete"), (4, "insert")}


def test_parquet_optimize_layout(spark, tmp_path):
    """optimize(cluster_by) rewrites range-partitioned + sorted; data
    survives and point queries still push down."""
    import datetime as dt

    from maggma_spark.sources.parquet import ParquetStore

    path = str(tmp_path / "opt")
    st = ParquetStore(spark, path, key="k", last_updated_field="lu")
    st.update([Row(k=i, lu=dt.datetime(2024, 1, 1), v=i * 10)
               for i in range(1000)])
    st.optimize(cluster_by=["k"])
    assert st.count() == 1000
    assert st.query_one({"k": 500})["v"] == 5000


def test_memory_store_many_updates_bounded_lineage(spark):
    """Hundreds of upserts must not grow the logical plan without bound
    (lineage truncates periodically) and results stay exact."""
    import datetime as dt

    st = MemoryStore(spark, None, key="k",
                     schema="k long, last_updated timestamp, v long")
    for i in range(40):
        st.update([Row(k=i % 10, last_updated=dt.datetime(2024, 1, 1 + i % 27),
                       v=i)])
    assert st.count() == 10
    assert st.query_one({"k": 9})["v"] == 39
    # plan depth stays bounded: the string form would be megabytes after
    # 40 chained upserts without truncation
    assert len(st.df._jdf.queryExecution().logical().toString()) < 200_000


def test_parquet_optimize_zorder_narrows_both_columns(spark, sf_dir, tmp_path):
    """Z-order layout: after optimize(method='zorder') on two columns,
    every output file covers a narrow sub-rectangle — per-file min/max
    spans shrink on BOTH columns (range method only helps the first)."""
    import glob

    from maggma_spark.sources.parquet import ParquetStore

    src = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_custkey", "o_totalprice")
    p = str(tmp_path / "orders_z")
    src.write.parquet(p)
    st = ParquetStore(spark, p, key="o_orderkey")
    st.optimize(["o_custkey", "o_totalprice"], method="zorder",
                num_files=4, zorder_bits=6)

    files = sorted(glob.glob(f"{p}/*.parquet"))
    assert len(files) >= 3
    glob_stats = src.agg(
        (F.max("o_custkey") - F.min("o_custkey")).alias("ck"),
        (F.max("o_totalprice") - F.min("o_totalprice")).alias("tp"),
    ).collect()[0]
    spans_ck, spans_tp = [], []
    for f in files:
        r = spark.read.parquet(f).agg(
            (F.max("o_custkey") - F.min("o_custkey")).alias("ck"),
            (F.max("o_totalprice") - F.min("o_totalprice")).alias("tp"),
        ).collect()[0]
        spans_ck.append(r["ck"] / glob_stats["ck"])
        spans_tp.append(r["tp"] / glob_stats["tp"])
    # with 4 files on a 2-D z-curve each file covers roughly half of
    # each dimension; allow generous slack for quantile approximation
    assert sum(spans_ck) / len(spans_ck) < 0.8
    assert sum(spans_tp) / len(spans_tp) < 0.8
    # data intact
    assert st.count() == src.count()
    with pytest.raises(ValueError, match="method"):
        st.optimize(["o_custkey"], method="hilbertish")


@pytest.mark.filterwarnings("error::FutureWarning")
def test_try_df_not_exists_classification(spark, tmp_path):
    """try_df maps NOT-EXISTS to None across Spark error wordings —
    error condition, message substring, and the pre-3.4 'Path does not
    exist' text — while any other AnalysisException re-raises. Runs
    with FutureWarning as an error: Spark 4 deprecates getErrorClass,
    so the classification must ask for getCondition first."""
    import pytest as _pt
    from pyspark.errors import AnalysisException

    from maggma_spark.sources.parquet import ParquetStore
    from maggma_spark.store import SparkStore

    # JVM-raised conditions: a path that does not exist, and an empty
    # directory (no files to infer a schema from)
    assert ParquetStore(spark, str(tmp_path / "nope"), key="k").try_df() \
        is None
    (tmp_path / "empty").mkdir()
    assert ParquetStore(spark, str(tmp_path / "empty"), key="k").try_df() \
        is None

    def raiser(msg):
        def _p():
            raise AnalysisException(msg)
        return _p

    missing = SparkStore(raiser("[PATH_NOT_FOUND] Path does not exist"),
                         key="k")
    assert missing.try_df() is None
    legacy = SparkStore(raiser("Path does not exist: /nope"), key="k")
    assert legacy.try_df() is None
    other = SparkStore(raiser("[UNRESOLVED_COLUMN] nope"), key="k")
    with _pt.raises(AnalysisException):
        other.try_df()
