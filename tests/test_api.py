"""QueryOperator -> STORE_PARAMS -> DataFrame chain tests
(reference:tests/api/ + api/query_operator semantics)."""

from __future__ import annotations

import pytest
from pyspark.sql import Row

from maggma_spark.api.query_ops import (
    NumericQuery,
    PaginationQuery,
    SortQuery,
    SparseFieldsQuery,
    StringQueryOperator,
    SubmissionQuery,
    execute_store_params,
    merge_queries,
)
from maggma_spark.api.app import serve_query
from maggma_spark.sources.memory import MemoryStore


@pytest.fixture(scope="module")
def store(spark):
    docs = [Row(task_id=f"t{i}", n=i, name=f"name{i % 3}",
                state=["submitted"] + (["done"] if i % 2 == 0 else []))
            for i in range(10)]
    return MemoryStore(spark, docs, key="task_id")


def test_numeric_query():
    op = NumericQuery(["n"])
    assert op.query(n_min=2, n_max=5) == {
        "criteria": {"n": {"$gte": 2, "$lte": 5}}}
    assert op.query(n=3) == {"criteria": {"n": 3}}
    assert op.query(n_eq_any="1,2,3") == {"criteria": {"n": {"$in": ["1", "2", "3"]}}}
    assert op.query() == {}


def test_string_query():
    op = StringQueryOperator(["name"])
    assert op.query(name_not_eq="x") == {"criteria": {"name": {"$ne": "x"}}}
    # min/max params are ignored for strings
    assert op.query(name_min="a") == {}


def test_pagination_guard():
    op = PaginationQuery(max_limit=100)
    assert op.query(_page=3, _per_page=10) == {"skip": 20, "limit": 10}
    assert op.query(_skip=5, _limit=7) == {"skip": 5, "limit": 7}
    with pytest.raises(ValueError):
        op.query(_limit=1000)


def test_sort_sparse():
    assert SortQuery().query(_sort_fields="a,-b") == {"sort": {"a": 1, "b": -1}}
    assert SparseFieldsQuery().query(_fields="x,y") == {"properties": ["x", "y"]}
    assert SparseFieldsQuery(["d"]).query() == {"properties": ["d"]}
    assert SparseFieldsQuery(["d"]).query(_all_fields=True) == {}


def test_merge_and_execute(store):
    ops = [NumericQuery(["n"]), StringQueryOperator(["name"]),
           PaginationQuery(), SortQuery(), SparseFieldsQuery()]
    params = {"n_min": 2, "name": "name1", "_sort_fields": "-n",
              "_fields": "task_id,n", "_per_page": 2}
    merged = merge_queries([op.query(**params) for op in ops])
    assert merged["criteria"] == {"$and": [{"n": {"$gte": 2}}, {"name": "name1"}]}
    df = execute_store_params(store, merged)
    rows = df.collect()
    assert [r["n"] for r in rows] == [7, 4]
    assert set(rows[0].asDict()) == {"task_id", "n"}


def test_submission_latest_state(store):
    op = SubmissionQuery()
    params = merge_queries([op.query(state="done")])
    out = execute_store_params(store, params)
    assert sorted(r["n"] for r in out.collect()) == [0, 2, 4, 6, 8]


def test_serve_query(store):
    ops = [NumericQuery(["n"]), PaginationQuery(), SortQuery(),
           SparseFieldsQuery()]
    resp = serve_query(store, ops, {"n_min": "6", "_sort_fields": "n",
                                    "_fields": "task_id,n"})
    assert resp["meta"]["total_doc"] == 4
    assert [d["n"] for d in resp["data"]] == [6, 7, 8, 9]


def test_numeric_string_coercion(store):
    # URL params arrive as strings; criteria comparisons on long columns
    # still work via Spark implicit casts
    resp = serve_query(store, [NumericQuery(["n"]), PaginationQuery()],
                       {"n_min": "8"})
    assert resp["meta"]["total_doc"] == 2


class Doubler(NumericQuery):
    def post_process(self, df, params):
        from pyspark.sql import functions as F

        return df.withColumn("n", F.col("n") * 2)


def test_post_process_applies(store):
    resp = serve_query(store, [Doubler(["n"]), PaginationQuery()], {"n_min": "8"})
    assert sorted(d["n"] for d in resp["data"]) == [16, 18]


def test_operators_from_schema(spark):
    """Dynamic param synthesis from the declared schema — no
    hand-written field lists (reference dynamic.py:63-248)."""
    import datetime as dt

    from maggma_spark.api.query_ops import operators_for_store

    docs = [Row(o_orderkey=i, o_totalprice=float(i * 100),
                o_orderstatus=("O" if i % 2 else "F"),
                o_orderdate=dt.datetime(2024, 1, 1 + i),
                o_rush=(i % 3 == 0))
            for i in range(10)]
    st = MemoryStore(spark, docs, key="o_orderkey")
    ops = operators_for_store(st)
    params = {"o_totalprice_max": 400.0,
              "o_orderstatus": "O",
              "o_orderdate_min": "2024-01-02T00:00:00",
              "o_rush_not_eq": "true"}
    merged = merge_queries([op.query(**params) for op in ops])
    rows = execute_store_params(st, merged).collect()
    got = sorted(r["o_orderkey"] for r in rows)
    # odd keys (status O), price <= 400 -> keys 1,3; date >= Jan 2 -> both;
    # o_rush False -> drops key 3 (3%3==0 -> True)
    assert got == [1]
    # eq_any CSV splitting on synthesized string fields
    merged2 = merge_queries([op.query(o_orderstatus_eq_any="O,F") for op in ops])
    assert execute_store_params(st, merged2).count() == 10


def test_heartbeat_payload():
    from maggma_spark.api.app import heartbeat

    hb = heartbeat(version="v1.2.3", heartbeat_meta={"db": "sf0.01"})
    assert hb["status"] == "OK" and hb["version"] == "v1.2.3"
    assert hb["db"] == "sf0.01"
    assert "T" in hb["time"]  # ISO timestamp


def _jobs_by_id(sc) -> dict:
    """{job id: job group or None} for every job the status store holds."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = sc._jsc.sc().statusStore().jobsList(None)
    out = {}
    for i in range(jobs.size()):
        j = jobs.apply(i)
        out[j.jobId()] = j.jobGroup().get() if j.jobGroup().isDefined() \
            else None
    return out


def test_serve_query_jobs_carry_caller_job_group(spark, store):
    """The concurrent total_doc count runs on an InheritableThread, so
    every job the call launches — page and count — carries the
    caller's job group."""
    sc = spark.sparkContext
    before = _jobs_by_id(sc)
    sc.setJobGroup("serve-query-group", "serve-query-group")
    try:
        resp = serve_query(store, [NumericQuery(["n"]), PaginationQuery()],
                           {"n_min": "3", "_limit": 2})
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    new = {j: g for j, g in _jobs_by_id(sc).items() if j not in before}
    assert resp["meta"]["total_doc"] == 7 and len(resp["data"]) == 2
    assert len(new) >= 2  # at least the page and the count
    assert set(new.values()) == {"serve-query-group"}


@pytest.mark.parametrize("params,n_data,total", [
    ({"n_min": "6", "_limit": 10}, 4, 4),              # short page
    ({"n_min": "2", "_limit": 3}, 3, 8),               # full page
    ({"n_min": "100"}, 0, 0),                          # empty result
    ({"n_min": "2", "_skip": 20, "_limit": 5}, 0, 8),  # skip past the end
    ({"n_min": "2", "_skip": 6, "_limit": 5}, 2, 8),   # last, short page
])
def test_serve_query_total_doc_exact(store, params, n_data, total):
    resp = serve_query(store, [NumericQuery(["n"]), PaginationQuery()],
                       params)
    assert len(resp["data"]) == n_data
    assert resp["meta"]["total_doc"] == total


def test_serve_query_total_doc_with_post_process(store):
    resp = serve_query(store, [Doubler(["n"]), PaginationQuery()],
                       {"n_min": "5", "_limit": 3})
    assert resp["meta"]["total_doc"] == 5
    assert [d["n"] for d in resp["data"]] == [10, 12, 14]


def test_serve_query_failures_surface_and_join(spark, store):
    """A count that raises is the call's exception; a page collect that
    fails still joins the count thread. No thread is left alive."""
    import threading
    import time

    from pyspark.sql import functions as F

    class BrokenCount(MemoryStore):
        def count(self, criteria=None):
            raise RuntimeError("count failed")

    class SlowCount(MemoryStore):  # still counting when the page fails
        def count(self, criteria=None):
            time.sleep(1.0)
            return super().count(criteria)

    class FailingPage(NumericQuery):
        def post_process(self, df, params):
            return df.withColumn("n", F.raise_error(F.lit("page failed")))

    alive = set(threading.enumerate())
    broken = BrokenCount(spark, store.df, key="task_id")
    with pytest.raises(RuntimeError, match="count failed"):
        serve_query(broken, [NumericQuery(["n"])], {"n_min": "3"})
    assert set(threading.enumerate()) <= alive
    slow = SlowCount(spark, store.df, key="task_id")
    with pytest.raises(Exception, match="page failed"):
        serve_query(slow, [FailingPage(["n"])], {"n_min": "3"})
    assert set(threading.enumerate()) <= alive


@pytest.fixture
def parquet_store(spark, tmp_path):
    from maggma_spark.sources.parquet import ParquetStore

    store = ParquetStore(spark, str(tmp_path / "served"), key="task_id")
    store.update([{"task_id": f"t{i}", "n": i} for i in range(10)])
    return store


def test_serve_query_warm_read_runs_two_jobs(parquet_store, jobs_of):
    """A warm REST read with criteria is the page's job plus the count's
    one: `store.count` has no exchange, and the first read after the
    store's own write needs no schema inference."""
    ops = [NumericQuery(["n"]), SortQuery(), PaginationQuery()]
    params = {"n_min": "3", "_sort_fields": "-n", "_limit": 2}
    for _ in range(2):  # the first read after the write is warm too
        resp, jobs = jobs_of(lambda: serve_query(parquet_store, ops, params))
        assert resp == {"data": [{"task_id": "t9", "n": 9},
                                 {"task_id": "t8", "n": 8}],
                        "meta": {"total_doc": 7}}
        assert len(jobs) == 2


def test_store_count_runs_one_job(parquet_store, store, jobs_of):
    for st, crit, want in ((parquet_store, {"n": {"$gte": 4}}, 6),
                           (parquet_store, None, 10),
                           (store, {"n": {"$lt": 3}}, 3)):
        n, jobs = jobs_of(lambda: st.count(crit))
        assert n == want and len(jobs) == 1


def test_serve_query_page_build_failure_joins_count(spark, parquet_store):
    """The count starts before the page frame is built, so a page that
    fails while it is being built (an unknown sort field, a
    post_process that raises) still joins the count thread."""
    import threading

    class RaisingPostProcess(NumericQuery):
        def post_process(self, df, params):
            raise KeyError("post_process failed")

    alive = set(threading.enumerate())
    with pytest.raises(Exception, match="nope"):
        serve_query(parquet_store, [NumericQuery(["n"]), SortQuery()],
                    {"n_min": "3", "_sort_fields": "nope"})
    assert set(threading.enumerate()) <= alive
    with pytest.raises(KeyError, match="post_process failed"):
        serve_query(parquet_store, [RaisingPostProcess(["n"])],
                    {"n_min": "3"})
    assert set(threading.enumerate()) <= alive
