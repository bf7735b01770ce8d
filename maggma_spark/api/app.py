"""Optional FastAPI glue: a read-only resource per store.

Reference parity: ReadOnlyResource route generation (reference:src/
maggma/api/resource/read_resource.py:195-297) — each QueryOperator's
params become request query params; results serve from the cached
DataFrame with `Meta(total_doc=...)`.

fastapi is OPTIONAL (not installed in this environment): importing this
module without it raises ImportError with a clear message; everything
testable lives in query_ops (pure functions) and `serve_query` below
(framework-free request handling).
"""

from __future__ import annotations

from typing import Any

from pyspark import InheritableThread

from maggma_spark.api.query_ops import (
    QueryOperator,
    execute_store_params,
    merge_queries,
)


def serve_query(store, operators: list[QueryOperator], request_params: dict,
                max_rows: int = 10_000) -> dict:
    """Framework-free request handler: merge operator fragments, run the
    DataFrame chain, return a JSON-shaped response dict. This is what a
    FastAPI route delegates to.

    `total_doc` is counted on a second driver thread, started before
    the page frame is built, so the count (one job, `store.count`)
    overlaps the whole page path: the read, the criteria, projection
    and sort compiles, the operators' post_process and the collect.
    The thread is a `pyspark.InheritableThread`: the count's jobs carry
    the caller's job group and tags. A failure of the page is raised
    after the count has finished; a failure of the count, after the
    page."""
    fragments = [op.query(**request_params) for op in operators]
    params = merge_queries(fragments)
    total: dict = {}

    def count() -> None:
        try:
            total["doc"] = store.count(params.get("criteria"))
        except BaseException as exc:  # re-raised on the calling thread
            total["error"] = exc

    counter = InheritableThread(target=count)
    counter.start()
    try:
        df = execute_store_params(store, params)
        for op in operators:  # post-hoc DataFrame transforms before serving
            df = op.post_process(df, params)
        limit = params.get("limit") or max_rows
        page = df.limit(min(limit, max_rows))
        rows = [r.asDict(recursive=True) for r in page.collect()]
    finally:
        counter.join()
    if "error" in total:
        raise total["error"]
    return {"data": rows, "meta": {"total_doc": total["doc"]}}


def heartbeat(version: str = "v0.0.0",
              heartbeat_meta: dict | None = None) -> dict:
    """API manager heartbeat payload (reference:src/maggma/api/API.py
    heartbeat route): status + server time + version (+ extra meta)."""
    import datetime as _dt

    return {"status": "OK",
            "time": _dt.datetime.now(_dt.timezone.utc).isoformat(),
            "version": version,
            **(heartbeat_meta or {})}


class SubmissionError(Exception):
    """HTTP-shaped error from the submission write path (maps to
    HTTPException in a FastAPI route)."""

    def __init__(self, status_code: int, detail: str):
        super().__init__(detail)
        self.status_code = status_code
        self.detail = detail


def serve_submission_post(
    store,
    doc: dict,
    *,
    duplicate_fields_check: list[str] | None = None,
    calculate_submission_id: bool = False,
    state_enum_default: str | None = "submitted",
    submission_id: str | None = None,
    now=None,
) -> dict:
    """SubmissionResource POST (reference:src/maggma/api/resource/
    submission.py:258-312): the merged operator criteria IS the new
    document; reject duplicates on `duplicate_fields_check` fields,
    stamp a submission_id, initialize state/updated history ARRAYS
    (state=['submitted'], updated=[now]), then upsert into the store.

    Framework-free (a FastAPI route delegates here); `submission_id` /
    `now` are injectable for deterministic tests — defaults match the
    reference (uuid4 / datetime.now(UTC))."""
    doc = dict(doc)
    if duplicate_fields_check:
        dup = store.query_one(
            criteria={f: doc[f] for f in duplicate_fields_check})
        if dup is not None:
            raise SubmissionError(
                400,
                "Submission already exists. Duplicate data found for "
                "fields: {}".format(", ".join(duplicate_fields_check)),
            )
    if calculate_submission_id:
        if submission_id is None:
            from uuid import uuid4

            submission_id = str(uuid4())
        doc["submission_id"] = submission_id
    if state_enum_default is not None:
        if now is None:
            import datetime as _dt

            now = _dt.datetime.now(_dt.timezone.utc)
        doc["state"] = [state_enum_default]
        doc["updated"] = [now]
    try:
        store.update(docs=doc)
    except Exception as exc:
        raise SubmissionError(400, "Problem when trying to post data.") from exc
    return {"data": doc, "meta": "Submission successful"}


def serve_submission_patch(store, criteria: dict, update: dict) -> dict:
    """SubmissionResource PATCH (reference:src/maggma/api/resource/
    submission.py:325-390): apply {"$set": update} to docs matching
    `criteria`, upsert=False. The reference's update_one targets a
    single doc; the set-based rewrite updates ALL matches — identical
    when the filter is a unique submission_id (DEVIATIONS.md §13)."""
    if not update:
        return {"data": update, "meta": "Submission successful"}
    try:
        store.update_matching(criteria, update)
    except NotImplementedError:
        raise
    except Exception as exc:
        raise SubmissionError(400, "Problem when trying to patch data.") from exc
    return {"data": update, "meta": "Submission successful"}


def build_app(resources: dict[str, tuple[Any, list[QueryOperator]]]):
    """FastAPI application builder: {route_prefix: (store, operators)}."""
    try:
        from fastapi import FastAPI, Request
    except ImportError as exc:  # pragma: no cover
        raise ImportError(
            "fastapi is not installed; use serve_query() directly or add "
            "fastapi to the environment") from exc

    app = FastAPI(title="maggma_spark API")

    for prefix, (store, operators) in resources.items():
        def make_route(store=store, operators=operators):
            async def route(request: Request):
                params = dict(request.query_params)
                return serve_query(store, operators, params)

            return route

        app.get(f"/{prefix}/")(make_route())
    return app
