"""Session-free tests of the global running-percentile kernels: the
input planner (_pctl_inputs), the merge-sort-tree selection
(_pctl_select) and the chunked cumulative-bucket traversal shared by
the exact router (_pctl_route) and the approximate kernel
(_pctl_approx), all called on pandas frames."""

from __future__ import annotations

import numpy as np
import pandas as pd

import maggma_spark.functions.agg_pipeline as ap


def test_pctl_inputs_share_by_argkey():
    specs = [
        {"out": "a", "ps": [0.5], "argkey": "x", "mode": "rows",
         "dir": "fwd", "sketch": [1.0, 2.0, 3.0, 4.0], "lo": -1.0,
         "hi": 9.0},
        {"out": "b", "ps": [0.1, 0.9], "argkey": "y", "mode": "range",
         "dir": "bwd", "vbs": [5.0], "bcol": "__gw_hb_b",
         "histcounts": [(0, [1, 2])]},
        {"out": "c", "ps": [0.25], "argkey": "x", "mode": "rows",
         "dir": "fwd", "sketch": [0.0]},
    ]
    x, y = ap._pctl_inputs(specs, V=2)
    assert x["src"] == "__gw_v_a" and y["src"] == "__gw_v_b"
    assert x["splits"] == [3.0] and x["nb"] == 2  # thinned to V-1
    assert x["edges"] == [-1.0, 3.0, 9.0]
    assert x["specs"] == [(0, [0.5]), (2, [0.25])]
    assert x["bcol"] is None and x["hist"] is None
    assert (y["mode"], y["dir"], y["splits"], y["nb"]) == \
        ("range", "bwd", [5.0], 2)
    assert y["edges"] == [0.0, 5.0, 0.0]  # no extremes: exact mode
    assert (y["bcol"], y["hist"]) == ("__gw_hb_b", [(0, [1, 2])])
    assert y["specs"] == [(1, [0.1, 0.9])]
    assert ap._pctl_inputs([], V=8) == []


def _brute_select(v, g, qg, rank):
    return np.sort(v[g <= qg])[rank - 1]


def test_pctl_select_matches_brute_force():
    rng = np.random.default_rng(5)
    for n in (1, 2, 7, 33, 200):
        # few distinct values: ties in v; g drawn with repeats too
        v = rng.integers(0, max(2, n // 3), n).astype("float64")
        g = rng.integers(1, n + 3, n).astype("int64")
        qs = []
        for qid in range(3 * n):
            qg = int(rng.integers(g.min(), g.max() + 2))
            avail = int((g <= qg).sum())
            if avail:
                qs.append((qid, qg, int(rng.integers(1, avail + 1))))
        el = pd.DataFrame({"g": g, "v": v})
        qr = pd.DataFrame({
            "g": [q[1] for q in qs], "rank": [q[2] for q in qs],
            "qid": [q[0] for q in qs], "si": 0, "pi": 0, "side": 0,
            "m": 1})
        out = ap._pctl_select(el, qr)
        assert list(out.columns) == [n_ for n_, _ in ap._PCTL_ANSWER_FIELDS]
        assert len(out) == len(qs)
        for (qid, qg, rank), val in zip(qs, out["val"]):
            assert val == _brute_select(v, g, qg, rank), (n, qid, qg, rank)
    empty = ap._pctl_select(pd.DataFrame({"g": [1], "v": [1.0]}),
                            pd.DataFrame({"g": [], "rank": []}))
    assert empty.empty and list(empty.columns) == \
        [n_ for n_, _ in ap._PCTL_ANSWER_FIELDS]


def _kernel_frames(ax: str):
    """One scaffold range: 40 rows, tied sort keys with null and NaN
    keys, null values, two inputs (rows fwd, range bwd) with incoming
    offsets."""
    rng = np.random.default_rng(3)
    n = 40
    keys = rng.integers(0, 6, n).astype("float64")
    keys[[2, 9]] = np.nan           # null keys
    isnull = np.zeros(n, dtype=bool)
    isnull[[2, 9]] = True
    keys[15] = np.nan               # a genuine NaN key
    b0 = rng.integers(0, 4, n).astype("float64")
    b0[[1, 5, 30]] = np.nan         # null values
    b1 = rng.integers(0, 3, n).astype("float64")
    left = pd.DataFrame({
        "__gw_pid": 0, "__pq_g": np.arange(101, 101 + n, dtype="int64"),
        ax: keys, ax + "n": isnull,
        "__pq_b0": b0, "__pq_b1": b1})
    right = pd.DataFrame({"__gw_pid": [0], "__pq_off0": [[3, 5, 9, 10]],
                          "__pq_off1": [[0, 2, 2]]})
    inputs = [
        {"mode": "rows", "dir": "fwd", "nb": 4,
         "edges": [0.0, 1.0, 2.0, 3.0, 4.0], "specs": [(0, [0.5, 0.9])]},
        {"mode": "range", "dir": "bwd", "nb": 3,
         "edges": [-1.0, 0.5, 1.5, 2.5], "specs": [(1, [0.0]),
                                                  (2, [0.3, 1.0])]},
    ]
    return left, right, inputs


def test_route_traversal_chunk_sizes_agree():
    left, right, inputs = _kernel_frames("__pq_ax")
    # queries are emitted chunk by chunk: compare them as sets
    key = ["vi", "si", "pi", "side", "qid"]
    outs = [ap._pctl_route(left, right, inputs, 1000, chunk)
            .sort_values(key).reset_index(drop=True)
            for chunk in (1, 3, ap._PCTL_KERNEL_CHUNK_GROUPS)]
    assert len(outs[0]) > 0
    assert list(outs[0].columns) == [n for n, _ in ap._PCTL_QUERY_FIELDS]
    for out in outs[1:]:
        pd.testing.assert_frame_equal(out, outs[0])
    # a route without rows answers the typed empty frame
    empty = ap._pctl_route(left.iloc[:0], right, inputs, 1000, 3)
    assert empty.empty and list(empty.columns) == list(outs[0].columns)


def test_approx_traversal_chunk_sizes_agree():
    left, right, inputs = _kernel_frames("__gw_ax")
    outs = [ap._pctl_approx(left, right, inputs, True, chunk)
            for chunk in (1, 3, ap._PCTL_KERNEL_CHUNK_GROUPS)]
    assert set(outs[0].columns) == {
        "__pq_g", "__pq_r0_0", "__pq_r0_1", "__pq_r1_0", "__pq_r2_0",
        "__pq_r2_1"}
    assert outs[0]["__pq_r0_0"].notna().all()  # offsets: never empty
    for out in outs[1:]:
        pd.testing.assert_frame_equal(out, outs[0])


def test_cum_buckets_and_rank_bucket():
    """The traversal's cumulative counts equal a per-group brute force,
    and the rank locate returns the first bucket whose cumulative count
    reaches the rank (clamped), with the count before it."""
    left, right, inputs = _kernel_frames("__pq_ax")
    g = left["__pq_g"].to_numpy()
    order, gid, starts = ap._pctl_group_traversal(
        g, None, "rows", "fwd")
    b0 = pd.to_numeric(left["__pq_b0"]).to_numpy(dtype="float64")[order]
    ce = np.concatenate([c[-1] for c in ap._cum_buckets(
        left, right, 0, 4, order, gid, starts, 3)])
    for k in range(len(g)):
        seen = b0[:k + 1]
        seen = seen[~np.isnan(seen)].astype(int)
        want = np.cumsum(np.bincount(seen, minlength=4)) + [3, 5, 9, 10]
        assert list(ce[k]) == list(want), k
    cum = np.array([[1, 3, 3, 6], [0, 0, 2, 2]])
    b, prior = ap._rank_bucket(cum, np.array([3, 9]))
    assert list(b) == [1, 3] and list(prior) == [1, 2]
