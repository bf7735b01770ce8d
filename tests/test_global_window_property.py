"""Property tests for the distributed global-order scaffold
(functions/agg_pipeline.py::_swf_global/_fill_global and
functions/partitioning.py): random frames — duplicate-heavy sort keys,
null values, null sort keys, sizes spanning several ranges — must
equal the trusted single-partition compile value-for-value. This is
the class of input where the carry stitching, tie co-location, and
rn-ordered window passes can silently go wrong."""

from __future__ import annotations

import math

from hypothesis import given, settings, strategies as st

from maggma_spark.functions.agg_pipeline import compile_pipeline

rows_strategy = st.lists(
    st.tuples(
        st.one_of(st.none(), st.integers(min_value=-5, max_value=5)),
        st.one_of(st.none(),
                  st.floats(min_value=-100, max_value=100,
                            allow_nan=False).map(lambda v: round(v, 3))),
    ),
    min_size=1, max_size=60,
)


def _skey(k):
    # Spark's double order: NaN sorts after +inf and ties other NaNs
    return (1, 0.0) if k != k else (0, k)


def _range_frame(got, r, fwd=True):
    """Non-null values of row r's running value-range frame over
    sortBy k under SQL framing (asc nulls first): UNBOUNDED PRECEDING
    starts at the partition start, so leading null-key rows sit inside
    every non-null row's forward frame, while a null-key row's forward
    frame is just the null peer group and its reverse frame the whole
    partition. (Mongo rejects null range sort keys, so DuckDB is the
    semantic reference.)"""
    if r["k"] is None:
        rows = [x for x in got if x["k"] is None] if fwd else got
    elif fwd:
        rows = [x for x in got
                if x["k"] is None or _skey(x["k"]) <= _skey(r["k"])]
    else:
        rows = [x for x in got if x["k"] is not None
                and _skey(x["k"]) >= _skey(r["k"])]
    return [x["v"] for x in rows if x["v"] is not None]


def _rank_err(frame, val, p):
    """Distance of `val`'s rank range in `frame` from the target rank
    p*(n-1); 0 when a copy of val sits at the target."""
    import numpy as np

    a = np.sort(np.array(frame))
    lo = np.searchsorted(a, val, side="left")
    hi = np.searchsorted(a, val, side="right")
    target = p * (len(a) - 1)
    if lo <= target <= hi:
        return 0.0
    return min(abs(lo - target), abs(hi - target))


def _approx_bound(rows, buckets=16):
    # equi-depth thinning plus split dedup: a bucket holds ~n/V
    # elements, except every copy of one tied value collapses into
    # one bucket — the bound must cover the heaviest tie
    nn = [r[-1] for r in rows if r[-1] is not None]
    maxmult = max((nn.count(x) for x in set(nn)), default=0)
    return max(len(nn) // buckets + 2, maxmult) + 1


@given(rows=rows_strategy)
@settings(max_examples=15, deadline=None)
def test_swf_global_running_aggs_match_reference(spark, rows):
    df = spark.createDataFrame(rows, "k int, v double")
    out = compile_pipeline(df, [{"$setWindowFields": {
        "sortBy": {"k": 1},
        "output": {
            "dn": {"$documentNumber": {}},
            "r": {"$rank": {}},
            "dr": {"$denseRank": {}},
            "run": {"$sum": "$v",
                    "window": {"documents": ["unbounded", "current"]}},
            "runb": {"$avg": "$v",
                     "window": {"documents": ["current", "unbounded"]}},
            "mn": {"$min": "$v",
                   "window": {"documents": ["unbounded", "current"]}},
        }}}])
    got = sorted(out.collect(), key=lambda r: r["dn"])
    # dn must be a permutation consistent with the k sort (nulls first)
    ks = [(-(10 ** 9) if r["k"] is None else r["k"]) for r in got]
    assert ks == sorted(ks)
    assert [r["dn"] for r in got] == list(range(1, len(rows) + 1))
    # rank/denseRank from the k sequence itself
    exp_r, exp_dr, seen = [], [], []
    for i, k in enumerate(ks):
        if i and k == ks[i - 1]:
            exp_r.append(exp_r[-1])
            exp_dr.append(exp_dr[-1])
        else:
            exp_r.append(i + 1)
            exp_dr.append((exp_dr[-1] if exp_dr else 0) + 1)
    assert [r["r"] for r in got] == exp_r
    assert [r["dr"] for r in got] == exp_dr
    # running aggregates against the dn traversal order
    vals = [r["v"] for r in got]
    for i, r in enumerate(got):
        pre = [v for v in vals[:i + 1] if v is not None]
        post = [v for v in vals[i:] if v is not None]
        if pre:
            assert math.isclose(r["run"], sum(pre), abs_tol=1e-9)
            assert r["mn"] == min(pre)
        else:
            # Mongo window $sum is 0 over an all-null frame; $min null
            assert r["run"] == 0 and r["mn"] is None
        if post:
            assert math.isclose(r["runb"], sum(post) / len(post),
                                rel_tol=1e-12, abs_tol=1e-9)
        else:
            assert r["runb"] is None


@given(rows=rows_strategy)
@settings(max_examples=10, deadline=None)
def test_swf_global_range_frames_match_reference(spark, rows):
    """Round-7 family: value-range frames through the scaffold —
    running range sum (carry), finite [lo, hi] band (replication),
    $first/$last constants — against the closed-form definition.
    Range frames are value-deterministic, so ties need no special
    casing. Null sort keys are excluded: Mongo ERRORS on non-numeric
    range sortBy values, so their behavior is engine-specific."""
    nn = [(k, v) for k, v in rows if k is not None]
    if not nn:
        return
    df = spark.createDataFrame(nn, "k int, v double")
    out = compile_pipeline(df, [{"$setWindowFields": {
        "sortBy": {"k": 1},
        "output": {
            "runr": {"$sum": "$v",
                     "window": {"range": ["unbounded", "current"]}},
            "band": {"$sum": "$v", "window": {"range": [-2, 1]}},
            "bmin": {"$min": "$v",
                     "window": {"range": ["current", "unbounded"]}},
            "gf": {"$first": "$k",
                   "window": {"documents": ["unbounded", "current"]}},
        }}}])
    got = out.collect()
    assert len(got) == len(nn)
    kmin = min(k for k, _ in nn)
    for r in got:
        k = r["k"]
        runr = [v for kk, v in nn if kk <= k and v is not None]
        assert math.isclose(r["runr"], sum(runr), abs_tol=1e-9) \
            if runr else r["runr"] == 0
        band = [v for kk, v in nn
                if k - 2 <= kk <= k + 1 and v is not None]
        assert math.isclose(r["band"], sum(band), abs_tol=1e-9) \
            if band else r["band"] == 0
        bmin = [v for kk, v in nn if kk >= k and v is not None]
        assert (r["bmin"] == min(bmin)) if bmin else r["bmin"] is None
        assert r["gf"] == kmin


@given(rows=rows_strategy)
@settings(max_examples=15, deadline=None)
def test_fill_global_locf_linear_match_reference(spark, rows):
    # unique sort key: pair index with k so locf order is total
    data = [(i, k if k is not None else i - 100, v)
            for i, (k, v) in enumerate(rows)]
    df = spark.createDataFrame(data, "i int, k int, v double")
    locf = compile_pipeline(df, [{"$fill": {
        "sortBy": {"k": 1, "i": 1},
        "output": {"v": {"method": "locf"}}}}])
    got = {r["i"]: r["v"] for r in locf.collect()}
    ordered = sorted(data, key=lambda t: (t[1], t[0]))
    carry, exp = None, {}
    for i, _, v in ordered:
        carry = v if v is not None else carry
        exp[i] = carry
    assert got == exp

    lin = compile_pipeline(df, [{"$fill": {
        "sortBy": {"k": 1},
        "output": {"v": {"method": "linear"}}}}])
    # linear against the closed-form definition over (k, v) pairs;
    # ties in k make interp order-dependent, so only check rows whose
    # k is unique among NULL rows vs distinct known x
    by_i = {r["i"]: r["v"] for r in lin.collect()}
    known = sorted((k, v) for _, k, v in data if v is not None)
    for i, k, v in data:
        if v is not None:
            assert by_i[i] == v
            continue
        prev = [(kk, vv) for kk, vv in known if kk <= k]
        nxt = [(kk, vv) for kk, vv in known if kk >= k]
        if not prev or not nxt:
            assert by_i[i] is None
            continue
        px, pv = prev[-1]
        nx, nv = nxt[0]
        # with tied known x (px == nx possible when a known row shares
        # k), any surrounding-known interp is acceptable — skip exact
        if px == nx:
            continue
        # multiple known rows at px/nx make pv/nv tie-dependent; only
        # assert when the neighbor x values are unique among knowns
        if sum(1 for kk, _ in known if kk == px) > 1:
            continue
        if sum(1 for kk, _ in known if kk == nx) > 1:
            continue
        exp_v = pv + (nv - pv) * (k - px) / (nx - px)
        assert by_i[i] is not None and \
            math.isclose(by_i[i], exp_v, rel_tol=1e-9, abs_tol=1e-9), \
            (i, k, by_i[i], exp_v)


@given(rows=rows_strategy)
@settings(max_examples=8, deadline=None)
def test_swf_global_running_percentile_matches_reference(spark, rows):
    """Round-8 _global_running_pctl: unpartitioned running $median /
    $percentile against a sequential numpy quantile replay over the
    document-number traversal — exact continuous interpolation,
    null inputs skipped, empty prefix -> null."""
    import numpy as np

    df = spark.createDataFrame(rows, "k int, v double")
    out = compile_pipeline(df, [{"$setWindowFields": {
        "sortBy": {"k": 1},
        "output": {
            "dn": {"$documentNumber": {}},
            "med": {"$median": {"input": "$v",
                                "method": "approximate"},
                    "window": {"documents": ["unbounded", "current"]}},
            "qs": {"$percentile": {"input": "$v", "p": [0.25, 0.9],
                                   "method": "approximate"},
                   "window": {"documents": ["unbounded", "current"]}},
        }}}])
    got = sorted(out.collect(), key=lambda r: r["dn"])
    vals: list = []
    for r in got:
        if r["v"] is not None:
            vals.append(r["v"])
        if not vals:
            assert r["med"] is None
            assert r["qs"] is None or all(x is None for x in r["qs"])
            continue
        a = np.array(vals)
        assert math.isclose(r["med"], float(np.quantile(a, 0.5)),
                            rel_tol=1e-12, abs_tol=1e-9)
        for x, p in zip(r["qs"], (0.25, 0.9)):
            assert math.isclose(x, float(np.quantile(a, p)),
                                rel_tol=1e-12, abs_tol=1e-9)


@given(rows=rows_strategy)
@settings(max_examples=8, deadline=None)
def test_swf_global_running_range_percentile_matches_reference(
        spark, rows):
    """Round-8 pctl_rrun: unpartitioned running $median over a VALUE
    RANGE frame ['unbounded','current'] — ties by sort value enter
    each other's prefix, under SQL null framing (see _range_frame).
    Replayed sequentially with numpy."""
    import numpy as np

    df = spark.createDataFrame(rows, "k int, v double")
    out = compile_pipeline(df, [{"$setWindowFields": {
        "sortBy": {"k": 1},
        "output": {
            "dn": {"$documentNumber": {}},
            "med": {"$median": {"input": "$v",
                                "method": "approximate"},
                    "window": {"range": ["unbounded", "current"]}},
        }}}])
    got = out.collect()
    for r in got:
        frame = _range_frame(got, r)
        if not frame:
            assert r["med"] is None, r
            continue
        exp = float(np.quantile(np.array(frame), 0.5))
        assert math.isclose(r["med"], exp,
                            rel_tol=1e-12, abs_tol=1e-9), (r, exp)


@given(rows=rows_strategy)
@settings(max_examples=8, deadline=None)
def test_swf_global_shift_locf_linearfill_match_reference(spark, rows):
    """Round-8: unpartitioned $shift (positive/negative by, default),
    $locf and $linearFill inside $setWindowFields — $shift resolves
    as an address-shift join on the scaffold's global row number,
    the fills reuse _fill_global's carry machinery. The sort key is
    made UNIQUE: each output runs its own scaffold pass, and tie
    traversal across passes is unspecified (DEVIATIONS §16), so only
    a total order makes positional outputs comparable. An in-frame
    null value must stay null under `default` (only out-of-partition
    addresses take it)."""
    rows = [(i, v) for i, (_k, v) in enumerate(rows)]
    df = spark.createDataFrame(rows, "k int, v double")
    out = compile_pipeline(df, [{"$setWindowFields": {
        "sortBy": {"k": 1},
        "output": {
            "dn": {"$documentNumber": {}},
            "lead2": {"$shift": {"output": "$v", "by": 2,
                                 "default": -1.0}},
            "lag1": {"$shift": {"output": "$v", "by": -1}},
            "filled": {"$locf": "$v"},
        }}}])
    got = sorted(out.collect(), key=lambda r: r["dn"])
    n = len(got)
    last = None
    for i, r in enumerate(got):
        exp_lead = got[i + 2]["v"] if i + 2 < n else -1.0
        assert r["lead2"] == exp_lead, (i, r["lead2"], exp_lead)
        exp_lag = got[i - 1]["v"] if i >= 1 else None
        assert r["lag1"] == exp_lag, (i, r["lag1"], exp_lag)
        if r["v"] is not None:
            last = r["v"]
        assert r["filled"] == last, (i, r["filled"], last)


@given(rows=rows_strategy)
@settings(max_examples=8, deadline=None)
def test_swf_global_reverse_running_percentile_matches_reference(
        spark, rows):
    """Round-8 bwd forms: ['current','unbounded'] $median over BOTH
    documents (suffix by document order) and range (rows with key >=
    mine; null keys frame the whole partition under SQL's
    CURRENT-to-UNBOUNDED-FOLLOWING framing with nulls first) — the
    mirrored-axis run of the same machinery, replayed sequentially."""
    import numpy as np

    df = spark.createDataFrame(rows, "k int, v double")
    out = compile_pipeline(df, [{"$setWindowFields": {
        "sortBy": {"k": 1},
        "output": {
            "dn": {"$documentNumber": {}},
            "mdoc": {"$median": {"input": "$v",
                                 "method": "approximate"},
                     "window": {"documents": ["current",
                                              "unbounded"]}},
            "mrange": {"$median": {"input": "$v",
                                   "method": "approximate"},
                       "window": {"range": ["current",
                                            "unbounded"]}},
        }}}])
    got = sorted(out.collect(), key=lambda r: r["dn"])

    def check(val, frame):
        if not frame:
            assert val is None
        else:
            exp = float(np.quantile(np.array(frame), 0.5))
            assert math.isclose(val, exp, rel_tol=1e-12,
                                abs_tol=1e-9), (val, exp)

    for idx, r in enumerate(got):
        check(r["mdoc"], [x["v"] for x in got[idx:]
                          if x["v"] is not None])
        check(r["mrange"], _range_frame(got, r, fwd=False))


@given(rows=rows_strategy)
@settings(max_examples=5, deadline=None)
def test_swf_global_running_percentile_two_inputs(spark, rows):
    """Two pctl_run outputs over DIFFERENT input expressions exercise
    the fused nv=2 path (separate buckets/histograms/elements, one
    shared checkpoint + kernel cogroup)."""
    import numpy as np

    df = spark.createDataFrame(rows, "k int, v double")
    out = compile_pipeline(df, [{"$setWindowFields": {
        "sortBy": {"k": 1},
        "output": {
            "dn": {"$documentNumber": {}},
            "mv": {"$median": {"input": "$v",
                               "method": "approximate"},
                   "window": {"documents": ["unbounded", "current"]}},
            "mneg": {"$median": {"input": {"$multiply": ["$v", -1]},
                                 "method": "approximate"},
                     "window": {"documents": ["unbounded",
                                              "current"]}},
        }}}])
    got = sorted(out.collect(), key=lambda r: r["dn"])
    vals: list = []
    for r in got:
        if r["v"] is not None:
            vals.append(r["v"])
        if not vals:
            assert r["mv"] is None and r["mneg"] is None
            continue
        a = np.array(vals)
        assert math.isclose(r["mv"], float(np.quantile(a, 0.5)),
                            rel_tol=1e-12, abs_tol=1e-9)
        assert math.isclose(r["mneg"], float(np.quantile(-a, 0.5)),
                            rel_tol=1e-12, abs_tol=1e-9)


@given(rows=rows_strategy)
@settings(max_examples=8, deadline=None)
def test_swf_global_running_percentile_approx_rank_bound(spark, rows):
    """Round-9 approximate engine mode
    (spark.maggma.windowPctl.method=approximate): the running
    $median/$percentile answer interpolates within one equi-depth
    value bucket, so its RANK among the frame's non-null values must
    sit within one bucket's mass of the target rank — forward
    documents, reverse documents, and running range frames, fused.
    Nulls must align with the exact path's (empty prefix -> null)."""
    df = spark.createDataFrame(rows, "k int, v double")
    pipe = [{"$setWindowFields": {
        "sortBy": {"k": 1},
        "output": {
            "dn": {"$documentNumber": {}},
            "med": {"$median": {"input": "$v",
                                "method": "approximate"},
                    "window": {"documents": ["unbounded", "current"]}},
            "med_rev": {"$median": {"input": "$v",
                                    "method": "approximate"},
                        "window": {"documents": ["current",
                                                 "unbounded"]}},
            "med_rng": {"$median": {"input": "$v",
                                    "method": "approximate"},
                        "window": {"range": ["unbounded", "current"]}},
        }}}]
    spark.conf.set("spark.maggma.windowPctl.method", "approximate")
    spark.conf.set("spark.maggma.windowPctl.approxBuckets", "16")
    try:
        got = sorted(compile_pipeline(df, pipe).collect(),
                     key=lambda r: r["dn"])
    finally:
        spark.conf.unset("spark.maggma.windowPctl.method")
        spark.conf.unset("spark.maggma.windowPctl.approxBuckets")

    bound = _approx_bound(rows)
    for i, r in enumerate(got):
        pref = [x["v"] for x in got[: i + 1] if x["v"] is not None]
        suf = [x["v"] for x in got[i:] if x["v"] is not None]
        for col, frame in (("med", pref), ("med_rev", suf),
                           ("med_rng", _range_frame(got, r))):
            if not frame:
                assert r[col] is None, (col, r)
                continue
            assert r[col] is not None, (col, r)
            assert _rank_err(frame, r[col], 0.5) <= bound, \
                (col, r, frame, bound)


@given(rows=rows_strategy)
@settings(max_examples=12, deadline=None)
def test_swf_global_ema_deriv_integral_match_reference(spark, rows):
    """Round-9 family: unpartitioned $expMovingAvg (affine-recurrence
    carries), $derivative and $integral (edge-struct carries, pair-sum
    carries, replication for finite frames) against the closed-form
    definitions. Unique sort keys: pair terms and EMA traversal over
    TIED keys are order-dependent in any engine (Mongo's tie traversal
    is unspecified — DEVIATIONS §16)."""
    uniq = []
    for i, (k, v) in enumerate(rows):
        # unique keys, non-uniform but bounded steps
        uniq.append((3 * i + (abs(k) % 3 if k is not None else 0), v))
    uniq.sort()
    # a finite range frame must stay under MAX_RANGE_REPLICATION for
    # the number of ranges the scaffold builds on this key span
    fw = max(1, (uniq[-1][0] - uniq[0][0]) // 8)
    df = spark.createDataFrame(uniq, "k int, v double")
    out = compile_pipeline(df, [{"$setWindowFields": {
        "sortBy": {"k": 1},
        "output": {
            "ema": {"$expMovingAvg": {"input": "$v", "alpha": 0.25}},
            "d_run": {"$derivative": {"input": "$v"},
                      "window": {"documents": ["unbounded",
                                               "current"]}},
            "d_rev": {"$derivative": {"input": "$v"},
                      "window": {"range": ["current", "unbounded"]}},
            "d_fin": {"$derivative": {"input": "$v"},
                      "window": {"documents": [-2, 0]}},
            "i_run": {"$integral": {"input": "$v"},
                      "window": {"documents": ["unbounded",
                                               "current"]}},
            "i_rev": {"$integral": {"input": "$v"},
                      "window": {"range": ["current", "unbounded"]}},
            "i_fin": {"$integral": {"input": "$v"},
                      "window": {"range": [-fw, fw]}},
        }}}])
    got = sorted(out.collect(), key=lambda r: r["k"])
    assert len(got) == len(uniq)
    ks = [float(k) for k, _ in uniq]
    vs = [v for _, v in uniq]
    n = len(uniq)
    pair = [None] * n
    for i in range(1, n):
        if vs[i] is not None and vs[i - 1] is not None:
            pair[i] = (vs[i] + vs[i - 1]) / 2 * (ks[i] - ks[i - 1])

    def seg(lo, hi):  # pairs of rows lo+1..hi
        return sum(p for p in pair[lo + 1:hi + 1] if p is not None)

    # closed-form EMA (recurrence over non-null values)
    ema_ref, state = [], None
    for v in vs:
        if v is not None:
            state = v if state is None else 0.25 * v + 0.75 * state
        ema_ref.append(state)

    def ck(a, b, tag, i):
        if a is None and b is None:
            return
        assert a is not None and b is not None, (tag, i, a, b)
        assert math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9), \
            (tag, i, a, b)

    def deriv(lo, hi, i, tag, r):
        dt = ks[hi] - ks[lo]
        if dt == 0 or vs[hi] is None or vs[lo] is None:
            ck(r, None, tag, i)
        else:
            ck(r, (vs[hi] - vs[lo]) / dt, tag, i)

    for i, r in enumerate(got):
        ck(r["ema"], ema_ref[i], "ema", i)
        deriv(0, i, i, "d_run", r["d_run"])
        deriv(i, n - 1, i, "d_rev", r["d_rev"])
        deriv(max(0, i - 2), i, i, "d_fin", r["d_fin"])
        ck(r["i_run"], seg(0, i), "i_run", i)
        ck(r["i_rev"], seg(i, n - 1), "i_rev", i)
        fr = [j for j in range(n)
              if ks[i] - fw <= ks[j] <= ks[i] + fw]
        ck(r["i_fin"], seg(fr[0], fr[-1]), "i_fin", i)


@given(rows=rows_strategy)
@settings(max_examples=10, deadline=None)
def test_partitioned_running_percentile_approx_rank_bound(spark, rows):
    """Round-9 partitioned approximate running $median/$percentile
    (_partitioned_running_pctl_approx): per-group equi-depth buckets,
    O(G)/row — the scale path past Spark's quadratic exact
    running-percentile frame. The answer's RANK among the group
    frame's non-null values must sit within one bucket's mass of the
    target rank, forward AND reverse; empty frames emit null."""
    data = [(k if k is not None else -9, i, v)
            for i, (k, v) in enumerate(rows)]
    df = spark.createDataFrame(data, "g int, i int, v double")
    pipe = [{"$setWindowFields": {
        "partitionBy": "$g", "sortBy": {"i": 1},
        "output": {
            "med": {"$median": {"input": "$v",
                                "method": "approximate"},
                    "window": {"documents": ["unbounded", "current"]}},
            "med_rev": {"$median": {"input": "$v",
                                    "method": "approximate"},
                        "window": {"documents": ["current",
                                                 "unbounded"]}},
            "q3_rng": {"$percentile": {"input": "$v", "p": [0.75],
                                       "method": "approximate"},
                       "window": {"range": ["unbounded", "current"]}},
        }}}]
    spark.conf.set("spark.maggma.windowPctl.method", "approximate")
    spark.conf.set("spark.maggma.windowPctl.approxBuckets", "8")
    try:
        got = {(r["g"], r["i"]): r
               for r in compile_pipeline(df, pipe).collect()}
    finally:
        spark.conf.unset("spark.maggma.windowPctl.method")
        spark.conf.unset("spark.maggma.windowPctl.approxBuckets")

    groups: dict = {}
    for g, i, v in data:
        groups.setdefault(g, []).append((i, v))
    for g, items in groups.items():
        items.sort()
        vals = [v for _, v in items]
        # sketch accuracy adds nothing at these sizes; ties collapse
        # into one bucket like the global path
        bound = _approx_bound(items, buckets=8)
        for idx, (i, _v) in enumerate(items):
            r = got[(g, i)]
            pref = [x for x in vals[:idx + 1] if x is not None]
            suf = [x for x in vals[idx:] if x is not None]
            for col, frame, p in (("med", pref, 0.5),
                                  ("med_rev", suf, 0.5)):
                if not frame:
                    assert r[col] is None, (g, i, col, r[col])
                    continue
                assert r[col] is not None, (g, i, col)
                assert _rank_err(frame, r[col], p) <= bound, \
                    (g, i, col, r[col], frame, bound)
            # running RANGE frame: i is unique per group, so the
            # range prefix equals the documents prefix
            if pref:
                assert r["q3_rng"] is not None
                assert _rank_err(pref, r["q3_rng"][0], 0.75) <= bound, \
                    (g, i, r["q3_rng"], pref, bound)
            else:
                assert r["q3_rng"] is None \
                    or r["q3_rng"][0] is None, (g, i, r["q3_rng"])


def test_swf_global_derivative_integral_time_units(spark):
    """Global $derivative/$integral with Mongo `unit` scaling over a
    timestamp sortBy: derivative per HOUR and integral in MINUTE
    units over a planted linear series — closed form both ways."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    # y = 2 * minutes since start, sampled every 30 s
    rows = [(base + dt.timedelta(seconds=30 * i), float(i))
            for i in range(200)]
    df = spark.createDataFrame(rows, "ts timestamp, y double")
    out = compile_pipeline(df, [{"$setWindowFields": {
        "sortBy": {"ts": 1},
        "output": {
            "dph": {"$derivative": {"input": "$y", "unit": "hour"},
                    "window": {"documents": ["unbounded", "current"]}},
            "imin": {"$integral": {"input": "$y", "unit": "minute"},
                     "window": {"documents": ["unbounded",
                                              "current"]}},
        }}}]).orderBy("ts").collect()
    for i, r in enumerate(out):
        if i == 0:
            assert r["dph"] is None and r["imin"] == 0.0
            continue
        # y rises 1 per 30 s -> 120 per hour; the time axis is
        # epoch-scale doubles, so the 30 s delta carries ~5e-9
        # relative cancellation error (same formula as the
        # partitioned sort_time)
        assert math.isclose(r["dph"], 120.0, rel_tol=1e-6), (i, r)
        # trapezoid of linear series: sum_{j<=i} (y_j+y_{j-1})/2 * 0.5min
        want = sum((j + (j - 1)) / 2 * 0.5 for j in range(1, i + 1))
        assert math.isclose(r["imin"], want, rel_tol=1e-6), (i, r)


def test_partitioned_pctl_approx_null_partition_key(spark):
    """ADVICE r9 (high): the approximate partitioned running-
    percentile path joins its per-group edges frame back on the raw
    partition key; a null-unsafe join would silently drop every
    null-key row. The exact path (Window.partitionBy) and Mongo both
    treat the null key as a valid partition, so the engine-mode flip
    must preserve cardinality and answer correctly for that group."""
    data = ([(None, i, float(i)) for i in range(20)]
            + [(1, i, float(100 + i)) for i in range(20)])
    df = spark.createDataFrame(data, "g int, i int, v double")
    pipe = [{"$setWindowFields": {
        "partitionBy": "$g", "sortBy": {"i": 1},
        "output": {
            "med": {"$median": {"input": "$v",
                                "method": "approximate"},
                    "window": {"documents": ["unbounded",
                                             "current"]}}}}}]
    prior = spark.conf.get("spark.maggma.windowPctl.method", None)
    spark.conf.set("spark.maggma.windowPctl.method", "approximate")
    try:
        got = compile_pipeline(df, pipe).collect()
    finally:
        if prior is None:
            spark.conf.unset("spark.maggma.windowPctl.method")
        else:
            spark.conf.set("spark.maggma.windowPctl.method", prior)
    assert len(got) == len(data)
    nulls = sorted((r for r in got if r["g"] is None),
                   key=lambda r: r["i"])
    assert len(nulls) == 20
    # planted identity: prefix of 0..i -> running median ~ i/2,
    # within one bucket's mass (n/G + sketch slack)
    for r in nulls:
        assert r["med"] is not None
        assert abs(r["med"] - r["i"] / 2.0) <= (r["i"] + 1) / 32 + 2, r


def test_global_integral_tied_sort_keys_range_frames(spark):
    """ADVICE r9 (medium): finite-range and reverse-running-range
    $integral must exclude exactly the frame's pre-frame crossing
    pair even when the frame's lower edge is a TIE GROUP — first()
    over the ax-only ordering could grab a zero-width tie pair and
    leave the crossing term inside the sum. With equal values inside
    each tie group the true integral is tie-order independent, so
    exact equality against the closed form is asserted."""
    # keys 0,2,4,...,18, each duplicated 1-3 times, equal values
    # inside a tie group so every tie traversal yields the same sum
    rows = []
    for j in range(10):
        k = 2 * j
        v = float((j * 7) % 11)
        for _ in range(1 + (j % 3)):
            rows.append((k, v))
    df = spark.createDataFrame(rows, "k int, v double")
    out = compile_pipeline(df, [{"$setWindowFields": {
        "sortBy": {"k": 1},
        "output": {
            "i_rev": {"$integral": {"input": "$v"},
                      "window": {"range": ["current", "unbounded"]}},
            "i_fin": {"$integral": {"input": "$v"},
                      "window": {"range": [-4, 4]}},
        }}}]).collect()
    ks = sorted({k for k, _ in rows})
    val = {k: v for k, v in rows}

    def seg(lo_k, hi_k):  # crossing pairs between distinct keys
        span = [k for k in ks if lo_k <= k <= hi_k]
        return sum((val[a] + val[b]) / 2 * (b - a)
                   for a, b in zip(span, span[1:]))

    assert len(out) == len(rows)
    for r in out:
        want_rev = seg(r["k"], ks[-1])
        want_fin = seg(r["k"] - 4, r["k"] + 4)
        assert math.isclose(r["i_rev"], want_rev,
                            rel_tol=1e-9, abs_tol=1e-9), (r, want_rev)
        assert math.isclose(r["i_fin"], want_fin,
                            rel_tol=1e-9, abs_tol=1e-9), (r, want_fin)


APPROX = {"spark.maggma.windowPctl.method": "approximate",
          "spark.maggma.windowPctl.approxBuckets": "16"}

# requested percentiles per output of the replay pipelines below
PCTL_PS = {"med": [0.5], "qs_rev": [0.25, 0.75], "med_rng": [0.5],
           "med_rrev": [0.5]}


def _run(spark, df, pipe, key, confs=None):
    """compile + collect (as dicts sorted by `key`) under temporarily
    set engine confs."""
    confs = confs or {}
    prior = {c: spark.conf.get(c, None) for c in confs}
    for c, v in confs.items():
        spark.conf.set(c, v)
    try:
        return sorted((r.asDict() for r in
                       compile_pipeline(df, pipe).collect()),
                      key=lambda r: r[key])
    finally:
        for c, v in prior.items():
            if v is None:
                spark.conf.unset(c)
            else:
                spark.conf.set(c, v)


def _pctl_pipe(*cols):
    frames = {"med": ("documents", ["unbounded", "current"]),
              "qs_rev": ("documents", ["current", "unbounded"]),
              "med_rng": ("range", ["unbounded", "current"]),
              "med_rrev": ("range", ["current", "unbounded"])}
    out = {"dn": {"$documentNumber": {}}}
    for c in cols:
        op = ({"$median": {"input": "$v", "method": "approximate"}}
              if c != "qs_rev" else
              {"$percentile": {"input": "$v", "p": PCTL_PS[c],
                               "method": "approximate"}})
        kind, frame = frames[c]
        out[c] = {**op, "window": {kind: frame}}
    return [{"$setWindowFields": {"sortBy": {"k": 1}, "output": out}}]


def _check_pctl_replay(got, cols, bound=None):
    """Replay every output of _pctl_pipe over `got` (in dn order):
    null exactly when the frame holds no non-null value; otherwise
    np.quantile's interpolation (exact mode, bound=None) or a rank
    error within `bound` (approximate mode)."""
    import numpy as np

    for i, r in enumerate(got):
        frames = {
            "med": [x["v"] for x in got[:i + 1] if x["v"] is not None],
            "qs_rev": [x["v"] for x in got[i:] if x["v"] is not None],
            "med_rng": _range_frame(got, r),
            "med_rrev": _range_frame(got, r, fwd=False)}
        for c in cols:
            vals = r[c] if isinstance(r[c], list) else [r[c]]
            if not frames[c]:
                assert r[c] is None or vals == [None] * len(vals), (c, r)
                continue
            for val, p in zip(vals, PCTL_PS[c]):
                assert val is not None, (c, r)
                if bound is None:
                    exp = float(np.quantile(np.array(frames[c]), p))
                    assert math.isclose(val, exp, rel_tol=1e-12,
                                        abs_tol=1e-9), (c, r, exp)
                else:
                    assert _rank_err(frames[c], val, p) <= bound, \
                        (c, r, frames[c], bound)


def _pctl_replay_inputs(spark):
    """Duplicate-heavy sort keys, null values and null sort keys, with
    the same rows once under an int sortBy and once under a string
    sortBy ("k0".."k8" order like 0..8). A string sortBy has no
    numeric probe, so its value histograms take the distributed fold
    instead of riding the boundary aggregate (documents frames only: a
    range frame needs a numeric axis)."""
    from pyspark.sql import functions as F

    rows = [(i, i % 9 if i % 7 else None,
             float((i * 13) % 101) if i % 5 else None)
            for i in range(400)]
    df = spark.createDataFrame(rows, "rid int, k int, v double")
    sdf = df.withColumn("k", F.concat(F.lit("k"), F.col("k")))
    return rows, ((df, tuple(PCTL_PS)), (sdf, ("med", "qs_rev")))


def test_global_exact_pctl_routers_agree(spark):
    """The exact global running-percentile kernel, routed through the
    boundary-aggregate probe (int sortBy) and through the distributed
    histogram fold (string sortBy), agrees with np.quantile's
    interpolation in the sequential numpy replay — forward and reverse
    documents frames, forward and reverse value ranges."""
    _, legs = _pctl_replay_inputs(spark)
    for frame, cols in legs:
        pipe = _pctl_pipe(*cols)
        _check_pctl_replay(_run(spark, frame, pipe, "dn"), cols)


def test_global_pctl_approx_assemblies_agree(spark):
    """The approximate global running-percentile kernel on the same
    two routes agrees with the numpy replay: the same null pattern
    (null iff the frame is empty) and a rank error within one
    bucket's mass."""
    rows, legs = _pctl_replay_inputs(spark)
    for frame, cols in legs:
        pipe = _pctl_pipe(*cols)
        _check_pctl_replay(_run(spark, frame, pipe, "dn", APPROX), cols,
                           bound=_approx_bound(rows))


def test_global_pctl_infinite_sort_keys_peer_groups(spark):
    """Round-11 (r10 ADVICE): genuine IEEE infinities in the sort
    axis must stay DISTINCT peer groups from the null peer group in
    the percentile kernels — the former -inf/+inf null sentinels
    merged them. Checks both kernels on forward and reverse
    value-range frames over a key mix of -inf/+inf/null/NaN/tied
    finite values: the exact one against the replay and the closed
    forms below, the approximate one against the same null pattern
    and the one-bucket rank bound.

    Round-12 (r11 ADVICE): genuine IEEE NaN sort keys are their own
    peer group AFTER +inf (Spark orders NaN greater than any double),
    NOT part of the null peer group — the Arrow transfer erases
    nullity (null -> float64 NaN), so the kernels carry an explicit
    Spark-side is-null mask; without it NaN keys silently folded into
    the nulls-first group."""
    inf, nan = float("inf"), float("nan")
    # explicit values: the null peer group's median (2.5) differs
    # from the merged null+inf group's (4.0), so the sentinel bug —
    # which merged them — cannot pass the closed-form checks below
    head = [(-inf, 100.0), (-inf, 200.0), (-inf, 300.0),
            (None, 1.0), (None, 2.0), (None, 3.0), (None, 4.0),
            (inf, 7.0), (inf, None)]
    keys = head + [(k, float((i * 7) % 23) if i % 6 else None)
                   for i, k in enumerate(
                       [1.0, 1.0, 2.0, 2.0, 2.0, 5.0] * 8)]
    # NaN keys LAST so every earlier rid is stable; their reverse
    # frame ([current, unbounded]) is the NaN peer group alone —
    # median 55 — while the NaN==null fold would hand them the null
    # group's reverse frame (the whole dataset)
    nan_rids = (len(keys), len(keys) + 1)
    keys = keys + [(nan, 50.0), (nan, 60.0)]
    rows = [(i, k, v) for i, (k, v) in enumerate(keys)]
    df = spark.createDataFrame(rows, "rid int, k double, v double")
    cols = ("med_rng", "med_rrev")
    pipe = _pctl_pipe(*cols)
    exact = _run(spark, df, pipe, "rid")
    approx = _run(spark, df, pipe, "rid", APPROX)
    _check_pctl_replay(exact, cols)
    _check_pctl_replay(approx, cols, bound=_approx_bound(rows))
    for a, x in zip(approx, exact):
        for c in cols:
            assert (a[c] is None) == (x[c] is None), (c, a, x)
    # SQL framing (asc nulls first): a null-key row's forward range
    # frame is the null PEER GROUP only (median 2.5) — under the old
    # sentinel merge it would also see the -inf values (median 4.0);
    # a -inf row's frame is nulls + -inf ties (unbounded preceding
    # covers the nulls-first block)
    byrid = {r["rid"]: r for r in exact}
    assert byrid[3]["med_rng"] == 2.5
    assert byrid[0]["med_rng"] == 4.0  # median(1,2,3,4,100,200,300)
    # NaN peer group sorts after +inf: its reverse frame is itself
    # alone (median 55.0), and the +inf row's reverse frame is
    # inf ties + the NaN block (median(7, 50, 60) = 50.0) — under
    # the NaN==null fold both frames would cover the null block too
    for r in nan_rids:
        assert byrid[r]["med_rrev"] == 55.0
    assert byrid[7]["med_rrev"] == 50.0


def test_swf_global_compile_two_driver_actions(spark, monkeypatch):
    """Regression pin for the round-10 action collapse (r10 verdict
    next #3): COMPILING a multi-output unpartitioned $setWindowFields
    of the covariance bench row's shape — two moment families plus
    running/reverse percentiles sharing one scaffold — runs at most
    TWO driver actions (the range-boundary percentile and the fused
    boundary aggregate; the lazy checkpoints must piggyback on those,
    never pay their own job). Counts every DataFrame action method,
    same monkeypatch pattern as
    test_bucket_auto_single_driver_action."""
    try:
        from pyspark.sql.classic.dataframe import DataFrame
    except ImportError:  # pragma: no cover - older Spark
        from pyspark.sql import DataFrame

    calls, depth = [], [0]
    for name in ("count", "collect", "first", "head", "take",
                 "toPandas", "foreach", "foreachPartition"):
        orig = getattr(DataFrame, name)

        def wrapper(self, *a, _orig=orig, _n=name, **kw):
            if depth[0] == 0:
                calls.append(_n)
            depth[0] += 1
            try:
                return _orig(self, *a, **kw)
            finally:
                depth[0] -= 1

        monkeypatch.setattr(DataFrame, name, wrapper)
    df = spark.createDataFrame(
        [(i, float(i % 97), float((i * 3) % 89)) for i in range(400)],
        "k long, x double, y double")
    out = compile_pipeline(df, [{"$setWindowFields": {
        "sortBy": {"k": 1},
        "output": {
            "cov_run": {"$covariancePop": ["$x", "$y"],
                        "window": {"documents": ["unbounded",
                                                 "current"]}},
            "cov_all": {"$covarianceSamp": ["$x", "$y"]},
            "sd_run": {"$stdDevSamp": "$x",
                       "window": {"documents": ["unbounded",
                                                "current"]}},
            "sd_all": {"$stdDevPop": "$x"},
            "med_run": {"$median": {"input": "$x",
                                    "method": "approximate"},
                        "window": {"documents": ["unbounded",
                                                 "current"]}},
            "med_rev": {"$median": {"input": "$x",
                                    "method": "approximate"},
                        "window": {"documents": ["current",
                                                 "unbounded"]}},
        }}}])
    assert len(calls) <= 2, calls
    # the plan must still EXECUTE correctly after compile
    n = out.count()
    assert n == 400



def test_pctl_kernels_chunk_boundaries(spark, monkeypatch):
    """The kernels' chunked group traversal must be invisible: with
    the chunk size shrunk to 7 groups (forcing many boundary
    crossings, including mid-tie-group carried bases) both the exact
    and the approximate kernel must return bit-for-bit what the
    default 65536-group chunk returns, and the exact one must still
    match the replay. Guards the carried-base/offset arithmetic that
    the default chunk never exercises on test-sized frames."""
    import maggma_spark.functions.agg_pipeline as ap

    rows = [(i, i % 23 if i % 7 else None,
             float((i * 13) % 101) if i % 5 else None)
            for i in range(600)]
    df = spark.createDataFrame(rows, "rid int, k int, v double")
    cols = ("med", "med_rng", "qs_rev")
    pipe = _pctl_pipe(*cols)
    default = ap._PCTL_KERNEL_CHUNK_GROUPS
    outs = {}
    for chunk in (default, 7):
        monkeypatch.setattr(ap, "_PCTL_KERNEL_CHUNK_GROUPS", chunk)
        outs[chunk] = (_run(spark, df, pipe, "rid"),
                       _run(spark, df, pipe, "rid", APPROX))
    for leg in (0, 1):  # exact, approximate
        assert len(outs[7][leg]) == len(rows)
        for a, b in zip(outs[7][leg], outs[default][leg]):
            assert a == b, (leg, a, b)
    _check_pctl_replay(sorted(outs[7][0], key=lambda r: r["dn"]), cols)


def test_fused_fill_shift_matches_sequential(spark):
    """The round-12 fused unpartitioned $fill + $shift path (one
    scaffold, one boundary aggregate) must be value-identical to the
    sequential two-pass form on a frame that forces multiple scaffold
    ranges, cross-range shift addresses, leading/trailing nulls and
    both fill methods; and a shift that READS a fill output must take
    the sequential path (guard) and still see the filled values."""
    from pyspark.sql import Row

    from maggma_spark.functions.agg_pipeline import (
        _shift_reads_fill_outputs,
        compile_pipeline,
    )

    rows = [Row(k=i,
                v=(None if i % 5 in (0, 3) or i < 2 or i >= 58
                   else float(i)),
                w=(None if i % 7 == 0 else i * 2.0))
            for i in range(60)]
    df = spark.createDataFrame(rows)
    pipe = [{"$setWindowFields": {
        "sortBy": {"k": 1},
        "output": {
            "lf": {"$locf": "$v"},
            "ln": {"$linearFill": "$w"},
            "sh_f": {"$shift": {"output": "$v", "by": 2,
                                "default": -99.0}},
            "sh_b": {"$shift": {"output": "$w", "by": -3}},
        }}}]
    old_mrr = spark.conf.get("spark.maggma.globalWindow.minRowsPerRange",
                             None)
    spark.conf.set("spark.maggma.globalWindow.minRowsPerRange", "0")
    try:
        fused = {r["k"]: r for r in
                 compile_pipeline(df, pipe).collect()}
        # force the sequential path by making the guard trip: same
        # pipeline, but shift reads the fill output -> must fall back
        assert _shift_reads_fill_outputs(
            {"s": {"output": "$lf", "by": 1}}, {"lf": 1})
        assert not _shift_reads_fill_outputs(
            {"s": {"output": "$lfx", "by": 1}}, {"lf": 1})
        seq_pipe = [
            {"$setWindowFields": {"sortBy": {"k": 1}, "output": {
                "lf": {"$locf": "$v"},
                "ln": {"$linearFill": "$w"}}}},
            {"$setWindowFields": {"sortBy": {"k": 1}, "output": {
                "sh_f": {"$shift": {"output": "$v", "by": 2,
                                    "default": -99.0}},
                "sh_b": {"$shift": {"output": "$w", "by": -3}}}}},
        ]
        seq = {r["k"]: r for r in
               compile_pipeline(df, seq_pipe).collect()}
    finally:
        if old_mrr is None:
            spark.conf.unset("spark.maggma.globalWindow.minRowsPerRange")
        else:
            spark.conf.set(
                "spark.maggma.globalWindow.minRowsPerRange", old_mrr)
    assert len(fused) == 60 and len(seq) == 60
    for k in fused:
        for c in ("lf", "ln", "sh_f", "sh_b"):
            assert fused[k][c] == seq[k][c], (k, c, fused[k], seq[k])
    # a guarded pipeline (shift reading the fill output) sees FILLED
    # values: at a row whose v is null, sh of $lf equals the carried v
    gpipe = [{"$setWindowFields": {"sortBy": {"k": 1}, "output": {
        "lf": {"$locf": "$v"},
        "sg": {"$shift": {"output": "$lf", "by": 0}}}}}]
    g = {r["k"]: r for r in compile_pipeline(df, gpipe).collect()}
    assert all(g[k]["sg"] == g[k]["lf"] for k in g)
