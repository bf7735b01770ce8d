from __future__ import annotations

import random

from pyspark.sql import functions as F

from maggma_spark.operators.graph import connected_components, resolve_dup_clusters


def _cc_rows(spark, edges):
    df = spark.createDataFrame(edges, "key_a long, key_b long")
    out = connected_components(df)
    return {r["node"]: r["comp"] for r in out.collect()}


def test_cc_chain_and_islands(spark):
    # chain 1-2-3-4 must collapse transitively; 10-11 separate; 20 absent
    comp = _cc_rows(spark, [(1, 2), (2, 3), (3, 4), (10, 11)])
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_cc_self_loops_and_dup_edges(spark):
    comp = _cc_rows(spark, [(5, 5), (1, 2), (2, 1), (1, 2)])
    assert comp == {1: 1, 2: 1}  # self-loop-only node has no real edge


def _union_find(edges, nodes):
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # min node per component
    comp_min: dict[int, int] = {}
    for n in nodes:
        r = find(n)
        comp_min[r] = min(comp_min.get(r, n), n)
    return {n: comp_min[find(n)] for n in nodes}


def test_cc_differential_vs_union_find(spark):
    rng = random.Random(42)
    nodes = list(range(200))
    edges = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(150)]
    edges = [(a, b) for a, b in edges if a != b]
    expected = _union_find(edges, {n for e in edges for n in e})
    got = _cc_rows(spark, edges)
    assert got == expected


def test_resolve_dup_clusters_keep_flags(spark):
    docs = spark.createDataFrame(
        [(i, f"t{i}") for i in range(1, 8)], "doc_id long, text string")
    pairs = spark.createDataFrame(
        [(1, 3), (3, 5), (2, 6)], "key_a long, key_b long")
    out = resolve_dup_clusters(docs, "doc_id", pairs).collect()
    by_id = {r["doc_id"]: (r["cluster_id"], r["keep"]) for r in out}
    assert by_id == {
        1: (1, True), 3: (1, False), 5: (1, False),
        2: (2, True), 6: (2, False),
        4: (4, True), 7: (7, True),  # singletons keep themselves
    }


def test_resolve_composes_with_minhash_candidates(spark):
    # full stack: planted identical copies -> LSH candidates -> clusters
    from maggma_spark.operators.dedup import minhash_lsh_candidates

    base = spark.createDataFrame(
        [(i, f"the quick brown fox jumps over dog number {i} "
              f"with plenty of shared shingle text to hash") for i in range(20)],
        "doc_id long, text string")
    copies = base.withColumn("doc_id", F.col("doc_id") + F.lit(100))
    alldocs = base.unionByName(copies)
    pairs = minhash_lsh_candidates(alldocs, num_hashes=16, bands=4,
                                   jaccard_threshold=0.99)
    out = resolve_dup_clusters(alldocs, "doc_id", pairs)
    kept = out.filter("keep").count()
    # every planted copy joined its original's cluster: 20 survivors
    assert kept == 20
    assert out.filter("doc_id >= 100 AND keep").count() == 0


def test_cc_reliable_checkpoint_dir(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "key_a long, key_b long")
    out = connected_components(df, checkpoint_dir=str(tmp_path / "ckpt"))
    comp = {r["node"]: r["comp"] for r in out.collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}
    # reliable checkpoint actually wrote files into the directory
    assert any((tmp_path / "ckpt").rglob("*"))


def test_cc_warns_on_max_iter_exhaustion(spark, caplog):
    import logging

    # a long chain cannot converge in 1 round; pin the ITERATIVE path
    # (the round-10 small-graph union-find would solve it in one shot)
    df = spark.createDataFrame(
        [(i, i + 1) for i in range(20)], "key_a long, key_b long")
    spark.conf.set("spark.maggma.graph.smallComponentsEdges", "0")
    try:
        with caplog.at_level(logging.WARNING,
                             logger="maggma_spark.operators.graph"):
            connected_components(df, max_iter=1).collect()
    finally:
        spark.conf.unset("spark.maggma.graph.smallComponentsEdges")
    assert any("under-merged" in r.message for r in caplog.records)


def test_resolve_keep_when_min_key_filtered_out(spark):
    # cluster {1,3,5} but row 1 was filtered out of df AFTER candidate
    # generation: 3 (min present) must be kept, not zero survivors.
    docs = spark.createDataFrame(
        [(i, f"t{i}") for i in (3, 5, 7)], "doc_id long, text string")
    pairs = spark.createDataFrame([(1, 3), (3, 5)], "key_a long, key_b long")
    out = {r["doc_id"]: (r["cluster_id"], r["keep"])
           for r in resolve_dup_clusters(docs, "doc_id", pairs).collect()}
    assert out == {3: (1, True), 5: (1, False), 7: (7, True)}


def test_resolve_rejects_output_column_collision(spark):
    import pytest

    docs = spark.createDataFrame([(1, True)], "doc_id long, keep boolean")
    pairs = spark.createDataFrame([(1, 2)], "key_a long, key_b long")
    with pytest.raises(ValueError, match="keep"):
        resolve_dup_clusters(docs, "doc_id", pairs)


def test_resolve_dup_clusters_keep_by_quality(spark):
    from pyspark.sql import Row

    from maggma_spark.operators.graph import resolve_dup_clusters

    df = spark.createDataFrame([
        Row(k=1, q=0.2), Row(k=2, q=0.9), Row(k=3, q=0.9),
        Row(k=10, q=0.5),
    ])
    pairs = spark.createDataFrame([Row(key_a=1, key_b=2), Row(key_a=2, key_b=3)])
    out = {r["k"]: (r["cluster_id"], r["keep"])
           for r in resolve_dup_clusters(df, "k", pairs, keep_by="q").collect()}
    # highest quality wins; tie (2 vs 3 both 0.9) broken by min key
    assert out[2] == (1, True)
    assert out[1] == (1, False) and out[3] == (1, False)
    assert out[10] == (10, True)  # singleton keeps itself


def test_triangle_count_known_graphs(spark):
    from pyspark.sql import Row

    from maggma_spark.operators.graph import triangle_count

    def tc(pairs):
        df = spark.createDataFrame([Row(key_a=a, key_b=b)
                                    for a, b in pairs])
        return triangle_count(df).collect()[0]["n_triangles"]

    # K4: 4 triangles; direction/duplicates/self-loops must not matter
    k4 = [(a, b) for a in range(4) for b in range(4) if a != b]
    assert tc(k4) == 4
    assert tc([(1, 2), (2, 1), (1, 1), (2, 3), (3, 1)]) == 1
    # star graph: no triangles
    assert tc([(0, i) for i in range(1, 8)]) == 0
    # two disjoint triangles
    assert tc([(1, 2), (2, 3), (3, 1), (10, 11), (11, 12), (12, 10)]) == 2
    # hub-heavy graph vs brute force (orientation correctness under
    # skewed degrees)
    import itertools
    import random

    rng = random.Random(3)
    pairs = {tuple(sorted(p)) for p in
             [(0, i) for i in range(1, 20)]
             + [(rng.randrange(20), rng.randrange(20)) for _ in range(60)]}
    pairs = [p for p in pairs if p[0] != p[1]]
    adj = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    brute = sum(1 for x, y, z in itertools.combinations(sorted(adj), 3)
                if y in adj[x] and z in adj[x] and z in adj[y])
    assert tc(pairs) == brute


def test_pagerank_differential_vs_numpy(spark):
    """pagerank vs dense numpy power iteration on a seeded random
    directed graph with dangling nodes."""
    import random

    import numpy as np
    from pyspark.sql import Row

    from maggma_spark.operators.graph import pagerank

    rng = random.Random(11)
    n = 30
    pairs = sorted({(rng.randrange(n), rng.randrange(n))
                    for _ in range(120)})
    pairs = [p for p in pairs if p[0] != p[1]]
    # ensure some dangling nodes exist (no out-edges)
    pairs = [p for p in pairs if p[0] not in (7, 13)]
    df = spark.createDataFrame([Row(key_a=a, key_b=b) for a, b in pairs])
    got = {r["node"]: r["rank"] for r in
           pagerank(df, max_iter=80, tol=1e-13).collect()}

    node_ids = sorted({x for p in pairs for x in p})
    idx = {v: i for i, v in enumerate(node_ids)}
    m = len(node_ids)
    out = {}
    for a, b in pairs:
        out.setdefault(a, []).append(b)
    M = np.zeros((m, m))
    for a, bs in out.items():
        for b in bs:
            M[idx[b], idx[a]] = 1.0 / len(bs)
    r = np.ones(m)
    for _ in range(300):
        dang = sum(r[idx[v]] for v in node_ids if v not in out)
        r = (1 - 0.85) + 0.85 * (M @ r) + 0.85 * dang / m
    assert abs(sum(got.values()) - m) < 1e-6          # mass conserved
    for v in node_ids:
        assert abs(got[v] - r[idx[v]]) < 1e-6, v
    # dangling nodes keep baseline + incoming rank, never zero
    assert got[7] > 0.14 and got[13] > 0.14


def test_local_clustering_known_graph(spark):
    from pyspark.sql import Row

    from maggma_spark.operators.graph import local_clustering

    # triangle 1-2-3 with pendant 4 on node 3
    edges = spark.createDataFrame([Row(key_a=a, key_b=b) for a, b in
                                   [(1, 2), (2, 3), (1, 3), (3, 4)]])
    out = {r["node"]: r for r in local_clustering(edges).collect()}
    assert out[1]["clustering"] == 1.0 and out[1]["n_triangles"] == 1
    assert out[3]["degree"] == 3 and out[3]["clustering"] == 0.333333
    assert out[4]["n_triangles"] == 0 and out[4]["clustering"] == 0.0
    # K4: every node in 3 triangles, coefficient 1
    k4 = spark.createDataFrame([Row(key_a=a, key_b=b)
                                for a in range(4)
                                for b in range(a + 1, 4)])
    for r in local_clustering(k4).collect():
        assert r["n_triangles"] == 3 and r["clustering"] == 1.0


def test_k_core_peeling(spark):
    from pyspark.sql import Row

    from maggma_spark.operators.graph import k_core

    # K4 with a chain tail off node 3
    pairs = ([(a, b) for a in range(4) for b in range(a + 1, 4)]
             + [(3, 10), (10, 11)])
    df = spark.createDataFrame([Row(key_a=a, key_b=b) for a, b in pairs])
    core3 = {r["node"]: r["degree"] for r in k_core(df, 3).collect()}
    assert core3 == {0: 3, 1: 3, 2: 3, 3: 3}   # chain fully peeled
    # 1-core keeps everything (no isolated nodes in an edge list)
    assert k_core(df, 1).count() == 6
    # k higher than any clique -> empty core
    assert k_core(df, 4).count() == 0
    # cascade: removing the tail end drops the middle next round
    chain = spark.createDataFrame(
        [Row(key_a=i, key_b=i + 1) for i in range(10)])
    assert k_core(chain, 2).count() == 0
    import pytest as _pt

    with _pt.raises(ValueError):
        k_core(df, 0)


def test_fixpoint_frees_per_round_blocks(spark):
    """Per-round block cleanup must be real, not a Dataset.unpersist
    no-op: after a multi-round CC fixpoint, executor storage holds only
    the final round's blocks (+ the small persisted step frame), not
    one snapshot per iteration."""
    from pyspark.sql import Row

    from maggma_spark.operators.graph import connected_components

    jsc = spark.sparkContext._jsc.sc()
    before = len(jsc.getRDDStorageInfo())
    # a long chain forces several pointer-jumping rounds
    edges = spark.createDataFrame(
        [Row(key_a=i, key_b=i + 1) for i in range(64)])
    out = connected_components(edges, max_iter=12)
    assert out.select("comp").distinct().count() == 1
    after = len(jsc.getRDDStorageInfo())
    # final `jumped` checkpoint + final persisted `step` at most (plus
    # anything other fixtures left cached — allow the delta, not the
    # absolute count)
    assert after - before <= 2, (before, after)


def test_connected_components_small_path_matches_iterative(spark):
    """Round-10 small-graph fast path (driver union-find under the
    bounded-collect gate) must produce exactly the iterative
    pointer-jumping labeling — same (node, min-label) contract — on a
    multi-component graph with chains, a star, and isolated pairs."""
    import random

    rng = random.Random(7)
    edges = [(i, i + 1) for i in range(0, 40, 2)]          # pairs
    edges += [(100 + i, 100 + i + 1) for i in range(30)]   # long chain
    edges += [(500, 500 + i) for i in range(1, 20)]        # star
    edges += [(rng.randrange(1000, 1040), rng.randrange(1000, 1040))
              for _ in range(60)]                          # random blob
    df = spark.createDataFrame(edges, "key_a bigint, key_b bigint")
    prior = spark.conf.get(
        "spark.maggma.graph.smallComponentsEdges", None)
    try:
        spark.conf.set("spark.maggma.graph.smallComponentsEdges",
                       "1000000")
        small = {(r["node"], r["comp"])
                 for r in connected_components(df).collect()}
        spark.conf.set("spark.maggma.graph.smallComponentsEdges", "0")
        iterative = {(r["node"], r["comp"])
                     for r in connected_components(df).collect()}
    finally:
        if prior is None:
            spark.conf.unset("spark.maggma.graph.smallComponentsEdges")
        else:
            spark.conf.set("spark.maggma.graph.smallComponentsEdges",
                           prior)
    assert small == iterative
    # sanity: the star collapses to one component labeled 500
    assert (519, 500) in small


def test_cc_small_path_two_driver_actions(spark, monkeypatch):
    """Round-12 pin (r11 verdict next #6): the small-graph fast path
    runs EXACTLY two driver actions — the shuffle-free gate count that
    materializes the persisted adjacency, then the bounded Arrow
    fetch from that cache. The round-10 regression happened precisely
    because the gate silently grew extra actions; this converts the
    r12 count-gated-persist shape into a guard. Same depth-guarded
    monkeypatch-count pattern as
    test_swf_global_compile_two_driver_actions."""
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
    edges = [(i, i + 1) for i in range(200)]
    df = spark.createDataFrame(edges, "key_a bigint, key_b bigint")
    prior = spark.conf.get(
        "spark.maggma.graph.smallComponentsEdges", None)
    try:
        spark.conf.set("spark.maggma.graph.smallComponentsEdges",
                       "1000000")
        out = connected_components(df)
    finally:
        if prior is None:
            spark.conf.unset("spark.maggma.graph.smallComponentsEdges")
        else:
            spark.conf.set("spark.maggma.graph.smallComponentsEdges",
                           prior)
    assert calls == ["count", "toPandas"], calls
    assert {(r["node"], r["comp"]) for r in out.collect()} == {
        (i, 0) for i in range(201)}


def test_connected_components_over_cap_falls_through(spark):
    """A cap smaller than the symmetrized edge count must route to the
    distributed fixpoint (the round-12 gate counts the persisted
    adjacency, sees the overflow, and checkpoints from the cache — no
    rows ever reach the driver) — same labels as the unbounded fast
    path."""
    edges = [(i, i + 1) for i in range(50)]  # one 51-node chain
    df = spark.createDataFrame(edges, "key_a bigint, key_b bigint")
    prior = spark.conf.get(
        "spark.maggma.graph.smallComponentsEdges", None)
    try:
        spark.conf.set("spark.maggma.graph.smallComponentsEdges", "10")
        out = {(r["node"], r["comp"])
               for r in connected_components(df).collect()}
    finally:
        if prior is None:
            spark.conf.unset("spark.maggma.graph.smallComponentsEdges")
        else:
            spark.conf.set("spark.maggma.graph.smallComponentsEdges",
                           prior)
    assert out == {(i, 0) for i in range(51)}


def test_pagerank_one_driver_action_per_iteration(spark, monkeypatch):
    """Round-13 pin (r12 verdict next #6): each power-iteration round
    runs EXACTLY one counted driver action — the fused L1-delta
    aggregate that also materializes the round's lazy checkpoint.
    The pre-r13 loop paid three (dangling collect, eager checkpoint,
    delta collect). Same depth-guarded monkeypatch-count pattern as
    test_cc_small_path_two_driver_actions; the eager setup
    checkpoints (edges/nodes/initial ranks) run through
    localCheckpoint, which this counter deliberately does not track —
    the pin is about PER-ITERATION driver actions."""
    try:
        from pyspark.sql.classic.dataframe import DataFrame
    except ImportError:  # pragma: no cover - older Spark
        from pyspark.sql import DataFrame

    from maggma_spark.operators.graph import pagerank

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
    edges = [(i, (i + 1) % 7) for i in range(7)] + [(0, 8)]
    df = spark.createDataFrame(edges, "key_a bigint, key_b bigint")
    out = pagerank(df, max_iter=3, tol=0.0)  # tol=0: never converges
    # setup: nodes.count(); loop: ONE collect per iteration
    assert calls == ["count"] + ["collect"] * 3, calls
    ranks = {r["node"]: r["rank"] for r in out.collect()}
    # mass conservation holds after every iteration
    assert abs(sum(ranks.values()) - len(ranks)) < 1e-9


def test_graph_lookup_one_driver_action_per_round(spark, monkeypatch):
    """Round-13 pin: every $graphLookup BFS round runs exactly ONE
    counted driver action — the full frontier count that also
    materializes both of the round's lazy checkpoints (the pre-r13
    loop paid three: two eager checkpoints + a limit(1) probe)."""
    try:
        from pyspark.sql.classic.dataframe import DataFrame
    except ImportError:  # pragma: no cover - older Spark
        from pyspark.sql import DataFrame

    from maggma_spark.functions.agg_pipeline import compile_pipeline

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
    folks = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", None)],
        "name string, boss string")
    out = compile_pipeline(folks, [{"$graphLookup": {
        "from": folks, "startWith": "$boss",
        "connectFromField": "boss", "connectToField": "name",
        "as": "chain", "maxDepth": 5,
    }}])
    rows = {r["name"]: sorted(m["name"] for m in r["chain"])
            for r in out.collect()}
    # the terminal collect above is the caller's, not the BFS loop's:
    # every loop action is a frontier count, one per executed round
    assert calls[-1] == "collect"
    loop_calls = calls[:-1]
    assert loop_calls == ["count"] * len(loop_calls), calls
    assert 2 <= len(loop_calls) <= 4, calls
    assert rows == {"a": ["b", "c"], "b": ["c"], "c": []}


def _union_find_components(edges):
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in list(parent)}


def test_min_label_components_matches_union_find():
    """The small-graph path's numpy min-label propagation, without a
    session: equal to a Python union-find (root = component minimum)
    on random graphs, and correct on the empty, self-loop-only and
    string-key cases."""
    import numpy as np

    from maggma_spark.operators.graph import _min_label_components

    def labels(edges, dtype):
        a = np.asarray([e[0] for e in edges], dtype=dtype)
        b = np.asarray([e[1] for e in edges], dtype=dtype)
        uniq, comp = _min_label_components(a, b)
        assert list(uniq) == sorted(uniq)
        return dict(zip(uniq.tolist(), comp.tolist()))

    rng = random.Random(11)
    for trial in range(30):
        n = rng.randrange(1, 60)
        edges = [(rng.randrange(n), rng.randrange(n))
                 for _ in range(rng.randrange(1, 2 * n + 2))]
        assert labels(edges, np.int64) == _union_find_components(edges), \
            trial
    assert labels([], np.int64) == {}
    assert labels([(3, 3), (1, 1)], np.int64) == {1: 1, 3: 3}
    words = [("pear", "apple"), ("fig", "kiwi"), ("kiwi", "date"),
             ("plum", "plum")]
    assert labels(words, object) == {
        "apple": "apple", "pear": "apple", "date": "date", "fig": "date",
        "kiwi": "date", "plum": "plum"}
