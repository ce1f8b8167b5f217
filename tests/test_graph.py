import numpy as np
from pyspark.sql import functions as F

from deftunes_spark.ext.graph import pagerank


def _np_pagerank(edges, n_nodes, iters, d, undirected):
    es = set(edges)
    if undirected:
        es |= {(b, a) for a, b in es}
    nodes = sorted({x for e in es for x in e})
    idx = {v: i for i, v in enumerate(nodes)}
    n = len(nodes)
    out = np.zeros(n)
    for s, _ in es:
        out[idx[s]] += 1
    r = np.full(n, 1.0 / n)
    for _ in range(iters):
        nxt = np.full(n, (1 - d) / n)
        for s, t in es:
            nxt[idx[t]] += d * r[idx[s]] / out[idx[s]]
        r = nxt
    return {v: r[idx[v]] for v in nodes}


def test_pagerank_matches_numpy(spark):
    edges = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 1), (1, 3)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {
        r["node"]: r["rank"]
        for r in pagerank(df, iterations=4, damping=0.85).collect()
    }
    want = _np_pagerank(edges, 4, 4, 0.85, undirected=False)
    assert set(got) == set(want)
    for v in want:
        assert abs(got[v] - want[v]) < 1e-12


def test_pagerank_undirected_sums_close_to_one(spark):
    # Undirected graph: no dangling nodes, total mass stays ~1.
    edges = [(1, 2), (2, 3), (3, 4), (4, 5), (5, 1), (2, 5)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    ranks = pagerank(df, iterations=5, damping=0.85, undirected=True)
    total = sum(r["rank"] for r in ranks.collect())
    assert abs(total - 1.0) < 1e-9


def test_pagerank_hub_outranks_leaves(spark):
    # Star graph: the hub should accumulate the most rank.
    edges = [(i, 0) for i in range(1, 8)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {
        r["node"]: r["rank"]
        for r in pagerank(
            df, iterations=3, damping=0.85, undirected=True
        ).collect()
    }
    assert got[0] > max(v for k, v in got.items() if k != 0)


def test_pagerank_empty_edges(spark):
    df = spark.createDataFrame([], "src long, dst long")
    assert pagerank(df, iterations=2).count() == 0


def test_pagerank_reliable_checkpoint(spark, tmp_path):
    """reliable=True writes lineage cuts to the configured checkpoint
    dir (the cluster path surviving executor loss) and must produce
    bit-identical ranks; without a checkpoint dir it fails fast."""
    import pytest

    from deftunes_spark.ext.lineage import ensure_checkpoint_dir

    edges = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 1), (1, 3)]
    df = spark.createDataFrame(edges, ["src", "dst"])

    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None
    with pytest.raises(ValueError, match="checkpoint dir"):
        pagerank(df, iterations=2, reliable=True).collect()

    ensure_checkpoint_dir(spark, str(tmp_path / "ckpt"))
    try:
        got = {
            r["node"]: r["rank"]
            for r in pagerank(
                df, iterations=5, checkpoint_every=2, reliable=True
            ).collect()
        }
        want = {
            r["node"]: r["rank"]
            for r in pagerank(
                df, iterations=5, checkpoint_every=2
            ).collect()
        }
        assert got == want
        import os

        assert os.listdir(str(tmp_path / "ckpt"))  # cuts actually landed
    finally:
        sc.setCheckpointDir(None)


def test_components_reliable_checkpoint(spark, tmp_path):
    from deftunes_spark.ext.dedup import connected_components
    from deftunes_spark.ext.lineage import ensure_checkpoint_dir

    edges = [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 20)]
    df = spark.createDataFrame(edges, ["id_a", "id_b"])
    ensure_checkpoint_dir(spark, str(tmp_path / "ckpt2"))
    try:
        got = {
            r["node"]: r["comp"]
            for r in connected_components(df, reliable=True).collect()
        }
    finally:
        spark.sparkContext.setCheckpointDir(None)
    assert got == {
        1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20
    }


def test_triangle_orientations_agree(spark):
    """Degree-ordered orientation (the power-law-safe plan) counts the
    same triangles as id orientation, on a graph with hubs."""
    from deftunes_spark.ext.graph import connected_triangles

    edges = [
        (1, 2), (2, 3), (1, 3),          # triangle
        (3, 4), (4, 5), (3, 5),          # triangle sharing node 3
        (5, 6), (6, 7),                  # path, no triangle
        (1, 4),                          # closes (1,3,4)
        (2, 1),                          # duplicate reversed edge
    ]
    df = spark.createDataFrame(edges, ["src", "dst"])
    a = {
        r.node: r.n_triangles
        for r in connected_triangles(df, orient="id").collect()
    }
    b = {
        r.node: r.n_triangles
        for r in connected_triangles(df, orient="degree").collect()
    }
    assert a == b
    assert a == {1: 2, 2: 1, 3: 3, 4: 2, 5: 1}


def test_triangle_closing_plans_agree_and_auto_picks(spark):
    """r11 advice + verdict #4: the shuffle closing join (the
    no-memory-ceiling escape hatch) must count exactly the triangles
    the broadcast plan counts, and closing="auto" must pick broadcast
    under the edge threshold and shuffle above it — degrading to the
    working plan instead of failing the broadcast build."""
    from deftunes_spark.ext.graph import connected_triangles

    edges = [
        (1, 2), (2, 3), (1, 3),
        (3, 4), (4, 5), (3, 5),
        (1, 4), (5, 6), (6, 7),
    ]
    df = spark.createDataFrame(edges, ["src", "dst"])
    expect = {1: 2, 2: 1, 3: 3, 4: 2, 5: 1}
    for closing in ("broadcast", "shuffle", "auto", "chunked"):
        got = {
            r.node: r.n_triangles
            for r in connected_triangles(df, closing=closing).collect()
        }
        assert got == expect, closing
    # Chunked with forced k: the wedge space partitions across chunks
    # (some chunks empty at this size) and the partial sums must still
    # reproduce the broadcast counts exactly (r12 verdict #3).
    for k in (1, 3, 7):
        got = {
            r.node: r.n_triangles
            for r in connected_triangles(
                df, closing="chunked", closing_chunks=k
            ).collect()
        }
        assert got == expect, f"chunked k={k}"
    # auto with a tiny threshold degrades to the CHUNKED plan (bounded
    # memory and bounded disk), still correct.
    got = {
        r.node: r.n_triangles
        for r in connected_triangles(
            df, closing="auto", auto_broadcast_max_edges=2
        ).collect()
    }
    assert got == expect
    import pytest as _pytest
    with _pytest.raises(ValueError):
        connected_triangles(df, closing="hash")


def test_triangle_closing_plan_shapes(spark):
    """closing='broadcast' must put a BroadcastHashJoin on the closing
    edge; closing='shuffle' must not broadcast the closing join (the
    whole point of the escape hatch is no driver-sized build)."""
    from deftunes_spark.ext.graph import connected_triangles

    df = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4)], ["src", "dst"]
    )
    bc_plan = connected_triangles(
        df, closing="broadcast"
    )._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in bc_plan
    sh_plan = connected_triangles(
        df, closing="shuffle"
    )._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in sh_plan or "ShuffledHashJoin" in sh_plan


def test_pagerank_bucketed_one_exchange_per_superstep(spark, tmp_path):
    """The graph-module header's cluster claim, proven in the plan
    (r11 verdict #6): with the weighted edge table bucketed on the
    scatter key and n_buckets == shuffle.partitions, each superstep
    plans exactly ONE shuffle Exchange (the gather) — the scatter
    join and the rank-update join consume the bucket layout. Ranks
    must equal the plain (re-shuffling) path bit-for-bit."""
    import re

    from deftunes_spark.ext.graph import pagerank, pagerank_preweighted
    from deftunes_spark.io.writers import write_bucketed_table

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 3), (6, 1)],
        ["src", "dst"],
    )
    e = edges.select(
        F.col("src").alias("s"), F.col("dst").alias("d")
    ).distinct()
    und = e.union(
        e.select(F.col("d").alias("s"), F.col("s").alias("d"))
    ).distinct()
    outdeg = und.groupBy(F.col("s").alias("_n")).agg(
        F.count(F.lit(1)).alias("outdeg")
    )
    weighted = und.join(outdeg, und["s"] == outdeg["_n"]).select(
        "s", "d", (F.lit(1.0) / F.col("outdeg")).alias("w")
    )
    nb = int(spark.conf.get("spark.sql.shuffle.partitions"))
    write_bucketed_table(
        weighted, "pgbkt_test", "s", nb, "s",
        path=str(tmp_path / "pgbkt_test"),
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        wt = spark.table("pgbkt_test")
        nodes = wt.select(F.col("s").alias("node")).distinct()
        iters = 3
        ranks = pagerank_preweighted(wt, nodes, iterations=iters)
        plan = ranks._jdf.queryExecution().executedPlan().toString()
        n_shuffles = len(re.findall(r"Exchange hashpartitioning", plan))
        assert n_shuffles == iters, plan
        assert "BroadcastExchange" not in plan
        got = {r.node: round(r.rank, 10) for r in ranks.collect()}
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS pgbkt_test")
    want = {
        r.node: round(r.rank, 10)
        for r in pagerank(edges, iterations=3, undirected=True).collect()
    }
    assert got == want


def test_jvm_gc_hint_skips_sessions_without_jvm():
    """A Spark Connect session has no ``_jvm``: the GC hint is a no-op."""
    from types import SimpleNamespace

    from deftunes_spark.ext.graph import _jvm_gc_hint

    _jvm_gc_hint(SimpleNamespace())  # no _jvm attribute: no error
    calls = []
    jvm = SimpleNamespace(System=SimpleNamespace(gc=lambda: calls.append(1)))
    _jvm_gc_hint(SimpleNamespace(_jvm=jvm))
    assert calls == [1]
