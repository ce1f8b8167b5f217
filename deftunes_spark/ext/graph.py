"""Iterative graph analytics as DataFrame programs.

The reference has no graph operators (SURVEY §2 — its join surface is
equi-only); this module is an engine extension in the same family as
``dedup.connected_components``: algorithms whose unit of work is a
join + aggregation per superstep, expressed so each round is ONE
shuffle and the lineage is cut between rounds.

PageRank at 100 TB: each iteration is an equi-join of the (src-
partitioned) edge list with the (node-partitioned) rank table plus one
groupBy — both shuffles hash on the node id, so a pre-partitioned /
bucketed edge table makes the join co-located and only the
aggregation shuffles. Skewed high-degree nodes (the web-graph hub
problem) are exactly what AQE skew-split and `ext.scale.salted_sum`
exist for.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from deftunes_spark.ext.lineage import cut_lineage


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 3,
    damping: float = 0.85,
    undirected: bool = False,
    checkpoint_every: int = 4,
    reliable: bool = False,
) -> DataFrame:
    """PageRank with a FIXED iteration count (deterministic output —
    mirrorable by unrolled CTEs in the SQL oracle, unlike
    run-to-convergence which couples termination to float noise).

    rank₀(v) = 1/N;
    rankₜ₊₁(v) = (1−d)/N + d·Σ_{u→v} rankₜ(u)/outdeg(u).

    Nodes are the union of edge endpoints (an isolated node has no
    effect on anyone else's rank and keeps (1−d)/N + its own dangling
    handling — callers wanting them included can union extra
    single-node "self" rows). Dangling mass is NOT redistributed
    (matches the common simplified formulation; with ``undirected=True``
    every node has outdegree ≥ 1 so the question is moot).

    Each superstep: one join (contributions) + one groupBy (gather).
    Lineage is cut every ``checkpoint_every`` rounds — not every round:
    an eager materialization is a whole extra job, and a plan a few
    supersteps deep is exactly what Catalyst handles well. Long runs
    still never stack unbounded lineage.

    ``reliable=True`` switches every lineage cut from executor-local
    blocks to the configured checkpoint directory — the cluster path,
    where an executor loss mid-iteration must not kill the job (see
    ``ext.lineage``).
    """
    e = edges.select(
        F.col(src).alias("s"), F.col(dst).alias("d")
    ).distinct()
    if undirected:
        e = (
            e.union(e.select(F.col("d").alias("s"), F.col("s").alias("d")))
            .distinct()
        )
    e = cut_lineage(e, reliable)

    # Node universe: with the symmetrized (undirected) list every node
    # appears as a source, so the d-branch of the old two-sided union
    # only re-derived the same set from twice the input; directed
    # graphs still need both endpoints.
    node_src = (
        e.select(F.col("s").alias("node"))
        if undirected
        else e.select(F.col("s").alias("node")).union(
            e.select(F.col("d").alias("node"))
        )
    )
    nodes = cut_lineage(node_src.distinct(), reliable)
    n = nodes.count()
    if n == 0:
        return nodes.withColumn("rank", F.lit(0.0))
    base = (1.0 - damping) / n

    # Edge weight 1/outdeg(src) is static across supersteps — fold it
    # into the edge list ONCE so each round is a single join + gather
    # instead of re-joining the degree table every time. The count is
    # a window over the same key the groupBy would shuffle on — one
    # exchange of the edge list, no degree-table join.
    weighted = cut_lineage(
        e.select(
            "s",
            "d",
            (
                F.lit(1.0)
                / F.count(F.lit(1)).over(Window.partitionBy("s"))
            ).alias("w"),
        ),
        reliable,
    )
    return _pagerank_supersteps(
        weighted, nodes, n, iterations, damping,
        checkpoint_every, reliable,
    )


def _pagerank_supersteps(
    weighted: DataFrame,
    nodes: DataFrame,
    n: int,
    iterations: int,
    damping: float,
    checkpoint_every: int,
    reliable: bool,
) -> DataFrame:
    """The shared superstep loop: one join (scatter rank·w along the
    pre-weighted edges) + one groupBy (gather) per iteration.
    ``weighted`` is (s, d, w) with w = 1/outdeg(s); ``nodes`` is the
    node universe; ``n`` its count."""
    base = (1.0 - damping) / n
    ranks = nodes.withColumn("rank", F.lit(1.0 / n))
    for it in range(iterations):
        contribs = weighted.join(ranks, weighted["s"] == ranks["node"]).select(
            weighted["d"].alias("to"),
            (ranks["rank"] * weighted["w"]).alias("w"),
        )
        gathered = contribs.groupBy(F.col("to").alias("node")).agg(
            F.sum("w").alias("in_mass")
        )
        ranks = nodes.join(gathered, "node", "left").select(
            "node",
            (
                F.lit(base)
                + F.lit(damping) * F.coalesce("in_mass", F.lit(0.0))
            ).alias("rank"),
        )
        if (it + 1) % checkpoint_every == 0 and it + 1 < iterations:
            ranks = cut_lineage(ranks, reliable)
    return ranks


def pagerank_preweighted(
    weighted: DataFrame,
    nodes: DataFrame,
    iterations: int = 3,
    damping: float = 0.85,
    checkpoint_every: int = 4,
    reliable: bool = False,
) -> DataFrame:
    """PageRank over a PRE-WEIGHTED edge table — the cluster-scale
    entry point this module's header promises: persist (s, d, w) with
    w = 1/outdeg(s) ONCE as a table bucketed on ``s`` (io.writers.
    write_bucketed_table, n_buckets == spark.sql.shuffle.partitions),
    and every superstep's scatter join consumes the bucket layout
    instead of re-shuffling the edge list — the dominant side of the
    join, static across supersteps and across runs. Only the gather
    groupBy exchanges, so each superstep is exactly ONE shuffle of
    rank-sized rows (plan-asserted in tests/test_graph.py;
    driver query ``pagerank_bucketed``).

    ``weighted`` must carry columns (s, d, w); ``nodes`` the node
    universe as a single ``node`` column (for an undirected graph,
    SELECT DISTINCT s from the bucketed table — itself exchange-free
    on the bucket layout). Semantics identical to ``pagerank``:
    rank₀ = 1/N; rankₜ₊₁(v) = (1−d)/N + d·Σ rankₜ(u)·w(u→v).
    """
    n = nodes.count()
    if n == 0:
        return nodes.withColumn("rank", F.lit(0.0))
    return _pagerank_supersteps(
        weighted.select("s", "d", "w"), nodes, n, iterations,
        damping, checkpoint_every, reliable,
    )


#: connected_triangles(closing="auto"): oriented-edge count above
#: which the closing join falls back from broadcast to shuffle. Both
#: closings have a measured ceiling, and they are DIFFERENT resources:
#: broadcast builds the oriented edge list as a hash relation
#: (memory — a 45.4M-edge build completed on this 128 GiB rig at the
#: r11 100× stress, ~1666 s; call it ~50M here), while shuffle
#: materializes the Σ deg² WEDGE STREAM to shuffle disk (the r12 100×
#: stress DIED on disk: ~1.7e10 wedges > 43 GB free on one box —
#: viable only where aggregate cluster shuffle capacity covers it).
#: This rig's measured ceiling; ``_auto_broadcast_cap`` additionally
#: bounds it by the session's actual heap (r12 advice: on a 1–4 GB
#: driver the 128 GiB number would still pick a multi-hundred-MB
#: broadcast build and OOM instead of degrading).
AUTO_BROADCAST_MAX_EDGES = 50_000_000

#: Conservative hash-relation cost per oriented edge (two longs plus
#: HashedRelation entry/array overhead) and the fraction of the heap
#: one broadcast build may claim, for the memory-derived auto cap.
_BROADCAST_BYTES_PER_EDGE = 64
_BROADCAST_HEAP_FRACTION = 0.25

#: connected_triangles(closing="chunked"): wedge rows one chunk may
#: materialize to shuffle disk. The plain shuffle closing writes the
#: WHOLE Σ in(b)·out(b) wedge stream to shuffle storage at once — the
#: r12 100× stress died there (~1.7e10 wedges > the rig's free disk).
#: Chunking the wedge MIDDLE node b into k hash buckets runs k bounded
#: enumerate+close jobs; finished chunks' shuffle files are released
#: before the next starts, so peak disk is ~Σ/k + one edge-list
#: re-shuffle per chunk. 1e9 rows ≈ 10-20 GB of lz4'd shuffle on this
#: rig — bounded well under its free disk while keeping chunk count
#: (and the k× edge re-shuffle overhead) low.
CHUNK_WEDGE_BUDGET = 1_000_000_000


def _auto_broadcast_cap(spark, requested: int) -> int:
    """min(requested, heap-derived edge cap) — the requested ceiling
    is a measured 128 GiB-rig number; scale it down on smaller heaps
    so ``closing='auto'`` degrades to the shuffle plan instead of
    OOMing the broadcast build (r12 advice)."""
    mem = spark.conf.get(
        "spark.executor.memory",
        spark.conf.get("spark.driver.memory", "1g"),
    )
    units = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}
    s = str(mem).strip().lower()
    try:
        if s[-1] in units:
            heap = float(s[:-1]) * units[s[-1]]
        elif s.endswith("b") and s[-2] in units:
            heap = float(s[:-2]) * units[s[-2]]
        else:
            heap = float(s)
    except (ValueError, IndexError):
        return requested
    derived = int(
        heap * _BROADCAST_HEAP_FRACTION / _BROADCAST_BYTES_PER_EDGE
    )
    return min(requested, max(derived, 1))


def connected_triangles(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    orient: str = "degree",
    closing: str = "auto",
    auto_broadcast_max_edges: int = AUTO_BROADCAST_MAX_EDGES,
    closing_chunks: int | str = "auto",
    chunk_wedge_budget: int = CHUNK_WEDGE_BUDGET,
) -> DataFrame:
    """Per-node triangle counts — the local clustering signal (spam
    rings in link graphs, tight duplicate cliques in near-dup graphs).

    Classic two-join enumeration over ORIENTED edges: undirected input
    is first canonicalized so each edge appears once pointing "up" the
    ordering, making every triangle (a<b<c) materialize exactly once
    as wedge (a→b, b→c) closed by (a→c).

    ``orient="degree"`` orders nodes by (degree, id) — the standard
    trick that bounds the wedge join's fan-out by the graph's
    degeneracy instead of its max degree: a celebrity node with 10M
    neighbors generates wedges only from the few HIGHER-degree nodes,
    not 10M² pairs. This is the difference between hours and minutes
    on a power-law graph at scale. ``orient="id"`` keeps plain id
    ordering (deterministic, and exactly mirrorable in short SQL —
    the oracle's choice).

    ``closing`` picks the plan for the join that closes each wedge:
    ``"broadcast"`` builds the oriented edge list as a broadcast hash
    relation (the wedge stream — the Σ deg² side that dominates —
    stays pipelined, no shuffle/sort/spill; r11's measured winner),
    ``"shuffle"`` sort-merges in ONE job (no edge-list memory ceiling,
    but the whole wedge stream lands on shuffle disk at once — the
    r12 100× stress died there), ``"chunked"`` hash-buckets the wedge
    middle node into ``closing_chunks`` bounded enumerate+close jobs
    (``"auto"`` sizes k from Σ in(b)·out(b) / ``chunk_wedge_budget``),
    releasing each finished chunk's shuffle files so peak disk is
    ~Σ/k instead of Σ — counts are bit-identical (each triangle is
    counted in exactly the chunk owning its wedge middle; integer
    partial sums are associative). The default ``closing="auto"``
    counts the (checkpointed) oriented list and broadcasts iff it is
    ≤ ``auto_broadcast_max_edges``, degrading to the CHUNKED plan
    beyond the broadcast ceiling — bounded memory AND bounded disk
    (r12 #3: the shuffle fallback "worked" only below the disk wall).

    Returns (node, n_triangles), nodes in ≥1 triangle.
    """
    # Canonicalize in ONE pass: least/greatest + a single distinct
    # yields exactly one row per undirected edge. (The old chain —
    # distinct → union(reverse) → filter/distinct — deduped the edge
    # list twice and doubled the union input; worse, the whole
    # edge-construction pipeline upstream of `edges` was re-COMPILED
    # under each of the three join branches because the per-branch
    # filter pushdown left structurally different subtrees that
    # ReusedExchange never matched: the r13 before-plan shows the
    # lineitem self-join planned 3× plus a 4th full recompute for the
    # auto-sizing count — 8 parquet scans for one operator.)
    canon = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .select(
            F.least("u", "v").alias("u"),
            F.greatest("u", "v").alias("v"),
        )
        .distinct()
    )
    if orient == "degree":
        # True undirected degree off the canonical list; each edge is
        # then FLIPPED in place (a 1:1 projection — no union, no
        # second distinct) to point up the (degree, id) order.
        deg = canon.select(
            F.explode(F.array("u", "v")).alias("_n")
        ).groupBy("_n").agg(F.count(F.lit(1)).alias("deg"))
        du = deg.select(
            F.col("_n").alias("_nu"), F.col("deg").alias("deg_u")
        )
        dv = deg.select(
            F.col("_n").alias("_nv"), F.col("deg").alias("deg_v")
        )
        up = (F.col("deg_u") < F.col("deg_v")) | (
            (F.col("deg_u") == F.col("deg_v")) & (F.col("u") < F.col("v"))
        )
        oriented = (
            canon.join(du, canon["u"] == du["_nu"])
            .join(dv, canon["v"] == dv["_nv"])
            .select(
                F.when(up, F.col("u")).otherwise(F.col("v")).alias("u"),
                F.when(up, F.col("v")).otherwise(F.col("u")).alias("v"),
            )
        )
    elif orient == "id":
        oriented = canon  # least < greatest already
    else:
        raise ValueError(f"unknown orient {orient!r}")
    # Materialize the oriented list ONCE: it feeds both wedge-join
    # sides, the closing side, and (under auto) the sizing count —
    # without the cut each consumer re-runs the full edge build.
    # Join strategy no longer leans on Catalyst statistics (both
    # broadcast-arm joins carry explicit hints below), so the
    # checkpoint's stats erasure costs nothing.
    oriented = cut_lineage(oriented)
    # The checkpointed partitioning also FIXES the wedge-enumeration
    # stage's task count, and per-partition work downstream is Σ deg²
    # — orders of magnitude over the edge bytes AQE's coalescing sized
    # the partitions for — so guarantee at least one task per core
    # (scale-adaptive: defaultParallelism, not a constant). Checked
    # AFTER the cut: .rdd on an unmaterialized AQE plan would execute
    # the whole build; on the checkpointed frame it is metadata, and
    # the corrective repartition+cut moves only edge-sized rows.
    min_parts = oriented.sparkSession.sparkContext.defaultParallelism
    if oriented.rdd.getNumPartitions() < min_parts:
        oriented = cut_lineage(oriented.repartition(min_parts))
    if closing == "auto":
        # Size-based plan choice (r11 advice: an unconditional
        # broadcast hint turns "slow but working" into a hard failure
        # once the oriented edge list outgrows the broadcast limit).
        # The count reads the checkpointed blocks — near-free.
        n_edges = oriented.count()
        closing = (
            "broadcast"
            if n_edges
            <= _auto_broadcast_cap(
                oriented.sparkSession, auto_broadcast_max_edges
            )
            else "chunked"
        )
    ab = oriented.select(F.col("u").alias("a"), F.col("v").alias("b"))
    bc = oriented.select(F.col("u").alias("b"), F.col("v").alias("c"))
    ac = oriented.select(F.col("u").alias("a"), F.col("v").alias("c"))
    if closing == "chunked":
        return _triangles_chunked(
            oriented, ab, bc, ac, closing_chunks, chunk_wedge_budget
        )
    # Closing join: the probe side is the WEDGE STREAM (Σ deg² rows —
    # orders of magnitude over the edge list on dense graphs), the
    # build side the ORIENTED EDGE LIST. Broadcasting the edge list
    # keeps the wedge stream pipelined in its producing stage — no
    # shuffle, no sort, no spill of the stream that dominates the
    # operator. Under the broadcast arm the WEDGE join's build side
    # (bc) is the same edge-list-sized relation, so it carries the
    # same explicit hint: the whole enumeration becomes one pipelined
    # stage (scan cached edges → BHJ → BHJ → explode → partial agg)
    # with a single Exchange at the final rollup, where the old plan
    # sort-merged the wedge join (2 exchanges + sorts of the edge
    # list). At a scale where the oriented edge list outgrows
    # executor memory, ``closing="auto"`` counts the checkpointed
    # list and falls back to the sort-merge closing join above the
    # memory-capped ``auto_broadcast_max_edges`` (size
    # spark.sql.shuffle.partitions to the wedge volume there); a
    # bloom prefilter of wedges is the usual middle path on sparse
    # graphs. Both closings are parity-asserted and stress-measured
    # (SCALE.md round-12).
    if closing not in ("broadcast", "shuffle"):
        raise ValueError(f"unknown closing {closing!r}")
    tri = (
        ab.join(F.broadcast(bc), "b")
        .join(F.broadcast(ac), ["a", "c"])  # closing edge
        if closing == "broadcast"
        else ab.join(bc, "b").join(ac, ["a", "c"])
    ).select("a", "b", "c")
    # ONE enumeration: each triangle contributes its three corners
    # via an explode — the union-of-three-projections formulation
    # recomputed the entire two-join enumeration per branch (3× the
    # dominant cost at every scale).
    per_node = (
        tri.select(
            F.explode(F.array("a", "b", "c")).alias("node")
        )
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles"))
    )
    return per_node


def _jvm_gc_hint(spark) -> None:
    """Ask the driver JVM for a GC, best effort. Sessions without a
    py4j gateway (Spark Connect) have no ``_jvm`` and skip the hint."""
    jvm = getattr(spark, "_jvm", None)
    if jvm is not None:
        jvm.System.gc()


def _triangles_chunked(
    oriented: DataFrame,
    ab: DataFrame,
    bc: DataFrame,
    ac: DataFrame,
    chunks: int | str,
    wedge_budget: int,
) -> DataFrame:
    """The bounded-disk closing plan (r12 verdict #3): k hash-buckets
    of the wedge MIDDLE node b, a union of k bounded enumerate+close
    jobs.

    The plain shuffle closing materializes the whole wedge stream —
    Σ_b in(b)·out(b) rows over the oriented orientation — to shuffle
    disk in one job; past ~1e10 wedges that outgrows a node's disk
    before it outgrows its patience. Chunk i enumerates only wedges
    whose middle hashes to i (both wedge-join sides filter the same
    checkpointed edge list — reading cached blocks, not re-scanning),
    closes them against the full edge list, and folds to per-node
    partial counts (node-sized, localCheckpointed). Finished chunks'
    shuffle files are unreferenced once the partial is checkpointed;
    a System.gc() nudges ContextCleaner to delete them before the
    next chunk starts, so peak shuffle footprint is ~Σ/k plus one
    edge-list re-shuffle per chunk (the deliberate overhead: k·E edge
    rows ≪ Σ wedge rows whenever chunking is needed at all).

    Exactness: every triangle (a,b,c) over oriented edges a→b, b→c,
    a→c is enumerated in exactly the chunk owning hash(b) — the
    chunks partition the wedge space — and integer partial counts sum
    associatively, so the result is bit-identical to the broadcast
    and shuffle closings (parity-tested in tests/test_graph.py).
    """
    spark = oriented.sparkSession
    if chunks == "auto":
        # Σ in(b)·out(b) from two node-sized degree aggregates over
        # the checkpointed list — the exact wedge volume, not a bound.
        ind = oriented.groupBy(F.col("v").alias("_b")).agg(
            F.count(F.lit(1)).alias("_in")
        )
        outd = oriented.groupBy(F.col("u").alias("_b")).agg(
            F.count(F.lit(1)).alias("_out")
        )
        row = (
            ind.join(outd, "_b")
            .select((F.col("_in") * F.col("_out")).alias("_w"))
            .agg(F.sum("_w").alias("wedges"))
            .collect()[0]
        )
        n_wedges = int(row["wedges"] or 0)
        chunks = max(1, -(-n_wedges // wedge_budget))  # ceil div
    k = int(chunks)
    if k < 1:
        raise ValueError(f"closing_chunks must be >= 1: {k}")
    partials = []
    for i in range(k):
        spark.sparkContext.setJobDescription(
            f"triangles: chunked closing {i + 1}/{k}"
        )
        ab_i = ab.filter(F.pmod(F.xxhash64(F.col("b")), F.lit(k)) == i)
        bc_i = bc.filter(F.pmod(F.xxhash64(F.col("b")), F.lit(k)) == i)
        tri_i = (
            ab_i.join(bc_i, "b").join(ac, ["a", "c"]).select("a", "b", "c")
        )
        per_i = (
            tri_i.select(
                F.explode(F.array("a", "b", "c")).alias("node")
            )
            .groupBy("node")
            .agg(F.count(F.lit(1)).cast("bigint").alias("t"))
        )
        partials.append(cut_lineage(per_i))
        # Chunk i's shuffle dependencies are unreachable now that the
        # partial is checkpointed — collect so ContextCleaner frees
        # the shuffle files before chunk i+1 allocates its own.
        _jvm_gc_hint(spark)
    spark.sparkContext.setJobDescription(None)
    merged = partials[0]
    for p in partials[1:]:
        merged = merged.unionAll(p)
    return merged.groupBy("node").agg(
        F.sum("t").cast("bigint").alias("n_triangles")
    )
